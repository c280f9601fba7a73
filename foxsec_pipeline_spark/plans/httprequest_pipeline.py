"""HTTPRequest pipeline assembly — the reference's flagship DAG as a
config-driven composition of heuristic operators.

Reference lifecycle (`httprequest/HTTPRequest.java:925-930, 853-889`,
toggles `HTTPRequestToggles.java`): a per-service toggle config
enables some of the 9 heuristics; each analyses the same parsed
HTTP_REQUEST stream (1-min fixed windows for the rate family, session
windows for the abuse family); alert legs are flattened into one
stream and formatted.

Spark shape. The fixed-window legs (hard_limit, error_rate,
ua_blocklist) share one `groupBy(window, key)` aggregate whose columns
serve every enabled leg: `count(1)`, a count of 4xx statuses, and the
blocklist-hit count with its smallest matching agent. One projection
builds an array holding one alert struct per leg whose condition fired;
`explode` turns it into alert rows. threshold_analysis (a stats join)
and session_limit_analysis (session windows) stay legs of their own,
flattened with `unionByName`.

Why not a union of the standalone operators: every leg of a union
plans its own scan of the input, so a streaming query reads and parses
each micro-batch once per leg, and each leg's aggregate keeps its own
state store. One aggregate reads the source once and commits one state
store per trigger. The standalone operators in `operators/heuristics.py`
stay as they are; the catalog queries and their oracles use them, and
the pipeline's tests check the fused form against their union.

The toggle config is the dataclass below — the HTTPRequestMultiMode
JSON maps onto it 1:1.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..alert.model import to_alerts
from ..operators import session_limit_analysis, threshold_analysis

CATEGORY = "httprequest"
SEVERITY = "warn"


@dataclass
class HTTPRequestToggles:
    """Per-service heuristic toggles (`HTTPRequestToggles.java`)."""

    enable_threshold_analysis: bool = False
    enable_hard_limit_analysis: bool = False
    enable_error_rate_analysis: bool = False
    enable_session_limit_analysis: bool = False
    enable_ua_blocklist_analysis: bool = False

    threshold_modifier: float = 75.0
    required_minimum_average: float = 1.0
    hard_limit_count: int = 100
    max_client_errors: int = 30
    session_gap: str = "45 minutes"
    session_limit_count: int = 100
    ua_blocklist: list[str] = field(default_factory=list)

    window: str = "1 minute"


def _meta(key: str, cols: list[str], monitored_resource: str) -> Column:
    """The alert metadata map: the key, the leg's figures, then the
    monitored resource — the order `to_alerts` + `map_concat` give."""
    pairs = [(c, F.col(c).cast("string")) for c in [key, *cols]]
    pairs.append(("monitored_resource", F.lit(monitored_resource).cast("string")))
    return F.create_map(*[x for name, v in pairs for x in (F.lit(name), v)])


def _fixed_window_alerts(
    events: DataFrame,
    toggles: HTTPRequestToggles,
    key: str,
    ts: str,
    status_col: str,
    ua_col: str,
    monitored_resource: str,
) -> DataFrame | None:
    """hard_limit, error_rate and ua_blocklist alerts from ONE
    `groupBy(window, key)`; None when none of them is enabled.

    Each enabled leg adds its aggregate columns and one
    `when(fired, struct(subcategory, summary, metadata))` element; the
    columns carry the metadata names of the standalone operators."""
    aggs: list[Column] = []
    fired: list[Column] = []

    def leg(subcategory: str, cond: Column, prefix: str, cols: list[str]):
        fired.append(F.when(cond, F.struct(
            F.lit(subcategory).alias("subcategory"),
            F.concat(F.lit(prefix), F.col(key)).alias("summary"),
            _meta(key, cols, monitored_resource).alias("metadata"),
        )))

    if toggles.enable_hard_limit_analysis:
        aggs.append(F.count(F.lit(1)).alias("count"))
        leg("hard_limit", F.col("count") > F.lit(int(toggles.hard_limit_count)),
            "hard limit from ", ["count"])
    if toggles.enable_error_rate_analysis:
        is_error = F.col(status_col).between(400, 499)
        aggs.append(F.count(F.when(is_error, 1)).alias("error_count"))
        leg("error_rate",
            F.col("error_count") > F.lit(int(toggles.max_client_errors)),
            "error rate from ", ["error_count"])
    if toggles.enable_ua_blocklist_analysis and toggles.ua_blocklist:
        ua_hit = reduce(lambda a, b: a | b,
                        [F.col(ua_col).rlike(p) for p in toggles.ua_blocklist])
        aggs += [F.count(F.when(ua_hit, 1)).alias("n_matched"),
                 F.min(F.when(ua_hit, F.col(ua_col))).alias("sample_user_agent")]
        leg("ua_blocklist", F.col("n_matched") > 0, "blocklisted agent from ",
            ["n_matched", "sample_user_agent"])
    if not aggs:
        return None

    return (
        events.groupBy(F.window(ts, toggles.window).alias("window"), F.col(key))
        .agg(*aggs)
        .select(
            F.col("window.start").alias("timestamp"),
            F.explode(F.filter(F.array(*fired), lambda a: a.isNotNull())).alias("a"),
        )
        .select(
            F.expr("uuid()").alias("alert_id"),
            "timestamp",
            F.lit(CATEGORY).alias("category"),
            "a.subcategory",
            F.lit(SEVERITY).alias("severity"),
            "a.summary",
            F.lit(None).cast("string").alias("notify_merge"),
            "a.metadata",
        )
    )


def assemble_httprequest(
    events: DataFrame,
    toggles: HTTPRequestToggles,
    key: str = "source_address",
    ts: str = "timestamp",
    status_col: str = "request_status",
    ua_col: str = "user_agent",
    monitored_resource: str = "default",
) -> DataFrame:
    """Build the enabled heuristic legs and flatten them into one
    alerts DataFrame (`HTTPRequest.java:182-385` expandInputMap +
    GlobalTriggers flatten)."""
    legs: list[DataFrame] = []

    def add(df: DataFrame, subcategory: str, summary: Column, ts_col: str):
        legs.append(
            to_alerts(
                df,
                category=CATEGORY,
                subcategory=subcategory,
                severity=SEVERITY,
                summary=summary,
                timestamp_col=ts_col,
            ).withColumn(
                "metadata",
                F.map_concat(
                    "metadata",
                    F.create_map(
                        F.lit("monitored_resource"), F.lit(monitored_resource)
                    ),
                ),
            )
        )

    if toggles.enable_threshold_analysis:
        hits = threshold_analysis(
            events, key=key, ts=ts, duration=toggles.window,
            required_minimum_average=toggles.required_minimum_average,
            threshold_modifier=toggles.threshold_modifier,
        )
        add(hits, "threshold_analysis",
            F.concat(F.lit("threshold exceeded for "), F.col(key)), "window_start")
    fixed = _fixed_window_alerts(events, toggles, key, ts, status_col, ua_col,
                                 monitored_resource)
    if fixed is not None:
        legs.append(fixed)
    if toggles.enable_session_limit_analysis:
        hits = session_limit_analysis(
            events, key=key, ts=ts, gap=toggles.session_gap,
            monitor=toggles.session_limit_count,
        )
        add(hits, "session_limit",
            F.concat(F.lit("session volume from "), F.col(key)), "first_ts")

    if not legs:
        raise ValueError("no heuristics enabled")
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out
