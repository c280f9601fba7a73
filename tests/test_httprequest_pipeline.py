"""HTTPRequest pipeline assembly: toggled heuristics over one parsed
stream -> flattened alerts (the reference's flagship DAG, §3.1)."""

import datetime
import itertools
import json
import re
from collections import Counter
from functools import reduce

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from foxsec_pipeline_spark.alert.model import to_alerts
from foxsec_pipeline_spark.operators import (
    error_rate_analysis,
    hard_limit_analysis,
    threshold_analysis,
    ua_blocklist_analysis,
)
from foxsec_pipeline_spark.parser.parse import ParserCfg, parse_events
from foxsec_pipeline_spark.plans.httprequest_pipeline import (
    HTTPRequestToggles,
    assemble_httprequest,
)
from foxsec_pipeline_spark.schema import NORMALIZED_HTTP_REQUEST
from foxsec_pipeline_spark.sources.input import InputElement, InputSpec


def _glb(second: int, ip: str, status: int = 200, ua: str = "ok-agent"):
    return json.dumps(
        {
            "timestamp": f"1970-01-01T00:00:{second:02d}.000Z",
            "resource": {"labels": {"project_id": "p"}},
            "jsonPayload": {"@type": "type.googleapis.com/google.cloud"
                            ".loadbalancing.type.LoadBalancerLogEntry"},
            "httpRequest": {
                "remoteIp": ip,
                "requestMethod": "GET",
                "requestUrl": "https://h.example.com/x",
                "status": status,
                "userAgent": ua,
            },
        }
    )


def test_assembled_pipeline_multi_leg(spark):
    lines = (
        # 10.0.0.1: 12 client errors in the minute -> error_rate leg
        [_glb(s, "10.0.0.1", status=404) for s in range(12)]
        # 10.0.0.2: 25 requests -> hard_limit leg (limit 20)
        + [_glb(s, "10.0.0.2") for s in range(25)]
        # 10.0.0.3: blocklisted UA -> ua_blocklist leg
        + [_glb(40, "10.0.0.3", ua="sqlmap/1.7")]
    )
    raw = spark.createDataFrame([Row(value=ln) for ln in lines])
    events = parse_events(raw, ParserCfg(), now="1970-01-01 00:05:00")

    toggles = HTTPRequestToggles(
        enable_hard_limit_analysis=True,
        enable_error_rate_analysis=True,
        enable_ua_blocklist_analysis=True,
        hard_limit_count=20,
        max_client_errors=10,
        ua_blocklist=["sqlmap"],
    )
    alerts = assemble_httprequest(events.cache(), toggles,
                                  monitored_resource="svc-a")
    rows = alerts.collect()
    by_sub = {}
    for r in rows:
        by_sub.setdefault(r.subcategory, []).append(r)

    assert set(by_sub) == {"hard_limit", "error_rate", "ua_blocklist"}
    assert by_sub["error_rate"][0].metadata["source_address"] == "10.0.0.1"
    assert by_sub["hard_limit"][0].metadata["source_address"] == "10.0.0.2"
    assert by_sub["ua_blocklist"][0].metadata["source_address"] == "10.0.0.3"
    assert all(r.category == "httprequest" for r in rows)
    assert all(r.metadata["monitored_resource"] == "svc-a" for r in rows)
    # alert schema is uniform across legs (unionByName contract)
    assert alerts.columns == [
        "alert_id", "timestamp", "category", "subcategory", "severity",
        "summary", "notify_merge", "metadata",
    ]


def test_assembled_pipeline_requires_a_leg(spark):
    df = spark.range(1)
    with pytest.raises(ValueError):
        assemble_httprequest(df, HTTPRequestToggles())


# ---- fused fixed-window legs vs the standalone operators

_EVENT_SCHEMA = T.StructType([
    T.StructField("timestamp", T.TimestampType()),
    T.StructField("source_address", T.StringType()),
    T.StructField("request_status", T.IntegerType()),
    T.StructField("user_agent", T.StringType()),
])
_FIXED_LEGS = ("hard_limit", "error_rate", "ua_blocklist")
_EDGE_TOGGLES = dict(
    hard_limit_count=6, max_client_errors=2, ua_blocklist=["sqlmap", "nikto"],
    threshold_modifier=1.3,
)


def _ts(minute: int, second: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1, 0, minute, second)


def _edge_events(spark):
    """Rows at the edges of each fixed-window leg's condition."""
    rows = (
        # 10.0.0.1: statuses 400, 499, 404 count; 399, 500 and null do not
        [(_ts(0, s), "10.0.0.1", st, "ok-agent")
         for s, st in enumerate([400, 499, 404, 399, 500, None])]
        # 10.0.0.2: exactly hard_limit_count requests (not over the limit)
        + [(_ts(0, s), "10.0.0.2", 200, "ok-agent") for s in range(6)]
        # 10.0.0.3: one over the limit, all statuses 400
        + [(_ts(0, s), "10.0.0.3", 400, "ok-agent") for s in range(7)]
        # 10.0.0.4: one agent matching both patterns, another matching
        # one, and a null agent
        + [(_ts(0, 1), "10.0.0.4", 200, "sqlmap/1.7 (nikto)"),
           (_ts(0, 2), "10.0.0.4", 200, "nikto/2.5"),
           (_ts(0, 3), "10.0.0.4", 200, None)]
        # null source address: over every limit
        + [(_ts(0, s), None, 404, "sqlmap/1.0") for s in range(8)]
        # the next window: only 10.0.0.1, quietly
        + [(_ts(1, s), "10.0.0.1", 200, None) for s in range(2)]
    )
    return spark.createDataFrame(rows, _EVENT_SCHEMA)


def _union_reference(events, tg, monitored_resource):
    """The pre-fusion form: one standalone-operator leg per enabled
    heuristic, each through `to_alerts`, flattened by `unionByName`."""
    key = F.col("source_address")
    legs = []

    def add(df, subcategory, prefix):
        legs.append(
            to_alerts(df, category="httprequest", subcategory=subcategory,
                      severity="warn", summary=F.concat(F.lit(prefix), key),
                      timestamp_col="window_start")
            .withColumn("metadata", F.map_concat("metadata", F.create_map(
                F.lit("monitored_resource"), F.lit(monitored_resource)))))

    kw = dict(key="source_address", ts="timestamp", duration=tg.window)
    if tg.enable_threshold_analysis:
        add(threshold_analysis(events, required_minimum_average=tg.required_minimum_average,
                               threshold_modifier=tg.threshold_modifier, **kw),
            "threshold_analysis", "threshold exceeded for ")
    if tg.enable_hard_limit_analysis:
        add(hard_limit_analysis(events, max_count=tg.hard_limit_count, **kw),
            "hard_limit", "hard limit from ")
    if tg.enable_error_rate_analysis:
        add(error_rate_analysis(events, error_predicate=F.col("request_status")
                                .between(400, 499),
                                max_errors=tg.max_client_errors, **kw),
            "error_rate", "error rate from ")
    if tg.enable_ua_blocklist_analysis:
        add(ua_blocklist_analysis(events, ua_col="user_agent", patterns=tg.ua_blocklist,
                                  **kw),
            "ua_blocklist", "blocklisted agent from ")
    return reduce(lambda a, b: a.unionByName(b), legs)


def _alert_texts(alerts, tag: str | None = None) -> list:
    """(tag, alert as JSON text without `alert_id` and the tag) rows;
    the JSON keeps the metadata map's key order."""
    cols = [c for c in alerts.columns if c not in ("alert_id", tag)]
    return [tuple(r) for r in alerts.select(
        F.col(tag) if tag else F.lit(None), F.to_json(F.struct(*cols))).collect()]


@pytest.mark.parametrize("threshold", [False, True])
def test_fused_legs_match_standalone_operators(spark, threshold):
    """Each subset of the fixed legs against the union of its standalone
    legs. The legs are independent, so a subset's union is the rows of
    the all-legs union from its legs; the fused subsets run tagged in
    one union, so the comparison costs two jobs."""
    events = _edge_events(spark).cache()
    subsets = [s for n in range(len(_FIXED_LEGS) + 1)
               for s in itertools.combinations(_FIXED_LEGS, n)]
    if not threshold:
        subsets.remove(())

    def toggles(legs):
        return HTTPRequestToggles(
            enable_threshold_analysis=threshold,
            **{f"enable_{leg}_analysis": leg in legs for leg in _FIXED_LEGS},
            **_EDGE_TOGGLES)

    fused = reduce(lambda a, b: a.unionByName(b), [
        assemble_httprequest(events, toggles(subset), monitored_resource="svc-a")
        .withColumn("subset", F.lit(",".join(subset))) for subset in subsets])
    got = Counter(_alert_texts(fused, "subset"))
    reference = _alert_texts(_union_reference(events, toggles(_FIXED_LEGS), "svc-a"))
    events.unpersist()
    want = Counter()
    for subset in subsets:
        for _, text in reference:
            if json.loads(text)["subcategory"] in subset + ("threshold_analysis",):
                want[(",".join(subset), text)] += 1
    assert got == want
    # the edge rows make every leg fire, including for the null key
    fired = {json.loads(t)["subcategory"] for _, t in reference}
    assert fired == set(_FIXED_LEGS) | ({"threshold_analysis"} if threshold else set())
    assert any("summary" not in json.loads(t) for _, t in reference)


def test_fused_legs_edge_rows(spark):
    tg = HTTPRequestToggles(enable_hard_limit_analysis=True,
                            enable_error_rate_analysis=True,
                            enable_ua_blocklist_analysis=True, **_EDGE_TOGGLES)
    rows = assemble_httprequest(_edge_events(spark), tg).collect()
    got = {(r.subcategory, r.metadata["source_address"]): r.metadata for r in rows}
    assert set(got) == {
        ("hard_limit", "10.0.0.3"), ("hard_limit", None),
        ("error_rate", "10.0.0.1"), ("error_rate", "10.0.0.3"), ("error_rate", None),
        ("ua_blocklist", "10.0.0.4"), ("ua_blocklist", None),
    }
    assert got[("error_rate", "10.0.0.1")]["error_count"] == "3"
    assert got[("ua_blocklist", "10.0.0.4")]["n_matched"] == "2"
    assert got[("ua_blocklist", "10.0.0.4")]["sample_user_agent"] == "nikto/2.5"


def test_fused_legs_plan_has_one_exchange(spark):
    tg = HTTPRequestToggles(enable_hard_limit_analysis=True,
                            enable_error_rate_analysis=True,
                            enable_ua_blocklist_analysis=True, **_EDGE_TOGGLES)
    lines = spark.createDataFrame(
        [Row(value=_glb(s, "10.0.0.1", status=404)) for s in range(3)])
    events = parse_events(lines, ParserCfg(), now="1970-01-01 00:05:00")
    plan = assemble_httprequest(events, tg)._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bExchange\b", plan)) == 1


def test_session_limit_leg(spark):
    rows = ([(_ts(0, s), "10.0.0.9", 200, "ok-agent") for s in range(0, 60, 10)]
            + [(_ts(0, s), "10.0.0.8", 200, "ok-agent") for s in range(3)])
    tg = HTTPRequestToggles(enable_session_limit_analysis=True, session_limit_count=5,
                            enable_hard_limit_analysis=True, hard_limit_count=5)
    alerts = assemble_httprequest(spark.createDataFrame(rows, _EVENT_SCHEMA), tg,
                                  monitored_resource="svc-b").collect()
    by_sub = {r.subcategory: r for r in alerts}
    assert sorted(by_sub) == ["hard_limit", "session_limit"]
    s = by_sub["session_limit"]
    assert s.timestamp == _ts(0, 0)
    assert s.summary == "session volume from 10.0.0.9"
    assert s.metadata == {"source_address": "10.0.0.9", "n_events": "6",
                          "monitored_resource": "svc-b"}


def test_streaming_pipeline_matches_batch_in_one_scan(spark, tmp_path):
    """Streaming file source -> parser -> watermark -> pipeline: one
    source scan and one state store per micro-batch, and the sink's
    alerts equal the batch twin's."""
    in_dir, ckpt = tmp_path / "in", tmp_path / "ckpt"
    in_dir.mkdir()
    files = [
        [_glb(s, "10.0.0.1", status=404) for s in range(12)]
        + [_glb(s, "10.0.0.3", ua="sqlmap/1.7") for s in range(2)],
        [_glb(s, "10.0.0.2") for s in range(25)]
        + ["not a log line"],
        # the closing line: far ahead in event time, it closes every window
        [_glb(0, "10.0.0.9").replace("1970-01-01T00:00:00", "1970-01-01T02:00:00")],
    ]
    for i, lines in enumerate(files):
        (in_dir / f"{i}.json").write_text("\n".join(lines) + "\n")
    tg = HTTPRequestToggles(
        enable_hard_limit_analysis=True, enable_error_rate_analysis=True,
        enable_ua_blocklist_analysis=True, hard_limit_count=20, max_client_errors=10,
        ua_blocklist=["sqlmap"])

    def events(streaming):
        spec = InputSpec([InputElement("http", path=str(in_dir), fmt="text")])
        return spec.read_parsed(spark, streaming=streaming).where(
            F.col("normalized_type") == NORMALIZED_HTTP_REQUEST)

    got = []
    query = (assemble_httprequest(events(True).withWatermark("timestamp", "1 minute"), tg)
             .writeStream
             .foreachBatch(lambda df, _: got.extend(_alert_texts(df)))
             .option("checkpointLocation", str(ckpt))
             .trigger(availableNow=True).start())
    query.awaitTermination(120)
    progress = query.recentProgress
    query.stop()

    # the batch twin parses once with every column cached: a pruned
    # batch parse plan costs seconds of code generation on its own
    batch = events(False).cache()
    want = Counter(_alert_texts(assemble_httprequest(batch, tg)))
    batch.unpersist()
    assert sorted(json.loads(t)["subcategory"] for _, t in want) == [
        "error_rate", "hard_limit", "ua_blocklist"]
    assert Counter(got) == want
    # one source scan and one state store
    assert sum(p["numInputRows"] for p in progress) == sum(map(len, files))
    assert len(progress[-1]["stateOperators"]) == 1
