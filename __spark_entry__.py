"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

The driver records only the first 50 rows of ``queries()``, so their
order decides what gets re-checked. That order (``_VERIFY_FIRST``) is
computed by ``verify_order`` from the committed
``CORRECTNESS_r<N>.json`` files in this module's directory, using each
query's latest row:

1. ``_CHANGED`` (the queries whose code the current change touches);
2. queries never checked;
3. queries whose latest row is red;
4. green queries, oldest latest round first.

Ties keep registry order; with no artifacts the order is registry
order.

The real surface lives in ``foxsec_pipeline_spark.plans.catalog``;
this module is a thin adapter.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable, Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from foxsec_pipeline_spark.plans.catalog import registry  # noqa: E402

# Queries whose code the current change touches: they lead the order
# whatever their latest row says. Reset this list in every change.
_CHANGED = [
    "split_leakage_check", "dedup_clusters", "cluster_canonical_docs",
]


def latest_rows(artifact_dir: str = _HERE) -> dict[str, tuple[int, bool]]:
    """{query: (round, green)} of each query's latest row across the
    CORRECTNESS_r<N>.json files in ``artifact_dir``."""
    by_round = []
    for path in glob.glob(os.path.join(artifact_dir, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m is not None:
            by_round.append((int(m.group(1)), path))
    latest: dict[str, tuple[int, bool]] = {}
    for rnd, path in sorted(by_round):
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            green = all(
                row.get(k) for k in ("rows_match", "schema_match", "hash_match")
            )
            latest[name] = (rnd, green)
    return latest


def verify_order(
    names: Iterable[str],
    latest: Mapping[str, tuple[int, bool]],
    changed: Iterable[str] = (),
) -> list[str]:
    """Every name in ``names`` (registry order), ordered by the rule in
    the module docstring."""
    names = list(names)
    head = list(dict.fromkeys(changed))
    unknown = [n for n in head if n not in set(names)]
    if unknown:
        raise ValueError(f"changed queries not in the registry: {unknown}")

    def rank(n: str) -> tuple[int, int]:
        if n not in latest:
            return (0, 0)
        rnd, green = latest[n]
        return (2, rnd) if green else (1, 0)

    # sorted() is stable, so equal ranks keep registry order
    return head + sorted((n for n in names if n not in set(head)), key=rank)


def _verify_first() -> list[str]:
    return verify_order(registry(), latest_rows(), _CHANGED)


def __getattr__(name: str):
    # `_VERIFY_FIRST` is computed on access, so importing this module
    # reads no artifact files
    if name == "_VERIFY_FIRST":
        return _verify_first()
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


def _ordered():
    reg = registry()
    return {n: reg[n] for n in _verify_first()}


def _configure(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # NTZ parquet timestamps are cast to TIMESTAMP under the SESSION
    # timezone (load_tables); pin UTC so a driver-built session matches
    # the DuckDB oracle's naive-UTC reading regardless of machine tz
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: session analysis —
    the heart of the reference's heuristics (per-key session windows
    with inactivity gap) as one declarative Spark plan."""
    _configure(spark)
    spec = registry()["session_analysis"]
    return spec.fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""

    def _wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _configure(spark)
            return fn(spark, sf_dir)

        return run

    return {name: _wrap(spec.fn) for name, spec in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query (omitted entries
    fall back to the driver's rows-only check)."""
    return {
        name: spec.oracle.strip()
        for name, spec in _ordered().items()
        if spec.oracle is not None
    }
