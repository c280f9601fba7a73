"""The catalog workloads ``detect_batch`` and ``corpus_batch``.

A closed loop with one caller: each query of the workload's fixed list
runs once, in name order, in one fresh process. The inputs are fixed
tables, so the seed changes nothing here: new tables per seed would need
new DuckDB oracle answers on every run, and a seed-shuffled order only
moved JIT warm-up cost between queries (about 10% run-to-run spread in
``total_s``). A query's wall time is its plan build
(``registry()[q].fn``, eager jobs included) plus the full
materialization of its result with ``toPandas``, the same rows the
oracle check then compares. Warm-up before the timed loop only
reads the workload's tables, runs an unrelated plan and starts the Python
workers; it runs once, so ``setup_s`` is the cold time from process
start to the first query.
"""

from __future__ import annotations

import gc
import os
import time

from pyspark.sql import Window
from pyspark.sql import functions as F

from common import (WORK, group_job_ids, job_stats, spark_layer, start_spark,
                    wait_listener_bus)
from foxsec_pipeline_spark.plans.catalog import registry
from foxsec_pipeline_spark.session import load_tables
from oracle import OracleCache, canonicalize, same_rows
from queries import ROADMAP_TARGETS
from tables import ensure_tables

LAYERS = (
    "session.get_spark_s", "session.load_tables_s", "plans.build_s",
    "plans.eager_jobs", "plans.eager_s", "action.s", "action.jobs",
    "spark.jobs", "spark.stages", "spark.executor_run_s", "spark.executor_cpu_s",
    "spark.cpu_busy_ratio", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.input_bytes",
)


def layers(names) -> tuple[str, ...]:
    """The per-layer metrics a traced run over ``names`` produces."""
    return LAYERS + tuple(f"q.{n}.s" for n in ROADMAP_TARGETS if n in names)


def _warm(spark, data_dir: str, tables) -> float:
    """Set-up: load and fully read the workload's tables, compile a generic
    window/join/aggregate plan and start the Python workers. Returns the
    load_tables time."""
    t0 = time.monotonic()
    dfs = load_tables(spark, data_dir, *tables)
    load_s = time.monotonic() - t0
    for df in dfs.values():
        df.selectExpr("max(xxhash64(to_json(struct(*))))").collect()
    r = spark.range(100).select(
        "id", (F.col("id") % 7).alias("k"),
        F.concat(F.lit("n"), (F.col("id") % 13).cast("string")).alias("s"))
    (r.withColumn("rn", F.row_number().over(Window.partitionBy("k").orderBy("id")))
     .join(F.broadcast(r.groupBy("k").agg(F.count("*").alias("c"))), "k")
     .withColumn("d", F.levenshtein("s", F.lit("n1")))
     .agg(F.sum("d"), F.max("rn"), F.max("c")).collect())

    def identity(batches):  # nested, so workers receive it by value
        yield from batches

    n = spark.sparkContext.defaultParallelism
    spark.range(n * 10).repartition(n).mapInPandas(identity, "id long").collect()
    return load_s


def run(names: tuple[str, ...], tables: tuple[str, ...], tracer, clock) -> dict:
    data_dir = os.path.join(WORK, "tables")
    with clock.excluded():
        ensure_tables(data_dir)
    t0 = time.monotonic()
    spark = start_spark()
    get_spark_s = time.monotonic() - t0
    reg = registry()
    with tracer.span("setup.warm"):
        load_s = _warm(spark, data_dir, tables)
    setup_s = clock.since_start()
    sc = spark.sparkContext

    order = list(names)
    walls: dict[str, float] = {}
    builds: dict[str, float] = {}
    outputs: dict[str, object] = {}
    errors: dict[str, str] = {}
    for name in order:
        spec = reg[name]
        try:
            with tracer.span("query", trace=name):
                if tracer.enabled:
                    sc.setJobGroup(f"build:{name}", name)
                t0 = time.monotonic()
                with tracer.span("plans.build", trace=name):
                    df = spec.fn(spark, data_dir)
                t1 = time.monotonic()
                if tracer.enabled:
                    sc.setJobGroup(f"action:{name}", name)
                with tracer.span("action", trace=name):
                    pdf = df.toPandas()
                t2 = time.monotonic()
        except Exception as e:  # a failing query is counted, the loop goes on
            errors[name] = repr(e)[:500]
            continue
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        builds[name] = t1 - t0
        walls[name] = t2 - t0
        outputs[name] = pdf
        del df
        spark.catalog.clearCache()
        gc.collect()

    # correctness, outside every timed region
    cache = OracleCache(os.path.join(WORK, "oracle"), data_dir, tables)
    mismatched = []
    for name, pdf in outputs.items():
        if not same_rows(canonicalize(pdf), cache.answer(name, reg[name].oracle)):
            mismatched.append(name)
    cache.close()

    total_s = sum(walls.values())
    e2e = {
        "setup_s": setup_s,
        "total_s": total_s,
        "capacity_per_s": len(walls) / total_s if walls else 0.0,
    }
    detail = {
        "queries": {n: {"wall_s": walls[n], "build_s": builds[n], "rows": len(outputs[n])}
                    for n in walls},
        "order": order, "errors": errors, "mismatched": mismatched,
        "oracle_misses": cache.misses,
    }
    layer = {}
    if tracer.enabled:
        wait_listener_bus(spark)
        build_jobs = [j for n in walls for j in group_job_ids(spark, f"build:{n}")]
        action_jobs = [j for n in walls for j in group_job_ids(spark, f"action:{n}")]
        eager = job_stats(spark, build_jobs)
        action = job_stats(spark, action_jobs)
        both = job_stats(spark, build_jobs + action_jobs)
        layer = {
            "session.get_spark_s": (get_spark_s, "s"),
            "session.load_tables_s": (load_s, "s"),
            "plans.build_s": (sum(builds.values()), "s"),
            "plans.eager_jobs": (eager["jobs"], "count"),
            "plans.eager_s": (eager["job_wall_s"], "s"),
            "action.s": (total_s - sum(builds.values()), "s"),
            "action.jobs": (action["jobs"], "count"),
            **spark_layer(both, total_s, sc.defaultParallelism),
        }
        for n in ROADMAP_TARGETS:
            if n in walls:
                layer[f"q.{n}.s"] = (walls[n], "s")
        detail["per_query_jobs"] = {
            n: {"eager": job_stats(spark, group_job_ids(spark, f"build:{n}")),
                "action": job_stats(spark, group_job_ids(spark, f"action:{n}"))}
            for n in walls}
    return {
        "attempted": len(names),
        "failed": len(errors) + len(mismatched),
        "e2e": e2e,
        "layer": layer,
        "detail": detail,
    }
