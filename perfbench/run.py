"""Benchmark entry point.

    python3 perfbench/run.py --workload {http_stream,detect_batch,corpus_batch}
        --seed N --seconds S --trace {0,1}

Runs one workload in this fresh process and prints, as the last line of
standard output, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. With ``--trace 0`` the metrics are the end-to-end
metrics; with ``--trace 1`` the run records spans and prints the
per-layer metrics instead. A summary line goes to standard error, and the
full record (stamp, every metric, per-query or per-batch detail, spans)
to ``.perfbench/results/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

from common import WORK, Clock, Tracer, configure_env, cpu_steal_s, cpus, stop_spark
from queries import ROADMAP_TARGETS

WORKLOADS = ("http_stream", "detect_batch", "corpus_batch")

END_TO_END = {
    "setup_s": "s",
    "total_s": "s",
    "capacity_per_s": "1/s",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.load_tables_s": "s",
    "sources.backlog_files_max": "count",
    "sources.get_batch_ms_p50": "ms",
    "parser.lines_per_s": "1/s",
    "parser.build_ms": "ms",
    "parser.raw_fallback_ratio": "ratio",
    "parser.scans_per_line": "ratio",
    "operators.httprequest_s": "s",
    "operators.hard_limit_s": "s",
    "operators.error_rate_s": "s",
    "operators.ua_blocklist_s": "s",
    "stream.trigger_ms_p50": "ms",
    "stream.query_planning_ms_p50": "ms",
    "stream.add_batch_ms_p50": "ms",
    "stream.wal_commit_ms_p50": "ms",
    "stream.sink_call_ms_p50": "ms",
    "stream.latency_p50_s": "s",
    "stream.latency_tail_s": "s",
    "stream.alert_delay_p50_s": "s",
    "streaming.state_rows_total": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.rows_dropped_by_watermark": "count",
    "sinks.write_batch_s": "s",
    "sinks.alerts_written": "count",
    "plans.build_s": "s",
    "plans.eager_jobs": "count",
    "plans.eager_s": "s",
    "action.s": "s",
    "action.jobs": "count",
    **{f"q.{n}.s": "s" for n in ROADMAP_TARGETS},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.cpu_busy_ratio": "ratio",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "gen.lateness_max_s": "s",
    "gen.lines_offered": "count",
    **{f"traced.{n}": u for n, u in END_TO_END.items()},
}


def _commit() -> str:
    root = os.path.dirname(WORK)
    # the ceiling keeps git from searching above the checkout for a repository
    env = {**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(root)}
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                             timeout=10, cwd=root, env=env)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def metrics_for(res: dict, trace: bool, produced=()) -> dict:
    """The printed metrics: every end-to-end metric untraced; traced,
    every per-layer metric. A traced run must return exactly the layer
    metrics in ``produced`` (the workload's own); the declared metrics of
    layers the workload does not use print as 0."""
    if not trace:
        return {n: {"value": res["e2e"][n], "unit": u} for n, u in END_TO_END.items()}
    layer = {n: v for n, (v, _) in res["layer"].items()}
    undeclared = sorted(set(layer) - set(PER_LAYER))
    missing = sorted(set(produced) - set(layer))
    extra = sorted(set(layer) - set(produced))
    if undeclared or missing or extra:
        raise ValueError(f"per-layer metrics: undeclared {undeclared}, "
                         f"missing {missing}, unexpected {extra}")
    layer.update({f"traced.{n}": v for n, v in res["e2e"].items()})
    return {n: {"value": layer.get(n, 0), "unit": u} for n, u in PER_LAYER.items()}


def main(argv=None) -> int:
    clock = Clock()
    ap = argparse.ArgumentParser(description="foxsec-spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    configure_env()
    load_before, steal_before = os.getloadavg(), cpu_steal_s()
    tracer = Tracer(bool(a.trace))
    try:
        if a.workload == "http_stream":
            import stream

            res = stream.run(a.seed, a.seconds, tracer, clock)
            produced = stream.LAYERS
        else:
            import batch
            import queries

            names, tables = ((queries.DETECT_BATCH, queries.DETECT_TABLES)
                             if a.workload == "detect_batch" else
                             (queries.CORPUS_BATCH, queries.CORPUS_TABLES))
            res = batch.run(names, tables, tracer, clock)
            produced = batch.layers(names)
        import pyspark

        spark_version = pyspark.__version__
    finally:
        stop_spark()
    correct = res["failed"] == 0 and res.get("correct_extra", True)
    metrics = metrics_for(res, bool(a.trace), produced)
    stamp = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
             "trace": a.trace, "nproc": cpus(), "load_before": load_before,
             "load_after": os.getloadavg(), "steal_s": cpu_steal_s() - steal_before,
             "spark_version": spark_version,
             "commit": _commit(), "finished": time.time()}
    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    base = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    with open(base + ".json", "w") as f:
        json.dump({"stamp": stamp, "correct": correct, "attempted": res["attempted"],
                   "failed": res["failed"], "metrics": metrics, "e2e": res["e2e"],
                   "layer": res["layer"], "detail": res["detail"]}, f, indent=1,
                  default=str)
    if a.trace:
        tracer.dump(base + ".spans.json")
    ratio = res["failed"] / res["attempted"]
    summary = " ".join(f"{n}={v['value']:.4g}[{v['unit']}]" for n, v in metrics.items()
                       if n in END_TO_END or n.startswith("traced."))
    print(f"# {a.workload} seed={a.seed} trace={a.trace} {summary} "
          f"failed_ops_ratio={ratio:.4g} ({res['failed']}/{res['attempted']}) "
          f"correct={correct} nproc={stamp['nproc']} load={load_before[0]:.2f}->"
          f"{stamp['load_after'][0]:.2f} steal_s={stamp['steal_s']:.2f} "
          f"spark={spark_version} commit={stamp['commit'][:12]} detail={base}.json",
          file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
