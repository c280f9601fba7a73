"""The ``http_stream`` workload: raw HTTP log lines to alerts, streaming.

An open loop. A separate generator process (``loadgen.py``) writes files
of raw lines into the input directory on a fixed schedule. The pipeline
is the engine's own composition::

    InputSpec.read_parsed(streaming=True)     # file source + parser
      -> HTTP_REQUEST events -> withWatermark
      -> assemble_httprequest(hard_limit, error_rate, ua_blocklist)
      -> CompositeOutput.stream_writer        # foreachBatch file sink

Phase 1 offers a fixed rate well below capacity and gives the latency
figures. Phase 2 offers a burst far above capacity; with the source
capped at a fixed size per trigger, it gives the capacity figure. A last
line far ahead in event time closes every window, and the sink's alerts
must then equal ``assemble_httprequest`` over the same lines in batch.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import time
from collections import Counter
from dataclasses import asdict, dataclass, field, replace

from pyspark.sql import functions as F

import loadgen
from common import (HERE, WORK, group_job_ids, job_stats, median, percentile,
                    spark_layer, start_spark, tail_percentile, wait_listener_bus)
from foxsec_pipeline_spark.alert.model import alerts_to_json
from foxsec_pipeline_spark.parser.parse import parse_events, parse_events_observed
from foxsec_pipeline_spark.plans.httprequest_pipeline import (HTTPRequestToggles,
                                                              assemble_httprequest)
from foxsec_pipeline_spark.schema import NORMALIZED_HTTP_REQUEST
from foxsec_pipeline_spark.sinks.output import CompositeOutput
from foxsec_pipeline_spark.sources.input import InputElement, InputSpec

WINDOW = "2 seconds"
WINDOW_S = 2.0
WATERMARK = "2 seconds"
WATERMARK_S = 2.0
MAX_LATE_S = 1.5           # out-of-order events stay inside the watermark delay
PHASE0_S = 2.0             # warm-up at the phase-1 rate, not measured
PHASE1_RATE = 400          # lines/s, well below capacity
INTERVAL_S = 0.1           # one phase-0/1 file every 100 ms
BURST_LINES = 24_000       # phase 2: about five full triggers ...
BURST_FILES = 24
BURST_S = 1.0              # ... offered within one second
MAX_BYTES_PER_TRIGGER = 2_000_000  # five phase-2 files, about 5,000 lines
WARM_LINES = 1000
DRAIN_TIMEOUT_S = 90.0

LAYERS = (
    "session.get_spark_s", "sources.backlog_files_max", "sources.get_batch_ms_p50",
    "parser.lines_per_s", "parser.build_ms", "parser.raw_fallback_ratio",
    "parser.scans_per_line", "operators.httprequest_s", "operators.hard_limit_s",
    "operators.error_rate_s", "operators.ua_blocklist_s", "stream.trigger_ms_p50",
    "stream.query_planning_ms_p50", "stream.add_batch_ms_p50", "stream.wal_commit_ms_p50",
    "stream.sink_call_ms_p50", "stream.latency_p50_s", "stream.latency_tail_s",
    "stream.alert_delay_p50_s", "streaming.state_rows_total",
    "streaming.state_memory_bytes", "streaming.rows_dropped_by_watermark",
    "sinks.write_batch_s", "sinks.alerts_written", "gen.lateness_max_s",
    "gen.lines_offered", "spark.jobs", "spark.stages", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.cpu_busy_ratio", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.input_bytes",
)


def toggles() -> HTTPRequestToggles:
    return HTTPRequestToggles(
        enable_hard_limit_analysis=True, hard_limit_count=100,
        enable_error_rate_analysis=True, max_client_errors=20,
        enable_ua_blocklist_analysis=True, ua_blocklist=list(loadgen.UA_BLOCKLIST),
        window=WINDOW,
    )


def http_events(parsed):
    return parsed.where(F.col("normalized_type") == NORMALIZED_HTTP_REQUEST)


@dataclass
class TimedOutput(CompositeOutput):
    """The pipeline's ``CompositeOutput`` with each ``write_batch`` call
    timed and the sink files it added recorded, one entry per call."""

    calls: list = field(default_factory=list)

    def write_batch(self, alerts) -> None:
        before = set(os.listdir(self.file_path)) if os.path.isdir(self.file_path) else set()
        t0 = time.time()
        super().write_batch(alerts)
        t1 = time.time()
        added = set(os.listdir(self.file_path)) - before
        self.calls.append({"start": t0, "end": t1,
                           "files": sorted(f for f in added if f.startswith("part-"))})


def _alerts(spark, in_dir: str):
    spec = InputSpec([InputElement(
        "http", path=in_dir, fmt="text",
        options={"maxBytesPerTrigger": str(MAX_BYTES_PER_TRIGGER)})])
    events = http_events(spec.read_parsed(spark, streaming=True))
    return assemble_httprequest(events.withWatermark("timestamp", WATERMARK), toggles())


def _write_file(path: str, lines: list[str]) -> None:
    with open(path + ".tmp", "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(path + ".tmp", path)


def _wait(pred, timeout: float, query) -> bool:
    end = time.time() + timeout
    while time.time() < end:
        if pred():
            return True
        if not query.isActive:
            return False
        time.sleep(0.02)
    return False


def _batch_files(ckpt: str, progress: list[dict]) -> dict[str, int]:
    """File name -> id of the micro-batch that read it. The file source
    logs each file under a log offset; a micro-batch reads the offsets in
    (startOffset, endOffset] of its progress report."""
    log_of = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(p) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    log_of[os.path.basename(e["path"])] = e["batchId"]
    batch_of_log = {}
    for p in progress:
        src = p["sources"][0]
        lo = (src["startOffset"] or {"logOffset": -1})["logOffset"]
        for off in range(lo + 1, src["endOffset"]["logOffset"] + 1):
            batch_of_log[off] = p["batchId"]
    return {f: batch_of_log[off] for f, off in log_of.items() if off in batch_of_log}


def _alert_key(line: str) -> str:
    a = json.loads(line)
    a.pop("alert_id", None)
    return json.dumps(a, sort_keys=True)


def _set_up(spark, seed: int, in_dir: str, sink_dir: str, ckpt: str, tracer):
    """Build the pipeline and start the measured query; its first
    micro-batch reads a warm-up file. Returns once that batch is done."""
    warm = loadgen.FilePlan("p0-warm", 0.0, 0.0, 2.0, WARM_LINES, "warm")
    _write_file(os.path.join(in_dir, "p0-warm.json"),
                loadgen.file_lines(seed, warm, MAX_LATE_S))
    with tracer.span("setup.build"):
        alerts = _alerts(spark, in_dir)
    with tracer.span("setup.query_start"):
        sink = TimedOutput(file_path=sink_dir)
        query = sink.stream_writer(alerts, ckpt).trigger(processingTime="0 seconds").start()
        _wait(lambda: query.lastProgress is not None, DRAIN_TIMEOUT_S, query)
    return query, sink, warm


def _offer(query, seed: int, plans, start: float, work: str, in_dir: str, tracer):
    """Run the generator process over ``plans``, then write the closing
    line and wait until its watermark has closed every window. Returns
    the generator's manifest and whether the stream drained."""
    plan_path = os.path.join(work, "plan.json")
    with open(plan_path, "w") as f:
        json.dump([asdict(p) for p in plans], f)
    manifest_path = os.path.join(work, "manifest.json")
    gen = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "loadgen.py"), "--out", in_dir,
         "--plan", plan_path, "--seed", str(seed), "--manifest", manifest_path,
         "--start", repr(start), "--max-late", repr(MAX_LATE_S)])
    try:
        with tracer.span("stream.open_loop"):
            gen.wait(timeout=plans[-1].due_s + 60)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    with open(manifest_path) as f:
        manifest = json.load(f)
    close_t = plans[-1].t1 + 3600.0
    _write_file(os.path.join(in_dir, "zz-close.json"), [loadgen.closing_line(close_t)])
    closed_wm = loadgen.iso(close_t - WATERMARK_S)[:19]
    with tracer.span("stream.drain"):
        drained = _wait(
            lambda: (query.lastProgress or {}).get("eventTime", {}).get("watermark", "")[:19]
            >= closed_wm, DRAIN_TIMEOUT_S, query)
    return manifest, drained


def run(seed: int, seconds: int, tracer, clock) -> dict:
    work = os.path.join(WORK, "stream")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    in_dir, sink_dir, ckpt = (os.path.join(work, d) for d in ("in", "sink", "ckpt"))
    os.makedirs(in_dir)

    t0 = time.monotonic()
    spark = start_spark()
    get_spark_s = time.monotonic() - t0
    query, sink, warm = _set_up(spark, seed, in_dir, sink_dir, ckpt, tracer)
    # set-up ends when the query has committed its first micro-batch; the
    # fixed phase-0 schedule that follows is not part of it
    setup_s = clock.since_start()

    phase1_s = seconds / 2.0
    plans = loadgen.make_plan(phase1_s, PHASE1_RATE, INTERVAL_S, BURST_LINES,
                              BURST_FILES, BURST_S, start_s=warm.t1, phase0_s=PHASE0_S)
    start = time.time() + 0.5 - warm.t1  # wall clock of event time 0
    phase1_t0 = warm.t1 + PHASE0_S       # event time the measured input starts
    manifest, drained = _offer(query, seed, plans, start, work, in_dir, tracer)
    query_error = query.exception()
    progress = [json.loads(p.json) for p in query.recentProgress]
    run_id = str(query.runId)
    query.stop()

    # ---- what happened, per file and per micro-batch
    files = {r["name"] + ".json": r for r in manifest}
    for name, phase, n in (("p0-warm", "warm", WARM_LINES), ("zz-close", "close", 1)):
        files[name + ".json"] = {"name": name, "n_lines": n, "phase": phase, "created":
                                 os.path.getmtime(os.path.join(in_dir, name + ".json"))}
    batch_of = _batch_files(ckpt, progress)
    calls = sink.calls
    by_id = {p["batchId"]: p for p in progress}
    # sink call i is micro-batch i: both count every batch from 0
    failed_batches = int(query_error is not None) + int(len(calls) != len(progress))
    end_of = {i: c["end"] for i, c in enumerate(calls)}
    uncommitted = [f for f in files if f not in batch_of]
    lat = [end_of[batch_of[f]] - r["created"] for f, r in files.items()
           if r["phase"] == "phase1" and batch_of.get(f) in end_of]
    lines_in: Counter = Counter()
    for f, b in batch_of.items():
        lines_in[b] += files[f]["n_lines"]
    # capacity: lines per second of trigger time in the micro-batches that
    # read a full trigger of phase-2 files, i.e. while the burst kept a
    # backlog in front of the source; the median resists a batch slowed
    # by the machine
    phase_of: dict[int, set] = {}
    for f, b in batch_of.items():
        phase_of.setdefault(b, set()).add(files[f]["phase"])
    burst = [b for b in sorted(by_id) if phase_of.get(b) == {"phase2"}]
    top = max((lines_in[b] for b in burst), default=0)
    full = [b for b in burst if lines_in[b] >= 0.9 * top]
    rates = [lines_in[b] / (by_id[b]["durationMs"]["triggerExecution"] / 1000.0) for b in full]
    dropped = sum(op.get("numRowsDroppedByWatermark", 0)
                  for p in progress for op in p.get("stateOperators", []))

    # ---- correctness: the sink equals the batch twin over the same lines
    sink_lines, landed = [], []
    for c in calls:
        for fn in c["files"]:
            with open(os.path.join(sink_dir, fn)) as f:
                for line in f:
                    if line.strip():
                        sink_lines.append(line)
                        landed.append(c["end"])
    spec = InputSpec([InputElement("http", path=in_dir, fmt="text")])
    events = http_events(spec.read_parsed(spark)).cache()
    twin = assemble_httprequest(events, toggles()).cache()
    twin_lines = [r.value for r in alerts_to_json(twin).collect()]
    got, want = Counter(map(_alert_key, sink_lines)), Counter(map(_alert_key, twin_lines))
    alert_diff = sum(((got - want) + (want - got)).values())

    first_created = min(r["created"] for r in files.values() if r["phase"] == "phase1")
    total_s = (end_of[max(end_of)] - first_created) if end_of else 0.0
    tail_q = tail_percentile(len(lat))
    e2e = {
        "setup_s": setup_s,
        "total_s": total_s,
        "capacity_per_s": median(rates),
    }
    # alert delay: window end plus watermark delay (as wall clock) to the
    # end of the sink write that landed the alert, for phase-1 windows
    delays = []
    for line, t_land in zip(sink_lines, landed):
        w0 = loadgen.event_seconds(json.loads(line)["timestamp"])
        if phase1_t0 <= w0 and w0 + WINDOW_S <= phase1_t0 + phase1_s:
            delays.append(t_land - (start + w0 + WINDOW_S + WATERMARK_S))
    offered = sum(r["n_lines"] for r in files.values())
    detail = {
        "files": len(files), "uncommitted": uncommitted, "drained": drained,
        "query_error": None if query_error is None else str(query_error)[:2000],
        "batches": len(progress), "sink_calls": len(calls),
        "alerts_sink": len(sink_lines), "alerts_twin": len(twin_lines),
        "alert_diff": alert_diff, "rows_dropped_by_watermark": dropped,
        "latency_samples": len(lat), "latency_p50_s": median(lat),
        "latency_tail_s": percentile(lat, tail_q) if lat else 0.0,
        "latency_tail_percentile": tail_q, "alert_delay_p50_s": median(delays),
        "capacity_batches": full,
        "lines_per_batch": dict(lines_in),
        "lines_offered": offered, "progress": progress,
    }
    layer = {}
    if tracer.enabled:
        phase1 = sorted({batch_of[f] for f, r in files.items()
                         if r["phase"] == "phase1" and f in batch_of} & set(by_id))
        wait_listener_bus(spark)
        eng = job_stats(spark, group_job_ids(spark, run_id))
        layer = {
            "session.get_spark_s": (get_spark_s, "s"),
            **_progress_layers(progress, [by_id[b] for b in phase1], files, batch_of),
            "parser.scans_per_line": (sum(p["numInputRows"] for p in progress) / offered,
                                      "ratio"),
            "stream.sink_call_ms_p50": (median([(calls[b]["end"] - calls[b]["start"]) * 1000.0
                                                for b in phase1 if b < len(calls)]), "ms"),
            "stream.latency_p50_s": (median(lat), "s"),
            "stream.latency_tail_s": (percentile(lat, tail_q) if lat else 0.0, "s"),
            "stream.alert_delay_p50_s": (median(delays), "s"),
            "streaming.rows_dropped_by_watermark": (dropped, "count"),
            "sinks.alerts_written": (len(sink_lines), "count"),
            "gen.lateness_max_s": (max(r["lateness_s"] for r in manifest), "s"),
            "gen.lines_offered": (offered, "count"),
            **spark_layer(eng, total_s, spark.sparkContext.defaultParallelism),
        }
        for b, c in enumerate(calls):
            parent = None
            if b in by_id:
                t = _wall(by_id[b]["timestamp"])
                parent = tracer.record(
                    "stream.batch", t, t + by_id[b]["durationMs"]["triggerExecution"] / 1000.0,
                    trace=f"batch{b}", rows=by_id[b]["numInputRows"], lines=lines_in[b])
            tracer.record("sinks.write_batch", c["start"], c["end"], trace=f"batch{b}",
                          parent=parent)
        layer.update(_isolated_layers(spark, in_dir, events, twin, work, tracer))
    events.unpersist()
    twin.unpersist()
    attempted = len(files) + len(twin_lines)
    failed = len(uncommitted) + failed_batches + alert_diff
    return {"attempted": attempted, "failed": failed, "e2e": e2e, "layer": layer,
            "detail": detail, "correct_extra": dropped == 0 and drained}


def _wall(iso_ts: str) -> float:
    return loadgen.event_seconds(iso_ts) + loadgen.BASE_EPOCH


def _progress_layers(progress, phase1, files, batch_of) -> dict:
    """Per-layer metrics read off Spark's progress reports: medians over
    the phase-1 micro-batches, state totals over the whole run, and the
    largest backlog of created but unread files at any batch start."""
    def p50(*keys):
        return median([sum(p["durationMs"].get(k, 0) for k in keys) for p in phase1])

    def state(key):
        return max((sum(op.get(key, 0) for op in p.get("stateOperators", []))
                    for p in progress), default=0)

    created = sorted(r["created"] for r in files.values())
    backlog = max((sum(1 for c in created if c <= _wall(p["timestamp"]))
                   - sum(1 for b in batch_of.values() if b < p["batchId"])
                   for p in progress), default=0)
    return {
        "sources.backlog_files_max": (backlog, "count"),
        "sources.get_batch_ms_p50": (p50("latestOffset", "getBatch"), "ms"),
        "stream.trigger_ms_p50": (p50("triggerExecution"), "ms"),
        "stream.query_planning_ms_p50": (p50("queryPlanning"), "ms"),
        "stream.add_batch_ms_p50": (p50("addBatch"), "ms"),
        "stream.wal_commit_ms_p50": (p50("walCommit"), "ms"),
        "streaming.state_rows_total": (state("numRowsTotal"), "count"),
        "streaming.state_memory_bytes": (state("memoryUsedBytes"), "bytes"),
    }


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _isolated_layers(spark, in_dir: str, events, twin, work: str, tracer) -> dict:
    """Each layer alone, over the run's own lines: the parser, the
    HTTPRequest heuristics (all legs, then each leg) and the sink."""
    lines = spark.read.text(in_dir).cache()
    n_lines = lines.count()
    with tracer.span("parser.parse_events"):
        t0 = time.monotonic()
        parsed = parse_events(lines)
        t1 = time.monotonic()
        _noop(parsed)
        t2 = time.monotonic()
    obs_df, obs = parse_events_observed(lines)
    _noop(obs_df)
    counts = obs.get
    out = {
        "parser.build_ms": ((t1 - t0) * 1000.0, "ms"),
        "parser.lines_per_s": (n_lines / (t2 - t0), "1/s"),
        "parser.raw_fallback_ratio": (counts["n_raw_fallback"] / max(1, counts["n_parsed"]),
                                      "ratio"),
    }
    events.count()
    base = toggles()
    legs = {
        "operators.httprequest_s": base,
        "operators.hard_limit_s": replace(base, enable_error_rate_analysis=False,
                                          enable_ua_blocklist_analysis=False),
        "operators.error_rate_s": replace(base, enable_hard_limit_analysis=False,
                                          enable_ua_blocklist_analysis=False),
        "operators.ua_blocklist_s": replace(base, enable_hard_limit_analysis=False,
                                            enable_error_rate_analysis=False),
    }
    for name, tg in legs.items():
        with tracer.span(name):
            t0 = time.monotonic()
            _noop(assemble_httprequest(events, tg))
            out[name] = (time.monotonic() - t0, "s")
    twin.count()
    path = os.path.join(work, "sink_probe")
    with tracer.span("sinks.write_batch"):
        t0 = time.monotonic()
        CompositeOutput(file_path=path).write_batch(twin)
        out["sinks.write_batch_s"] = (time.monotonic() - t0, "s")
    lines.unpersist()
    return out
