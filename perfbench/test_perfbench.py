"""Self-tests of the benchmark harness (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import loadgen  # noqa: E402
import run  # noqa: E402
import tables  # noqa: E402
from oracle import OracleCache  # noqa: E402


def _declared() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_generator_is_deterministic_for_a_seed():
    plans = loadgen.make_plan(2.0, 500, 0.1, 2000, 4, 0.5)
    assert plans == loadgen.make_plan(2.0, 500, 0.1, 2000, 4, 0.5)
    for p in (plans[0], plans[-1]):
        assert loadgen.file_lines(7, p, 1.5) == loadgen.file_lines(7, p, 1.5)
        assert loadgen.file_lines(7, p, 1.5) != loadgen.file_lines(8, p, 1.5)
        assert len(loadgen.file_lines(7, p, 1.5)) == p.n_lines


def test_generator_keeps_lateness_inside_the_watermark_delay():
    import stream

    assert stream.MAX_LATE_S < stream.WATERMARK_S
    p = loadgen.make_plan(1.0, 2000, 0.5, 10, 1, 0.1, start_s=5.0)[0]
    secs = []
    for line in loadgen.file_lines(3, p, stream.MAX_LATE_S):
        try:
            secs.append(loadgen.event_seconds(json.loads(line)["timestamp"]))
        except ValueError:  # the generator's deliberately malformed lines
            continue
    assert len(secs) > 900
    assert all(p.t0 - stream.MAX_LATE_S <= t < p.t1 for t in secs)


def test_tables_are_deterministic():
    for name in tables.TABLES:
        assert tables.build_table(name).equals(tables.build_table(name))


def test_documents_have_the_measured_shape():
    texts = tables.build_table("documents").column("text").to_pylist()
    assert len(texts) == 5000
    assert sum(t.endswith(" dup") for t in texts) == 250
    assert {w for t in texts for w in t.split()} == set(tables.VOCAB) | {"dup"}
    lengths = [len(t.split()) for t in texts if not t.endswith(" dup")]
    assert (min(lengths), max(lengths)) == (10, 99)


@pytest.mark.parametrize("trace", [False, True])
def test_every_printed_metric_is_declared(trace):
    declared = _declared()
    key = "per_layer" if trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in declared[key]}
    produced = ("spark.jobs", "parser.build_ms")
    fake = {"e2e": {n: 1.0 for n in run.END_TO_END},
            "layer": {"spark.jobs": (3, "count"), "parser.build_ms": (2.0, "ms")}}
    printed = run.metrics_for(fake, trace, produced)
    assert set(printed) == set(units)
    assert all(printed[n]["unit"] == units[n] for n in printed)


def test_workload_layer_lists_are_declared():
    import batch
    import queries
    import stream

    for produced in (stream.LAYERS, batch.layers(queries.CORPUS_BATCH),
                     batch.layers(queries.DETECT_BATCH)):
        assert set(produced) <= set(run.PER_LAYER)
        assert len(set(produced)) == len(produced)


@pytest.mark.parametrize("layer", [{"spark.jobs": (3, "count")},
                                   {"spark.jobs": (3, "count"), "parser.build_ms": (2.0, "ms"),
                                    "spark.job": (1, "count")}])
def test_a_missing_or_misspelled_layer_metric_fails_the_run(layer):
    fake = {"e2e": {n: 1.0 for n in run.END_TO_END}, "layer": layer}
    with pytest.raises(ValueError):
        run.metrics_for(fake, True, ("spark.jobs", "parser.build_ms"))


def test_declared_workloads_run():
    assert {w["name"] for w in _declared()["workloads"]} <= set(run.WORKLOADS)


def test_oracle_cache_misses_when_an_input_mtime_changes(tmp_path):
    data = tmp_path / "data"
    data.mkdir()
    path = data / "t.parquet"
    pq.write_table(pa.table({"x": [3, 1, 2]}), path)
    cache = OracleCache(str(tmp_path / "cache"), str(data), ["t"])
    sql = "SELECT x FROM t"
    first = cache.answer("q", sql)
    assert cache.misses == 1 and list(first["x"]) == [1, 2, 3]
    cache.answer("q", sql)
    assert cache.misses == 1
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    cache.answer("q", sql)
    assert cache.misses == 2
    cache.close()
