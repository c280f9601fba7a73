"""Round-7 curation tranche: pure-Python semantic recounts and plan
assertions (DuckDB value parity runs in the catalog-wide sweep in
test_catalog.py)."""

import contextlib
import io
from collections import Counter

import pytest
from pyspark.sql import functions as F

from foxsec_pipeline_spark.plans.catalog import registry

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def reg():
    return registry()


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_reservoir_sample_cap_and_determinism(spark, reg):
    rows = reg["reservoir_sample_per_key"].fn(spark, SF_DIR).collect()
    per_key = Counter(r.source for r in rows)
    assert all(v <= 10 for v in per_key.values())
    again = reg["reservoir_sample_per_key"].fn(spark, SF_DIR).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_consistent_hash_minimal_disruption(spark, reg):
    """HRW's defining property: removing one shard moves ONLY that
    shard's documents — every other shard's n_moved_on_removal is 0,
    and the removed shard's docs redistribute (its own row reports
    all docs moved)."""
    rows = {r.shard: r for r in
            reg["consistent_hash_assignment"].fn(spark, SF_DIR).collect()}
    total = sum(r.n_docs for r in rows.values())
    removed = rows["shard7"]
    assert removed.n_moved_on_removal == removed.n_docs
    for shard, r in rows.items():
        if shard != "shard7":
            assert r.n_moved_on_removal == 0, shard
    # uniformity sanity: no shard owns more than half the corpus
    assert max(r.n_docs for r in rows.values()) < total / 2


def test_lm_typicality_python_recount(spark, reg):
    """Recompute the bigram-LM typicality for every doc in pure
    Python and compare exactly."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    bgs = {}
    lm = Counter()
    for d in docs:
        t = d.text.split()
        b = [(t[i], t[i + 1]) for i in range(len(t) - 1)]
        bgs[d.doc_id] = b
        lm.update(b)
    total = sum(lm.values())
    got = {r.doc_id: (r.n_bigrams, r.typicality_ppm)
           for r in reg["lm_typicality_filter"].fn(spark, SF_DIR).collect()}
    for did, b in bgs.items():
        if not b:
            continue
        mass = sum(lm[x] for x in b)
        want = mass * 1000000 // (len(b) * total)
        assert got[did] == (len(b), want), did


def test_kcore_peel_python_recount(spark, reg):
    """Replay the fixed-round k-core peel in pure Python over the
    same co-purchase edges."""
    import duckdb

    edges = duckdb.sql(f"""
        WITH items AS (
          SELECT DISTINCT l_orderkey, l_partkey
          FROM '{SF_DIR}/lineitem.parquet'
        )
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    """).fetchall()
    adj = set()
    for u, v in edges:
        adj.add((u, v))
        adj.add((v, u))
    for _ in range(4):
        deg = Counter(u for u, _ in adj)
        alive = {n for n, d in deg.items() if d >= 3}
        adj = {(u, v) for u, v in adj if u in alive and v in alive}
    want = Counter(u for u, _ in adj)
    got = {r.part: r.core_degree
           for r in reg["kcore_decomposition"].fn(spark, SF_DIR).collect()}
    assert got == dict(want)


def test_cluster_canonical_is_member_and_longest(spark, reg):
    clusters = {
        r.doc_id: r.cluster_keeper
        for r in reg["dedup_clusters"].fn(spark, SF_DIR).collect()
    }
    n_chars = {
        r.doc_id: r.n_chars
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "n_chars").collect()
    }
    rows = reg["cluster_canonical_docs"].fn(spark, SF_DIR).collect()
    assert len(rows) == len(set(clusters.values()))
    for r in rows:
        assert clusters[r.canonical_doc] == r.cluster_id
        members = [d for d, c in clusters.items() if c == r.cluster_id]
        best = max(members, key=lambda d: (n_chars[d], -d))
        assert r.canonical_doc == best


def test_bm25_plan_semi_joins_postings(spark, reg):
    """The postings build must semi-join to the query terms before
    aggregating (only matching postings materialize) and the query
    side must broadcast; no cartesian anywhere."""
    plan = plan_of(reg["bm25_topk_retrieval"].fn(spark, SF_DIR))
    assert "LeftSemi" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_record_linkage_plan_no_cartesian(spark, reg):
    """Blocking is the whole point: the pair join must be an
    equi-join on the block key, never a cartesian."""
    df = reg["record_linkage_blocking"].fn(spark, SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan
    # matches are symmetric-free (a < b) and within-block
    rows = df.collect()
    assert all(r.cust_a < r.cust_b for r in rows)


def test_bm25_monotonicity_in_tf(spark, reg):
    """Within one term, docs with equal length are ordered by tf
    (saturating, never decreasing) — the core BM25 property."""
    rows = reg["bm25_topk_retrieval"].fn(spark, SF_DIR).collect()
    assert rows, "vacuous: no BM25 results"
    by_term = {}
    for r in rows:
        by_term.setdefault(r.term, []).append(r)
    for term, rs in by_term.items():
        ranks = sorted(r.rank for r in rs)
        assert ranks == list(range(1, len(rs) + 1)), term
        scores = [r.score_scaled
                  for r in sorted(rs, key=lambda r: r.rank)]
        assert scores == sorted(scores, reverse=True), term


def test_session_overlap_plan_and_symmetry(spark, reg):
    """Interval join must be bucketized (equi-join, no cartesian /
    nested loop); pairs are canonical (user_a < user_b) and overlap
    meets the threshold."""
    df = reg["session_overlap_pairs"].fn(spark, SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    rows = df.collect()
    for r in rows:
        assert r.user_a < r.user_b
        assert r.overlap_sec >= 300


def test_new_vs_returning_invariants(spark, reg):
    rows = reg["new_vs_returning_users"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.n_active == r.n_new + r.n_returning
    first_day = min(r.day for r in rows)
    fr = next(r for r in rows if r.day == first_day)
    assert fr.n_returning == 0  # nobody returns on day one
    total_new = sum(r.n_new for r in rows)
    n_users = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .select("user_id").distinct().count()
    )
    assert total_new == n_users  # every user is new exactly once


def test_category_lift_python_recount(spark, reg):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    joint, mx, my = Counter(), Counter(), Counter()
    for e in ev:
        seg = e.user_id % 10
        joint[(e.event_type, seg)] += 1
        mx[e.event_type] += 1
        my[seg] += 1
    n = len(ev)
    got = {(r.event_type, r.segment): (r.c_xy, r.lift_ppm)
           for r in reg["category_lift_matrix"].fn(spark, SF_DIR).collect()}
    assert len(got) == len(joint)
    for k, c in joint.items():
        want = c * n * 1000000 // (mx[k[0]] * my[k[1]])
        assert got[k] == (c, want), k


def test_khop_reachability_python_recount(spark, reg):
    """Replay the fixed-round BFS in pure Python over the same
    co-purchase edges and seed selection."""
    import duckdb

    edges = duckdb.sql(f"""
        WITH items AS (
          SELECT DISTINCT l_orderkey, l_partkey
          FROM '{SF_DIR}/lineitem.parquet'
        )
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    """).fetchall()
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    deg = sorted(((len(vs), n) for n, vs in adj.items()),
                 key=lambda t: (-t[0], t[1]))
    seeds = [n for _, n in deg[:5]]
    want = {}
    for s in seeds:
        reached = {s}
        for _ in range(3):
            nxt = set(reached)
            for n in reached:
                nxt |= adj.get(n, set())
            reached = nxt
        want[s] = len(reached) - 1
    got = {r.seed: r.n_reachable
           for r in reg["khop_reachability"].fn(spark, SF_DIR).collect()}
    assert got == want


def test_telemetry_gap_invariants(spark, reg):
    rows = reg["telemetry_gap_detection"].fn(spark, SF_DIR).collect()
    for r in rows:
        assert r.gap_end > r.gap_start
        assert r.gap_sec >= 3600


def test_snm_linkage_recall_and_bound(spark, reg):
    """Sorted-neighborhood linkage: every emitted pair is a true
    match (subset of the exact blocked query), recall is high on
    name-sorted data (edit-close names sort near each other), and
    every pair is emitted exactly once."""
    exact = {(r.cust_a, r.cust_b)
             for r in reg["record_linkage_blocking"].fn(spark, SF_DIR)
             .collect()}
    snm_rows = (
        reg["record_linkage_sorted_neighborhood"].fn(spark, SF_DIR)
        .collect()
    )
    snm = [(r.cust_a, r.cust_b) for r in snm_rows]
    assert len(snm) == len(set(snm)), "duplicate pairs emitted"
    assert set(snm) <= exact, "SNM emitted a non-match"
    recall = len(set(snm)) / max(len(exact), 1)
    assert recall >= 0.9, f"recall {recall:.3f} below floor"


def test_edit_distance_pairs_blocked_hot_path_exact(spark):
    """The deletion-neighborhood hot-block guard is EXACT: forcing
    every block hot (tiny work budget) must reproduce the all-pairs
    equi-join byte-for-byte — duplicate names, run-compressed
    variants, and pairs straddling the long-name cap included."""
    from foxsec_pipeline_spark.operators.dedup import (
        edit_distance_pairs_blocked,
    )

    rows = []
    i = 0
    # serial names (digit edits), duplicates, repeated-char runs
    for b in range(3):
        for u in range(40):
            rows.append((f"blk{b}", i, f"acct{u % 25:04d}")); i += 1
        rows.append((f"blk{b}", i, "aaaabbbb")); i += 1
        rows.append((f"blk{b}", i, "aaabbbb")); i += 1
        rows.append((f"blk{b}", i, "aaaabbb")); i += 1
        # pairs straddling variant_max_len (cap 12 below): lengths
        # 11/12/13/14 — cross pairs live on the long path
        rows.append((f"blk{b}", i, "x" * 11)); i += 1
        rows.append((f"blk{b}", i, "x" * 12)); i += 1
        rows.append((f"blk{b}", i, "x" * 13)); i += 1
        rows.append((f"blk{b}", i, "x" * 14)); i += 1
        rows.append((f"blk{b}", i, "y" * 13)); i += 1
    df = spark.createDataFrame(rows, "blk string, id long, nm string")

    kw = dict(block_cols=["blk"], id_col="id", name_col="nm", max_dist=2,
              variant_max_len=12)
    plain = edit_distance_pairs_blocked(
        df, work_budget_pairs=None, hot_block_cutoff=10**9, **kw
    )
    hot = edit_distance_pairs_blocked(
        df, work_budget_pairs=1, hot_block_cutoff=10**9, **kw
    )
    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, hot.collect()))
    assert a == b
    assert len(a) > 100
    # sanity: the fixture exercises every regime
    dists = {d for *_, d in a}
    assert dists == {0, 1, 2}


def test_edit_distance_pairs_blocked_max_dist_1(spark):
    from foxsec_pipeline_spark.operators.dedup import (
        edit_distance_pairs_blocked,
    )

    df = spark.createDataFrame(
        [("b", 1, "kitten"), ("b", 2, "sitten"), ("b", 3, "sittin"),
         ("b", 4, "kitten")],
        "blk string, id long, nm string",
    )
    kw = dict(block_cols=["blk"], id_col="id", name_col="nm", max_dist=1)
    exact = sorted(map(tuple, edit_distance_pairs_blocked(
        df, work_budget_pairs=None, **kw).collect()))
    hot = sorted(map(tuple, edit_distance_pairs_blocked(
        df, work_budget_pairs=1, **kw).collect()))
    assert exact == hot == [
        ("b", 1, 2, 1), ("b", 1, 4, 0), ("b", 2, 3, 1), ("b", 2, 4, 1),
    ]


def test_dedup_clusters_unpersists_round_caches(spark):
    """dedup_clusters must leave nothing persisted behind, so nothing
    leaks into later queries in a long-lived session (the r10
    persist-leak lesson): its labels are cut with an eager
    localCheckpoint, never persist(). Only pre-existing cache entries
    and its localCheckpoint RDDs may survive."""
    from foxsec_pipeline_spark.operators.dedup import dedup_clusters

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in range(1, 8)], "doc_id long"
    )
    out = dedup_clusters(pairs, nodes, id_col="doc_id")
    rows = {(r.doc_id, r.cluster_keeper, r.cluster_size)
            for r in out.collect()}
    assert rows == {
        (1, 1, 3), (2, 1, 3), (3, 1, 3), (5, 5, 2), (6, 5, 2),
        (4, 4, 1), (7, 7, 1),
    }
    after = jsc.getPersistentRDDs().size()
    # at most three localCheckpoint RDDs may remain registered
    # (reclaimed by the ContextCleaner when the python refs drop);
    # nothing may be persist()ed.
    assert after - before <= 3


def _clusters(spark, pairs, nodes, partitions):
    """dedup_clusters over ``pairs`` cut into ``partitions`` contiguous
    slices, as {doc_id: (cluster_keeper, cluster_size)}."""
    from foxsec_pipeline_spark.operators.dedup import dedup_clusters

    rdd = spark.sparkContext.parallelize(pairs, partitions)
    pdf = spark.createDataFrame(rdd, "doc_a long, doc_b long")
    ndf = spark.createDataFrame([(n,) for n in nodes], "doc_id long")
    rows = dedup_clusters(pdf, ndf, id_col="doc_id").collect()
    assert len(rows) == len(nodes)
    return {r.doc_id: (r.cluster_keeper, r.cluster_size) for r in rows}


def test_dedup_clusters_long_path_over_partitions(spark):
    """A 40-node path whose pairs are shuffled over 8 partitions
    resolves to ONE cluster keyed on node 1: every partition sees only
    path fragments, so the answer needs the cross-partition pass."""
    import random

    pairs = [(i, i + 1) for i in range(1, 40)]
    random.Random(7).shuffle(pairs)
    want = {n: (1, 40) for n in range(1, 41)} | {41: (41, 1), 42: (42, 1)}
    assert _clusters(spark, pairs, list(want), partitions=8) == want


def test_dedup_clusters_component_spans_partitions(spark):
    """One pair per partition for a component whose edges all live in
    different partitions, next to one that lives in a single one."""
    span = [(9, 5), (5, 7), (7, 3), (3, 8)]
    local = [(20, 21), (21, 22)]
    want = {n: (3, 5) for n in (3, 5, 7, 8, 9)}
    want |= {n: (20, 3) for n in (20, 21, 22)} | {30: (30, 1)}
    got = _clusters(spark, span + local, list(want), partitions=len(span) + 1)
    assert got == want


@pytest.mark.parametrize(
    "pairs, want",
    [
        # reversed, duplicate and self pairs: (4, 4) touches 4 alone
        ([(2, 1), (1, 2), (1, 2), (3, 2), (4, 4), (6, 5), (5, 6)],
         {1: (1, 3), 2: (1, 3), 3: (1, 3), 4: (4, 1), 5: (5, 2),
          6: (5, 2), 7: (7, 1)}),
        ([], {n: (n, 1) for n in range(1, 8)}),
        # contract: a pair with a NULL endpoint is dropped at the entry —
        # it emits no NULL-id row and counts toward no cluster's size
        ([(1, None), (None, 2), (None, None), (2, 3)],
         {1: (1, 1), 2: (2, 2), 3: (2, 2), 4: (4, 1), 5: (5, 1),
          6: (6, 1), 7: (7, 1)}),
    ],
    ids=["reversed_duplicate_self", "empty", "null_endpoint"],
)
def test_dedup_clusters_edge_pairs(spark, pairs, want):
    assert _clusters(spark, pairs, list(range(1, 8)), partitions=3) == want
