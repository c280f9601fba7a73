"""The r13 literal-codebook PQ encode must be BIT-IDENTICAL to the
relational posexplode/broadcast-join encode it replaced inside
cosine_topk_pq (kept as the reference in tests/similarity_reference.py)
— same fixed-point conversion, same squared-L2 argmin, same
ties-to-lowest-code-id rule. The literal path exists purely as a
plan-shape optimization (one codegen projection, zero exchanges), so
any row-level divergence is a correctness bug, not a tuning knob."""

from foxsec_pipeline_spark.operators.similarity import (
    pq_codebook_df,
    pq_encode_literal,
    pq_train_codebooks,
)
from foxsec_pipeline_spark.plans.catalog_data import (
    _PQ_N_SUB,
    _PQ_SEED_IDS,
    _PQ_TRAIN_ITERS,
)
from foxsec_pipeline_spark.session import load_tables
from tests.similarity_reference import pq_encode

SF_DIR = "/root/testdata/sf0.001"


def test_literal_encode_matches_relational(spark):
    emb = load_tables(spark, SF_DIR, "embeddings")["embeddings"]
    dim = 64
    sub_dim = dim // _PQ_N_SUB
    cb = pq_train_codebooks(
        emb, list(_PQ_SEED_IDS), n_sub=_PQ_N_SUB, iters=_PQ_TRAIN_ITERS
    )
    rel = pq_encode(emb, pq_codebook_df(spark, cb), sub_dim)
    lit = pq_encode_literal(emb, cb, _PQ_N_SUB, sub_dim)
    assert rel.columns == lit.columns
    rel_rows = {(r["vec_id"], r["__m"]): r["code"] for r in rel.collect()}
    lit_rows = {(r["vec_id"], r["__m"]): r["code"] for r in lit.collect()}
    assert rel_rows == lit_rows
    # the literal form's plan must be join- and aggregate-free with no
    # hash-partitioning shuffle (the point of the rewrite — the only
    # allowed Exchange is spread()'s round-robin fan-out, which the
    # relational form also pays on top of its joins/aggs)
    lit_plan = lit._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in lit_plan
    assert "Aggregate" not in lit_plan
    assert "hashpartitioning" not in lit_plan


def test_literal_encode_range_guard(spark):
    """Out-of-range components must still raise (the _int_exploded
    error contract survives the SQL translation). K >= 2 codes per
    subspace: with a single code the argmin is a constant and Catalyst
    legitimately prunes the distance expression (struct-field
    extraction simplification), so the guard never evaluates — the
    catalog operating point is K=16."""
    import pytest

    bad = spark.createDataFrame(
        [(1, [400.0] * 64)], "vec_id long, embedding array<double>"
    )
    cb = {(m, c): [c] * 8 for m in range(8) for c in (0, 1)}
    with pytest.raises(Exception, match="fixed-point component"):
        pq_encode_literal(bad, cb, 8, 8).collect()
