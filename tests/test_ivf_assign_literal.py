"""The r13 literal/map-side embedding kernels must be BIT-IDENTICAL to
the relational forms they replaced:

- ivf_assign_literal vs the reference ivf_assign (posexplode +
  broadcast centroid join + max_by agg, tests/similarity_reference.py)
  — same integer MIPS dots, same ties-to-lowest-cid rule;
- _ivf_candidates vs the reference candidate pairs (argmax corpus
  cells, rank-window probe cells), for a trained and an untrained
  codebook;
- the rewritten lsh_buckets_relational (zip_with literal-coefficient
  map form) vs the r12 posexplode + groupBy-sum form, reconstructed
  here verbatim as the reference implementation.

These are plan-shape optimizations only; any row-level divergence is a
correctness bug."""

from pyspark.sql import functions as F

from foxsec_pipeline_spark.operators.similarity import (
    LSH_SCALE,
    _ivf_candidates,
    ivf_assign_literal,
    ivf_train_codebook,
    lsh_buckets_relational,
)
from foxsec_pipeline_spark.session import load_tables
from tests.similarity_reference import (
    corpus_codebook,
    ivf_assign,
    ivf_candidates,
    ivf_codebook_df,
)

SF_DIR = "/root/testdata/sf0.001"


def _lsh_reference(df, tables, id_col="vec_id", vec_col="embedding"):
    """The pre-r13 relational bucket pipeline (posexplode + one integer
    agg per plane + sign-pack), kept as the semantic reference."""
    ex = df.select(
        F.col(id_col), F.col(vec_col),
        F.posexplode(vec_col).alias("__j", "__x"),
    )
    scaled = ex.select(
        F.col(id_col), F.col(vec_col), F.col("__j"),
        F.floor(F.col("__x").cast("double") * F.lit(float(LSH_SCALE)))
        .cast("long").alias("__xs"),
    )
    aggs = [F.first(F.col(vec_col)).alias(vec_col)]
    for t, table in enumerate(tables):
        for i, plane in enumerate(table):
            coefs = ",".join(str(int(v)) for v in plane)
            aggs.append(
                F.expr(f"sum(__xs * element_at(array({coefs}), __j + 1))")
                .alias(f"__d_{t}_{i}")
            )
    dots = scaled.groupBy(id_col).agg(*aggs)
    packed = ", ".join(
        " + ".join(
            f"(CASE WHEN __d_{t}_{i} > 0 THEN {2 ** i} ELSE 0 END)"
            for i in range(len(table))
        )
        for t, table in enumerate(tables)
    )
    return dots.select(
        F.col(id_col), F.col(vec_col),
        F.posexplode(F.expr(f"array({packed})")).alias("__tbl", "__bkt"),
    )


def test_ivf_assign_literal_matches_relational(spark):
    from foxsec_pipeline_spark.plans.catalog_data import _CENTROID_IDS

    emb = load_tables(spark, SF_DIR, "embeddings")["embeddings"]
    cb = ivf_train_codebook(emb, list(_CENTROID_IDS), iters=3)
    rel = {
        (r["vec_id"], r["cell"])
        for r in ivf_assign(emb, ivf_codebook_df(spark, cb)).collect()
    }
    lit_df = ivf_assign_literal(emb, cb, carry_cols=("label",))
    lit = {(r["vec_id"], r["cell"]) for r in lit_df.collect()}
    assert rel == lit and len(rel) == emb.count()
    # carry must be the row's own column, and the plan join/agg-free
    labels = dict(
        emb.select("vec_id", "label").rdd.map(tuple).collect()
    )
    for r in lit_df.collect():
        assert labels[r["vec_id"]] == r["label"]
    plan = lit_df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Aggregate" not in plan


def test_lsh_buckets_map_form_matches_relational(spark):
    """Both physical branches (map form below the plane cutoff,
    relational above it) must equal the r12 reference pipeline."""
    from foxsec_pipeline_spark.plans.catalog_data import (
        _LSH_TABLES,
        _PLANES,
    )

    emb = load_tables(spark, SF_DIR, "embeddings")["embeddings"]
    for tables in ([_PLANES], _LSH_TABLES):
        want = {
            (r["vec_id"], r["__tbl"], r["__bkt"])
            for r in _lsh_reference(emb, tables).collect()
        }
        got_df = lsh_buckets_relational(emb, tables)
        got = {
            (r["vec_id"], r["__tbl"], r["__bkt"]) for r in got_df.collect()
        }
        assert want == got, len(tables)
    # the below-cutoff branch must be the zero-exchange map form
    single = lsh_buckets_relational(emb, [_PLANES])
    plan = single._jdf.queryExecution().executedPlan().toString()
    assert "Aggregate" not in plan and "hashpartitioning" not in plan


def test_ivf_candidates_literal_matches_relational(spark):
    """_ivf_candidates must produce the identical (query, neighbor)
    candidate set as the reference centroid-frame form — same argmax
    cells, same top-nprobe probe order (d DESC, cid ASC) including
    ties — for the trained codebook and for untrained corpus-id
    centroids."""
    from foxsec_pipeline_spark.plans.catalog_data import _CENTROID_IDS

    emb = load_tables(spark, SF_DIR, "embeddings")["embeddings"]
    codebooks = {
        "trained": ivf_train_codebook(emb, list(_CENTROID_IDS), iters=3),
        "untrained": corpus_codebook(emb, _CENTROID_IDS),
    }
    q = emb.where(F.col("vec_id") < 10)
    for kind, cb in codebooks.items():
        assert len(cb) == len(_CENTROID_IDS), kind
        for nprobe in (1, 2, 4):
            rel = {
                (r["query_id"], r["neighbor_id"])
                for r in ivf_candidates(
                    q, emb, ivf_codebook_df(spark, cb), nprobe
                ).collect()
            }
            lit = {
                (r["query_id"], r["neighbor_id"])
                for r in _ivf_candidates(
                    q, emb, cb, "vec_id", "embedding", nprobe
                ).collect()
            }
            assert rel and rel == lit, (kind, nprobe)


def test_lsh_buckets_drops_null_and_empty_vectors(spark):
    """The posexplode form emitted no rows for null/empty vectors; the
    map form must preserve that (not emit a bucket-0 row)."""
    df = spark.createDataFrame(
        [(1, [0.5] * 4), (2, []), (3, None)],
        "vec_id long, embedding array<double>",
    )
    table = [[1.0, -1.0, 1.0, -1.0], [1.0, 1.0, -1.0, -1.0]]
    out = lsh_buckets_relational(df, [table]).collect()
    assert {r["vec_id"] for r in out} == {1}


def test_lsh_buckets_null_component_contract(spark, monkeypatch):
    """Vectors with any NULL component get no bucket rows, like null
    and empty vectors: the map form and the relational form, each
    forced through the cutoff, give identical rows at 4 planes and at
    24 planes, and the clean vectors keep their buckets."""
    from foxsec_pipeline_spark.operators import similarity
    from foxsec_pipeline_spark.plans.catalog_data import (
        _LSH_TABLES,
        _PLANES,
    )

    emb = load_tables(spark, SF_DIR, "embeddings")["embeddings"]
    clean = emb.where(F.col("vec_id") < 50).select("vec_id", "embedding")
    dim = len(clean.first()["embedding"])
    bad = spark.createDataFrame(
        [
            (10_001, [0.25] * (dim - 1) + [None]),
            (10_002, [None] + [-0.5] * (dim - 1)),
            (10_003, [None] * dim),
            (10_004, []),
            (10_005, None),
        ],
        clean.schema,
    )
    mixed = clean.unionByName(bad)

    def rows(df, tables, max_planes):
        monkeypatch.setattr(similarity, "_LSH_MAP_FORM_MAX_PLANES", max_planes)
        out = lsh_buckets_relational(df, tables).collect()
        return {(r["vec_id"], r["__tbl"], r["__bkt"]) for r in out}

    for tables in ([_PLANES], _LSH_TABLES):
        relational = rows(mixed, tables, 0)
        map_form = rows(mixed, tables, 10**6)
        assert relational == map_form, len(tables)
        assert relational == rows(clean, tables, 0), len(tables)
        assert {v for v, _, _ in relational} == set(range(50))
