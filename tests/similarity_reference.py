"""Relational reference forms of the IVF and PQ kernels.

The engine's IVF assign/probe and PQ encode take the codebook as
literal arrays in one map projection
(`foxsec_pipeline_spark.operators.similarity`). The forms here compute
the same integer arithmetic the plain relational way — posexplode each
vector, broadcast-join the exploded codebook, sum the products per
(vector, centroid), pick the argmax/argmin with an aggregate or a rank
window — and serve as the oracle the literal forms are checked against
(tests/test_ivf_assign_literal.py, tests/test_pq_encode_literal.py).
"""

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from foxsec_pipeline_spark.operators.similarity import (
    _int_exploded,
    _int_exploded_sub,
)


def ivf_codebook_df(
    spark, codebook: dict[int, list[float]], id_col="vec_id", vec_col="embedding"
) -> DataFrame:
    """A codebook dict as the (id, vector) centroid frame the reference
    forms consume (trained components are exact 2^-20 multiples, so the
    fixed-point re-scale inside `_int_exploded` is lossless)."""
    return spark.createDataFrame(
        [(cid, comps) for cid, comps in sorted(codebook.items())],
        f"{id_col} long, {vec_col} array<double>",
    )


def corpus_codebook(
    corpus: DataFrame, ids, id_col="vec_id", vec_col="embedding"
) -> dict[int, list[float]]:
    """Untrained codebook: the corpus vectors with the given ids, each
    keyed by its own id."""
    rows = corpus.where(F.col(id_col).isin([int(i) for i in ids])).collect()
    return {int(r[id_col]): [float(x) for x in r[vec_col]] for r in rows}


def _ivf_dots(vectors, centroids, id_col, vec_col):
    """(__vid, cid, __d): integer fixed-point MIPS dot of every vector
    with every centroid."""
    ex = _int_exploded(vectors, id_col, vec_col, "__vid")
    ce = _int_exploded(centroids, id_col, vec_col, "cid").withColumnRenamed(
        "__xs", "__cs"
    )
    return (
        ex.join(F.broadcast(ce), "__j")
        .groupBy("__vid", "cid")
        .agg(F.sum(F.col("__xs") * F.col("__cs")).alias("__d"))
    )


def ivf_cells(vectors, centroids, id_col="vec_id", vec_col="embedding"):
    """(__vid, cid, __d, __rn): centroids ranked per vector by dot DESC,
    cid ASC (rank 1 = the vector's IVF cell)."""
    w = Window.partitionBy("__vid").orderBy(F.col("__d").desc(), F.col("cid").asc())
    return _ivf_dots(vectors, centroids, id_col, vec_col).withColumn(
        "__rn", F.row_number().over(w)
    )


def ivf_assign(corpus, centroids, id_col="vec_id", vec_col="embedding"):
    """(id, cell): argmax dot, ties to the lowest centroid id, via a
    max_by aggregate."""
    return (
        _ivf_dots(corpus, centroids, id_col, vec_col)
        .groupBy("__vid")
        .agg(F.expr("max_by(cid, struct(__d, -cid))").alias("cell"))
        .select(F.col("__vid").alias(id_col), "cell")
    )


def ivf_candidates(
    queries, corpus, centroids, nprobe, id_col="vec_id", vec_col="embedding"
) -> DataFrame:
    """(query_id, neighbor_id): corpus vectors in any of the query's
    `nprobe` best cells, the query itself excluded."""
    corpus_cells = ivf_assign(corpus, centroids, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("cell").alias("__cell")
    )
    query_cells = (
        ivf_cells(queries, centroids, id_col, vec_col)
        .where(F.col("__rn") <= F.lit(int(nprobe)))
        .select(F.col("__vid").alias("query_id"), F.col("cid").alias("__cell"))
    )
    return (
        corpus_cells.join(F.broadcast(query_cells), "__cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )


def pq_encode(corpus, codebook, sub_dim, id_col="vec_id", vec_col="embedding"):
    """(vec_id, __m, code): nearest codeword per subspace (squared-L2
    argmin, ties to the lowest code id) against the exploded
    `pq_codebook_df` frame."""
    ex = _int_exploded_sub(corpus, id_col, vec_col, "__vid", sub_dim)
    return (
        ex.join(F.broadcast(codebook), ["__m", "__jj"])
        .groupBy("__vid", "__m", "cid")
        .agg(
            F.sum(
                (F.col("__xs") - F.col("__cs")) * (F.col("__xs") - F.col("__cs"))
            ).alias("__d")
        )
        .groupBy("__vid", "__m")
        .agg(F.expr("min_by(cid, struct(__d, cid))").alias("code"))
        .select(F.col("__vid").alias(id_col), "__m", "code")
    )
