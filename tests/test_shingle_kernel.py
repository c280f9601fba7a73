"""The map-side shingle kernel (`operators/dedup.py::_shingle_arrays`,
`_shingled`) against the posexplode + window-`lead` form it replaced:
equal rows on the sf0.001 documents plus docs shorter than n, and no
keyed Exchange or Sort below the consumer aggregate."""

import os
import re

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from foxsec_pipeline_spark.functions.text import md5_bucket, tokens
from foxsec_pipeline_spark.operators.dedup import _shingle_arrays, _shingled

from tests.conftest import SF_DIR

_SHORT_DOCS = [(10_000, ""), (10_001, "one"), (10_002, "two words"),
               (10_003, "  padded   two  "), (10_004, None)]


@pytest.fixture(scope="module")
def docs(spark):
    path = os.path.join(SF_DIR, "documents.parquet")
    if not os.path.exists(path):
        pytest.skip(f"no documents table under {SF_DIR}")
    short = spark.createDataFrame(_SHORT_DOCS, T.StructType([
        T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]))
    out = spark.read.parquet(path).select("doc_id", "text").unionByName(short).cache()
    yield out
    out.unpersist()


def _lead_grams(df, n):
    """(doc_id, pos, gram): every word n-gram, by posexplode and a window
    of `lead`s over the token stream."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    toks = df.select("doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok"))
    return toks.select(
        "doc_id", "pos",
        F.concat_ws(" ", *[F.lead("tok", j).over(w) for j in range(n)]).alias("gram"),
        F.lead("tok", n - 1).over(w).alias("last"),
    ).where(F.col("last").isNotNull()).drop("last")


def _arrays(df) -> dict:
    return {r[0]: list(r[1]) for r in df.collect()}


@pytest.mark.parametrize("n", [1, 3])
def test_shingle_arrays_match_window_lead(spark, docs, n):
    grams: dict = {r.doc_id: [] for r in docs.select("doc_id").collect()}
    for r in _lead_grams(docs, n).orderBy("doc_id", "pos").collect():
        grams[r.doc_id].append(r.gram)
    first_seen = {d: list(dict.fromkeys(g)) for d, g in grams.items()}

    assert _arrays(_shingle_arrays(docs, "doc_id", "text", n, distinct=False)) == grams
    assert _arrays(_shingle_arrays(docs, "doc_id", "text", n)) == first_seen
    if n == 3:
        assert all(grams[d] == [] for d, _ in _SHORT_DOCS)


@pytest.mark.parametrize("n", [1, 3])
def test_shingled_matches_window_lead(spark, docs, n):
    ref = _lead_grams(docs, n).select("doc_id", "gram").distinct()
    want = (
        ref.withColumn("n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
        .select("doc_id", "n_sh", md5_bucket(F.col("gram")).alias("shingle"))
    )
    got = _shingled(docs, "doc_id", "text", n)
    assert got.columns == ["doc_id", "n_sh", "shingle"]
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def _below_lowest_aggregate(df) -> list[str]:
    """The physical plan's lines under its lowest HashAggregate (the
    consumer's partial aggregate)."""
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    lowest = max(i for i, ln in enumerate(lines) if "HashAggregate" in ln)
    return lines[lowest + 1:]


def _keyed_shuffles_or_sorts(lines) -> list[str]:
    # `spread` may fan a narrow scan out with a round-robin repartition;
    # that moves rows without grouping or ordering them
    return [ln for ln in lines
            if re.search(r"\bSort\b", ln)
            or (re.search(r"\bExchange\b", ln) and "RoundRobinPartitioning" not in ln)]


def test_no_exchange_or_sort_below_consumer_aggregate(spark, docs):
    consumer = _shingled(docs, "doc_id", "text", 3).groupBy("shingle").count()
    assert _keyed_shuffles_or_sorts(_below_lowest_aggregate(consumer)) == []
    arrays = (_shingle_arrays(docs, "doc_id", "text", 3)
              .select(F.explode("__ss").alias("s")).groupBy("s").count())
    assert _keyed_shuffles_or_sorts(_below_lowest_aggregate(arrays)) == []
    # the replaced form shuffles and sorts the token stream: the check sees it
    lead = _lead_grams(docs, 3).groupBy("gram").count()
    assert _keyed_shuffles_or_sorts(_below_lowest_aggregate(lead))
