"""Focused tests for the r13 plan-construction statistics memo
(session.plan_stat_memo): bounded statistics (prefix length, density
buckets, n_docs/emission scalars) are computed ONCE per (session,
probe plan) and reused on semantically-equal rebuilds — but a
semantically DIFFERENT probe can never alias into a cached value."""

from pyspark.sql import functions as F

from foxsec_pipeline_spark.session import (
    global_common_prefix_len,
    plan_stat_memo,
)


def _probe(df, flt=None):
    if flt is not None:
        df = df.where(flt)
    return df.select(F.min("name").alias("__mn"), F.max("name").alias("__mx"))


def test_memo_runs_once_for_semantically_equal_plans(spark):
    calls = []

    def run(p):
        calls.append(1)
        return p.first()["__mn"]

    # the production shape: probe plans REBUILT per invocation over the
    # same base relation (load_tables memoizes the table DataFrame, so
    # bench reps construct fresh-but-semantically-equal probe nodes).
    # Two createDataFrame calls would NOT alias (each is a distinct
    # LogicalRDD) — that non-aliasing is the safety property the
    # sameResult key provides.
    base = spark.createDataFrame(
        [("Customer#001",), ("Customer#042",)], "name string"
    )
    assert plan_stat_memo(_probe(base), run) == "Customer#001"
    assert plan_stat_memo(_probe(base), run) == "Customer#001"
    assert len(calls) == 1
    # a separately-created (even identical-content) relation is a
    # DIFFERENT plan: it must not serve the cached value
    other = spark.createDataFrame(
        [("Customer#001",), ("Customer#042",)], "name string"
    )
    assert plan_stat_memo(_probe(other), run) == "Customer#001"
    assert len(calls) == 2


def test_memo_distinguishes_different_plans(spark):
    def run(p):
        return p.first()["__mx"]

    base = spark.createDataFrame(
        [("aa",), ("ab",), ("zz",)], "name string"
    )
    full = plan_stat_memo(_probe(base), run)
    filtered = plan_stat_memo(_probe(base, F.col("name") < "z"), run)
    assert full == "zz"
    assert filtered == "ab"


def test_global_common_prefix_len_values(spark):
    df = spark.createDataFrame(
        [("Customer#000000001",), ("Customer#000000942",)], "name string"
    )
    assert global_common_prefix_len(df, "name") == len("Customer#000000")
    df2 = spark.createDataFrame([("abc",), ("xyz",)], "name string")
    assert global_common_prefix_len(df2, "name") == 0
    # all-null and empty populations -> 0, no crash
    df3 = spark.createDataFrame(
        [(None,), (None,)], "name string"
    )
    assert global_common_prefix_len(df3, "name") == 0
    df4 = spark.createDataFrame([], "name string")
    assert global_common_prefix_len(df4, "name") == 0


def test_density_split_memoized_profile_still_honors_args(spark):
    """The density bucket profile is memoized, but the cutoff math
    re-runs per call: different budgets over the SAME sizes input must
    still produce different cutoffs."""
    from foxsec_pipeline_spark.operators.density import density_hot_split

    sizes = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 1000)], "g int, n int"
    )
    generous, hot1 = density_hot_split(sizes, "n", 10**12, 100_000)
    tight, hot2 = density_hot_split(sizes, "n", 50, 100_000)
    assert generous == 100_000 and not hot1
    assert tight < 1000 and hot2


def test_memo_sees_parquet_input_rewritten_mid_session(spark, tmp_path):
    """Input files changed within a session: a fresh read of a
    rewritten parquet directory is the SAME analyzed plan (same path,
    same schema), so a key on plan identity alone served the old
    statistic. Both value-feeding memo users must see the new files:
    the tfidf `n_docs` count and the BPE merge list."""
    from foxsec_pipeline_spark.operators.textanalysis import (
        bpe_train_merge_list,
    )

    path = str(tmp_path / "documents.parquet")
    schema = "doc_id long, text string"
    spark.createDataFrame(
        [(1, "ab ab ab"), (2, "ab cd")], schema
    ).write.parquet(path)
    assert plan_stat_memo(spark.read.parquet(path), lambda p: p.count()) == 2
    before = bpe_train_merge_list(spark.read.parquet(path), n_merges=1)
    assert before[0][1:3] == ("a", "b")

    spark.createDataFrame(
        [(i, "xy xy zz") for i in range(1, 6)], schema
    ).write.mode("overwrite").parquet(path)
    assert plan_stat_memo(spark.read.parquet(path), lambda p: p.count()) == 5
    after = bpe_train_merge_list(spark.read.parquet(path), n_merges=1)
    assert after[0][1:3] == ("x", "y")
