"""Generic map_reduce API tests (SURVEY §2b last row, M2)."""

from __future__ import annotations

import pandas as pd
import pytest

from another_map_reduce_spark.operators.mapreduce import (
    map_reduce,
    map_reduce_associative,
    map_reduce_pandas,
)


@pytest.fixture(scope="module")
def kv_df(spark):
    rows = [("a", 1), ("b", 2), ("a", 3), ("c", 4), ("b", 5), ("a", 6)]
    return spark.createDataFrame(rows, "k string, v int")


def test_faithful_groupby_reduce(spark, kv_df):
    """reduce_fn sees ALL values for a key at once (BTreeMap semantics)."""

    def map_fn(row):
        return [(row.k, row.v)]

    def reduce_fn(key, values):
        return (key, sum(sorted(values)))

    out = map_reduce(kv_df, map_fn, reduce_fn, value_type="long")
    got = {r.key: r.value for r in out.collect()}
    assert got == {"a": 10, "b": 7, "c": 4}


def test_flatmap_multiplicity(spark, kv_df):
    """map_fn may emit 0..n pairs per record (src/worker.rs:23 contract)."""

    def map_fn(row):
        return [(row.k, 1)] * row.v  # emit v copies

    out = map_reduce(kv_df, map_fn, lambda k, vs: (k, len(vs)), value_type="long")
    got = {r.key: r.value for r in out.collect()}
    assert got == {"a": 10, "b": 7, "c": 4}


def test_associative_equals_faithful(spark, kv_df):
    def map_fn(row):
        return [(row.k, row.v)]

    fast = map_reduce_associative(kv_df, map_fn, lambda a, b: a + b, value_type="long")
    slow = map_reduce(kv_df, map_fn, lambda k, vs: (k, sum(vs)), value_type="long")
    assert {tuple(r) for r in fast.collect()} == {tuple(r) for r in slow.collect()}


def test_num_buckets_controls_partitions(spark, kv_df):
    """An explicit ``num_buckets`` (≙ ``-n``) fixes the reduce width; without
    it the RDD paths take Spark's RDD default (the input's partition count
    here, not the session's 4-wide SQL shuffle) and the pandas path plans
    no fixed-count repartition."""
    out = map_reduce_associative(
        kv_df, lambda r: [(r.k, r.v)], lambda a, b: a + b, num_buckets=2,
        value_type="long",
    )
    assert out.rdd.getNumPartitions() == 2

    three = spark.createDataFrame(
        spark.sparkContext.parallelize([("a", 1), ("b", 2), ("c", 3)], 3),
        "k string, v int",
    )
    fold = map_reduce_associative(
        three, lambda r: [(r.k, r.v)], lambda a, b: a + b, value_type="long"
    )
    gather = map_reduce(
        three, lambda r: [(r.k, r.v)], lambda k, vs: (k, sum(vs)), value_type="long"
    )
    assert fold.rdd.getNumPartitions() == gather.rdd.getNumPartitions() == 3

    def pandas_plan(num_buckets):
        out = map_reduce_pandas(
            kv_df,
            lambda b: b.rename(columns={"k": "key"}),
            lambda g: g,
            map_schema="key string, v int",
            out_schema="key string, v int",
            num_buckets=num_buckets,
        )
        return out._jdf.queryExecution().optimizedPlan().toString()

    assert "RepartitionByExpression" not in pandas_plan(None)
    assert "RepartitionByExpression" in pandas_plan(2)


def test_pandas_path_wordcount(spark):
    texts = ["spark spark flink", "flink spark"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")

    def map_batch(batch: pd.DataFrame) -> pd.DataFrame:
        words = batch["text"].str.split().explode().dropna()
        return pd.DataFrame({"key": words, "partial": 1})

    def reduce_group(g: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"key": [g["key"].iloc[0]], "value": [g["partial"].sum()]})

    out = map_reduce_pandas(
        df,
        map_batch,
        reduce_group,
        map_schema="key string, partial long",
        out_schema="key string, value long",
    )
    got = {r.key: r.value for r in out.collect()}
    assert got == {"spark": 3, "flink": 2}


def test_pandas_path_algebraic_finish(spark):
    """Batch-level combine + Spark agg finish must agree with the
    per-key applyInPandas reduce (and is the fast path for algebraic
    reductions — no second Python hop)."""
    from pyspark.sql import functions as F

    texts = ["spark spark flink", "flink spark", "beam"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")

    def map_batch(batch: pd.DataFrame) -> pd.DataFrame:
        words = batch["text"].str.split().explode().dropna()
        return pd.DataFrame({"key": words, "partial": 1})

    out = map_reduce_pandas(
        df,
        map_batch,
        None,
        map_schema="key string, partial long",
        out_schema="key string, value long",
        combine_batch_fn=lambda p: p.groupby("key", as_index=False)[
            "partial"
        ].sum(),
        finish_aggs=[F.sum("partial").alias("value")],
    )
    got = {r.key: r.value for r in out.collect()}
    assert got == {"spark": 3, "flink": 2, "beam": 1}


def test_wordcount_job_end_to_end(spark, tmp_path):
    """Full parity with the reference binary: .txt glob in, bucketed files out
    (src/coordinator.rs:216-224 + src/worker.rs:144-154)."""
    from another_map_reduce_spark.operators.mapreduce import run_wordcount_job

    (tmp_path / "one.txt").write_text("apple banana apple")
    (tmp_path / "two.txt").write_text("banana cherry! APPLE")
    outdir = tmp_path / "out"
    res = run_wordcount_job(
        spark, str(tmp_path / "*.txt"), num_buckets=2, output_dir=str(outdir)
    )
    got = {r.word: r.cnt for r in res.collect()}
    assert got == {"apple": 2, "banana": 2, "cherry": 1, "APPLE": 1}
    # one directory per bucket, like reduce_result_{r}
    buckets = {p.name for p in outdir.iterdir() if p.name.startswith("bucket=")}
    assert buckets <= {"bucket=0", "bucket=1"} and buckets
