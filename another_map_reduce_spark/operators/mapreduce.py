"""Generic MapReduce API — the reference's real surface, made pluggable.

The reference hardcodes ``fn map(String) -> Vec<(String,String)>`` and
``fn reduce(String, Vec<String>) -> (String,String)`` into the worker
binary (`/root/reference/src/worker.rs:23-38`; `README.md:32-33` frames
them as the user-supplied pair).  Here the same contract is a function
over DataFrames, with three execution paths ordered fastest-first:

1. ``map_reduce_associative`` — merge_fn is associative+commutative →
   ``reduceByKey``: map-side combine shuffles ~distinct-keys instead of
   ~all-pairs.  The reference has no combiner (src/worker.rs:95-115
   writes every pair), so this path strictly dominates it at scale.
2. ``map_reduce`` — the faithful contract: full shuffle, values
   gathered per key (groupByKey ≙ the BTreeMap at src/worker.rs:118),
   then ``reduce_fn(key, values)``.  Use only when the reduction truly
   needs all values at once (medians, top-k lists, ...).
3. ``map_reduce_pandas`` — Arrow-vectorized variant: pandas batches in,
   pandas batches out; for map/reduce logic that is vectorizable the
   Python overhead drops ~10-100× vs per-row callables.

All paths end in a typed DataFrame so downstream relational operators
compose with the result.

``num_buckets`` ≙ the reference's ``-n num_buckets`` (src/main.rs:21-24):
the reduce-side partition count, honoured exactly when given.  When it
is ``None`` each path keeps its engine's own default: the RDD paths use
Spark's RDD default (``spark.default.parallelism`` if set, else the
input's partition count, which grows with the data), and the pandas path
leaves the shuffle to AQE under ``spark.sql.shuffle.partitions``.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql.types import StructType

MapFn = Callable[[Row], Iterable[tuple[Any, Any]]]
ReduceFn = Callable[[Any, list[Any]], tuple[Any, Any]]
MergeFn = Callable[[Any, Any], Any]


def _out_schema(key_type: str, value_type: str) -> str:
    return f"key {key_type}, value {value_type}"


def map_reduce(
    df: DataFrame,
    map_fn: MapFn,
    reduce_fn: ReduceFn,
    num_buckets: int | None = None,
    key_type: str = "string",
    value_type: str = "string",
) -> DataFrame:
    """Faithful MapReduce: flatMap → hash shuffle → group → reduce.

    Semantics per the reference (src/worker.rs:87-154): ``map_fn`` sees
    one input record and emits any number of (key, value) pairs; after a
    hash shuffle on key into ``num_buckets`` partitions, ``reduce_fn``
    sees each key once with ALL its values.  Value arrival order within
    a key is not guaranteed (the reference doesn't guarantee it either —
    map-task read order is scheduler-dependent).

    Scale note: this path materialises every value list; prefer
    ``map_reduce_associative`` whenever the reduction is a fold.
    """
    pairs = df.rdd.flatMap(map_fn)
    reduced = (
        pairs.groupByKey(numPartitions=num_buckets)  # ≙ BTreeMap gather, src/worker.rs:118
        .map(lambda kv: reduce_fn(kv[0], list(kv[1])))
    )
    return df.sparkSession.createDataFrame(
        reduced, schema=_out_schema(key_type, value_type)
    )


def map_reduce_associative(
    df: DataFrame,
    map_fn: MapFn,
    merge_fn: MergeFn,
    num_buckets: int | None = None,
    key_type: str = "string",
    value_type: str = "string",
) -> DataFrame:
    """MapReduce with map-side combine (the 100 TB path).

    ``merge_fn`` must be associative and commutative.  Equivalent to
    the reference job whenever its reduce is a fold of the mapped
    values — e.g. word count: emit ``(word, 1)``, merge ``+`` ≡
    ``len(values)`` (src/worker.rs:36-38).
    """
    reduced = df.rdd.flatMap(map_fn).reduceByKey(merge_fn, numPartitions=num_buckets)
    return df.sparkSession.createDataFrame(
        reduced, schema=_out_schema(key_type, value_type)
    )


def map_reduce_pandas(
    df: DataFrame,
    map_batch_fn: Callable[[pd.DataFrame], pd.DataFrame],
    reduce_group_fn: Callable[[pd.DataFrame], pd.DataFrame] | None,
    map_schema: StructType | str,
    out_schema: StructType | str,
    key_col: str = "key",
    num_buckets: int | None = None,
    combine_batch_fn: Callable[[pd.DataFrame], pd.DataFrame] | None = None,
    finish_aggs: Sequence[Column] | None = None,
) -> DataFrame:
    """Arrow-vectorized MapReduce.

    ``map_batch_fn``: pandas batch of input rows → pandas frame of
    emitted pairs (must contain ``key_col``).

    Reduce side, fastest-first:

    * ``finish_aggs`` (Spark agg Columns) — for ALGEBRAIC reductions:
      the shuffle is a plain ``groupBy(key).agg(...)`` with map-side
      combine and whole-stage codegen; no second Python hop at all.
      (A per-key ``applyInPandas`` reduce measured 6.4 s vs 0.4 s for
      this path on 31-key word count — pandas overhead × |keys|.)
    * ``reduce_group_fn`` — the general contract: pandas frame of ONE
      key's rows → reduced frame, via ``applyInPandas``.  Use only
      when the reduction truly needs all of a key's values at once.

    ``combine_batch_fn`` (optional, either mode): pandas pre-aggregation
    applied INSIDE each map batch — the Arrow shuffle then carries one
    partial per (batch, key) instead of every emitted pair, the same
    map-side-combine role the associative RDD path gets from
    reduceByKey.
    """
    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = map_batch_fn(batch)
            if combine_batch_fn is not None and len(out):
                out = combine_batch_fn(out)
            if len(out):
                yield out

    mapped = df.mapInPandas(_map, schema=map_schema)
    if finish_aggs is not None:
        return mapped.groupBy(key_col).agg(*finish_aggs)
    if reduce_group_fn is None:
        raise ValueError("need reduce_group_fn or finish_aggs")
    if num_buckets is not None:
        mapped = mapped.repartition(num_buckets, key_col)
    return mapped.groupBy(key_col).applyInPandas(
        lambda g: reduce_group_fn(g), schema=out_schema
    )


def run_wordcount_job(
    spark: SparkSession,
    input_glob: str,
    num_buckets: int,
    output_dir: str | None = None,
) -> DataFrame:
    """End-to-end parity with the reference binary's one job.

    Reads ``*.txt`` like the coordinator (src/coordinator.rs:216-224),
    counts words with reference tokenizer semantics, and (optionally)
    writes one directory per hash bucket with keys ascending within
    each — the ``reduce_result_{r}`` layout (src/worker.rs:144-154).
    """
    from another_map_reduce_spark.operators.wordcount import word_count_bucketed
    from another_map_reduce_spark.sources.text import read_text_corpus

    corpus = read_text_corpus(spark, input_glob, whole_files=True)
    result = word_count_bucketed(corpus, num_buckets)
    if output_dir is not None:
        # Atomic task commit (temp + rename, src/worker.rs:107-114) is
        # Spark's FileOutputCommitter — nothing to reimplement.
        result.write.mode("overwrite").partitionBy("bucket").csv(
            output_dir, sep=" "
        )
    return result
