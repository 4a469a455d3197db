"""Bounded drains for finite streaming queries.

Every streaming row runs a finite stream to its end and then reads the
result.  This module owns the four decisions those drains share:

* the trigger: ``availableNow`` drains what the source holds, then the
  query terminates;
* the stateful shuffle width: ``spark.sql.shuffle.partitions`` is
  scoped to ``width`` while the query starts and runs.  Each stateful
  operator opens one state store per shuffle partition per micro-batch
  (a stream-stream join opens four), so at a batch width of 32 that
  fixed cost dominates a small drain (at sf0.1, 32 → 8 partitions took
  the stream-stream join from 11.4 s to 2.7 s); results do not depend
  on it;
* the wait limit: a drain that has not finished within
  ``DRAIN_TIMEOUT_S`` is stopped and raises ``TimeoutError`` naming the
  query, instead of hanging the caller;
* the memory sink's lifetime: ``drain_to_memory`` reads the sink's view
  into a DataFrame and drops the view, so nothing outlives the call.

The two processing-time drains (the buslog backlog drain and the rate
soak) keep their own loops; the backlog drain waits through
``process_all_available`` under the same limit.  Tests shorten the
limit by monkeypatching ``DRAIN_TIMEOUT_S``.
"""

from __future__ import annotations

import itertools
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from another_map_reduce_spark.session import scoped_conf

# Longest wait for one drain.  The slowest drain on record,
# stream_session_close_tws at sf1 on 32 cores, took 232 s.
DRAIN_TIMEOUT_S = 900.0

_SINK_SEQ = itertools.count(1)  # count().__next__ is atomic under the GIL


def memory_view(tag: str) -> str:
    """A memory-sink view name unique within this process.

    A fixed name would let a second invocation in the same session
    replace the first one's table before it was read.
    """
    return f"_amrs_{tag}_{next(_SINK_SEQ)}"


def drain(
    writer: DataStreamWriter, name: str, *, width: int = 8
) -> StreamingQuery:
    """Run ``writer`` as query ``name`` until its source is drained.

    Returns the terminated query (its ``recentProgress`` stays
    readable).  A query that fails re-raises its error; one still
    running after ``DRAIN_TIMEOUT_S`` is stopped and raises
    ``TimeoutError``.
    """
    # DataStreamWriter keeps its session in ``_spark``; the active
    # session is the same one whenever that attribute is missing.
    spark = getattr(writer, "_spark", None) or SparkSession.active()
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": str(width)}):
        q = writer.queryName(name).trigger(availableNow=True).start()
        try:
            finished = q.awaitTermination(DRAIN_TIMEOUT_S)
        finally:
            if q.isActive:
                q.stop()
    if not finished:
        raise TimeoutError(
            f"streaming drain {name!r} did not finish within "
            f"{DRAIN_TIMEOUT_S}s (query stopped)"
        )
    return q


def drain_to_memory(
    stream_df: DataFrame,
    name: str,
    *,
    mode: str = "append",
    width: int = 8,
    checkpoint: str | None = None,
) -> DataFrame:
    """Drain ``stream_df`` into a memory sink and return its rows.

    The returned DataFrame holds the sink's data directly; the sink's
    temporary view is dropped before returning, also on failure.
    """
    spark = stream_df.sparkSession
    view = memory_view(name)
    writer = stream_df.writeStream.format("memory").outputMode(mode)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    try:
        drain(writer, view, width=width)
        return spark.table(view)
    finally:
        spark.catalog.dropTempView(view)


def process_all_available(q: StreamingQuery) -> None:
    """``q.processAllAvailable()`` limited to ``DRAIN_TIMEOUT_S``.

    For processing-time queries, which never terminate on their own.
    A watchdog thread stops the query once the limit passes, which
    unblocks the wait, and the call raises ``TimeoutError``.
    """
    timeout_s = DRAIN_TIMEOUT_S
    done = threading.Event()
    fired = threading.Event()

    def _watch() -> None:
        if not done.wait(timeout_s):
            fired.set()
            try:
                q.stop()
            except Exception:
                pass

    watchdog = threading.Thread(target=_watch, daemon=True)
    watchdog.start()
    try:
        q.processAllAvailable()
    finally:
        done.set()
    if fired.is_set():
        # the wait can return while stop() is still running
        watchdog.join()
        raise TimeoutError(
            f"streaming query {q.name!r} did not go idle within "
            f"{timeout_s}s (watchdog stopped the query)"
        )
