"""Custom stateful streaming operator: first-seen dedup over a key.

The reference's cross-window suppression keeps the FIRST record of each
duplicate group (/root/reference/deduplicaiton/.../utils/Util.java:67-120,
single-threaded static state). Batch-side that becomes connected components;
stream-side it is exactly a keyed stateful filter: emit a row iff its key has
never been seen in the stream's lifetime. Implemented with
applyInPandasWithState -- per-key state is one boolean, grouped by the dedup
key, Arrow-batched; no driver state, no cross-partition state, horizontally
partitioned by the shuffle on the key like any streaming aggregation.

State bounding at 10^12 keys: `state_ttl_ms` arms a ProcessingTimeTimeout
per key -- a key idle for the TTL has its state evicted (the timeout
callback fires on a later trigger and removes it), so store size tracks the
ACTIVE key set, not the lifetime key set. The cost is the documented
tradeoff: a duplicate arriving after its key's eviction re-emits, and the
periodic batch reconciliation pass (the normal batch pipeline over the
sink) re-merges those. state_ttl_ms=None (default) keeps lifetime-exact
semantics (NoTimeout)."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from microdeduplication_spark.config import DedupConfig
from microdeduplication_spark.operators.exact_dedup import ingest_normalize
from microdeduplication_spark.sources.files_source import FILES_SCHEMA

OUTPUT_SCHEMA = "norm_sha string, file_id long, repo string, path string"
STATE_SCHEMA = "seen boolean"


def _min_id_row(pdfs: Iterator[pd.DataFrame]):
    """Deterministic representative within the batch: min file_id across
    EVERY Arrow chunk of the group (a group can span multiple pdfs; the
    smallest id may arrive in a later chunk). Returns a 1-row DataFrame
    or None if every chunk was empty."""
    first = None
    for pdf in pdfs:
        if not len(pdf):
            continue
        cand = pdf.sort_values("file_id").head(1)
        if first is None or cand["file_id"].iloc[0] < first["file_id"].iloc[0]:
            first = cand
    return first


def make_first_seen_fn(state_ttl_ms: int | None = None):
    """Build the applyInPandasWithState handler; factored so the TTL is a
    closure parameter and the branch logic is unit-testable with a
    duck-typed state object."""

    def first_seen_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state_ttl_ms is not None and state.hasTimedOut:
            # idle past TTL: evict -- a later duplicate re-emits and the
            # batch reconciliation pass re-merges it (docstring tradeoff)
            state.remove()
            return iter(())
        seen = state.exists and state.get[0]
        if seen:
            state.update((True,))
            if state_ttl_ms is not None:
                state.setTimeoutDuration(state_ttl_ms)  # activity extends TTL
            return iter(())
        first = _min_id_row(pdfs)
        state.update((True,))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        if first is None:
            return iter(())
        return iter([first[["norm_sha", "file_id", "repo", "path"]]])

    return first_seen_fn



ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"


class _state_store_provider:
    """Set the state-store provider conf for a query START and restore the
    previous value on exit. StreamExecution snapshots the session conf when
    the query starts, so the running query keeps the provider while later
    queries (and concurrent batch work) see the prior one."""

    def __init__(self, spark: SparkSession, state_store: str):
        if state_store not in ("hdfs", "rocksdb"):
            raise ValueError(f"state_store must be hdfs|rocksdb: {state_store}")
        self.spark, self.state_store = spark, state_store

    def __enter__(self):
        if self.state_store == "hdfs":
            return  # engine default; leave the session conf alone
        try:
            self.prev = self.spark.conf.get(_PROVIDER_KEY)
        except Exception:
            self.prev = None
        self.spark.conf.set(_PROVIDER_KEY, ROCKSDB_PROVIDER)

    def __exit__(self, *exc):
        if self.state_store == "hdfs":
            return
        if self.prev is None:
            self.spark.conf.unset(_PROVIDER_KEY)
        else:
            self.spark.conf.set(_PROVIDER_KEY, self.prev)


def streaming_first_seen(
    spark: SparkSession, input_dir: str, cfg: DedupConfig,
    state_ttl_ms: int | None = None,
    state_store: str = "hdfs",
):
    """Streaming query emitting exactly one row per norm_sha ever seen
    (memory sink 'first_seen', append mode). Returns the StreamingQuery.

    state_ttl_ms bounds the state store for unbounded key universes: keys
    idle past the TTL are evicted (see module docstring for the re-emit
    tradeoff).

    state_store='rocksdb' swaps HDFSBackedStateStoreProvider (all live
    state in executor heap) for RocksDB: per-key entries live on executor
    LOCAL DISK behind a block cache, so state capacity is bounded by disk,
    not heap -- at 10^12 keys x ~100 bytes the heap store is impossible
    while RocksDB shards ~100 TB of state across a large cluster's disks.
    Semantics are identical; progress reports rocksdb* custom metrics
    (pinned by test).

    Execution-model caveat (pinned by test): with ProcessingTimeTimeout,
    FlatMapGroupsWithStateExec.shouldRunAnotherBatch is always true, so the
    engine constructs a batch EVERY trigger even with no new data (that is
    how idle-key timeouts get a chance to fire). Two consequences:
      * the query MUST be paced with a processing-time trigger (below),
        else the default as-fast-as-possible trigger busy-loops empty
        micro-batches on a full core;
      * `noNewData` is never latched, so StreamingQuery.processAllAvailable
        NEVER RETURNS on a TTL stream -- callers must poll the sink /
        recentProgress instead (see tests/test_streaming.py helpers)."""
    stream = (
        spark.readStream.schema(FILES_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )
    normalized = ingest_normalize(stream, cfg).select(
        "norm_sha", "file_id", "repo", "path"
    )
    deduped = normalized.groupBy("norm_sha").applyInPandasWithState(
        make_first_seen_fn(state_ttl_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if state_ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )
    writer = deduped.writeStream.outputMode("append").format("memory")
    if state_ttl_ms is not None:
        # pace the timeout-driven empty batches (docstring caveat); half the
        # TTL keeps eviction latency < 1.5*TTL without busy-looping
        writer = writer.trigger(
            processingTime=f"{max(state_ttl_ms // 2, 100)} milliseconds"
        )
    with _state_store_provider(spark, state_store):
        return writer.queryName("first_seen").start()
