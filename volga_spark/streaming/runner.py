"""Streaming execution helpers + sinks (SURVEY §2.2, §2.12).

``run_available_now_to_memory`` reproduces the reference's end-of-stream
semantics (emit on MAX_WATERMARK — reference
src/runtime/operators/aggregate/aggregate_operator.rs:253-268) with the
``availableNow`` trigger: process everything, flush, stop.

``upsert_by_key`` is the reference's keyed upsert sink
(InMemoryStorageGrpcSinkConfig upsert path — reference
src/runtime/functions/sink/in_memory_storage_sink.rs): ``foreachBatch``
maintains latest-row-per-key state as a VERSIONED PARQUET STATE TABLE
merged entirely executor-side — each micro-batch reduces to its per-key
latest delta, outer-merges against the previous state version with a
priority window, and writes the next version. No ``toPandas``/driver state
anywhere in the loop; the driver tracks only an integer version. This is
the poor-man's ``MERGE INTO`` — on a cluster, point the same logic at a
Delta/Iceberg table and the per-batch cost becomes O(delta), not O(state);
the versioned-rewrite variant here is O(state)/batch, which is the
documented trade for not shipping a table format in this image.
"""

from __future__ import annotations

import os
import shutil
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# 8 measured fastest on local[32] at sf0.1 (vs 16: -22% on the stateful
# sliding query, -20% on streaming agg; vs 4: stateful loses parallelism).
# Per-query widths (the ``width`` argument below) override it.
STREAM_SHUFFLE = 8


def python_handler_width(spark: "SparkSession") -> int:
    """Stream-shuffle width for queries whose per-batch payload is a heavy
    PYTHON handler (the tiled windows): the full core count wins there
    (~16% at sf0.1 on local[32]), but a HARD-CODED 32 mis-sizes the state
    shuffle when the same bench runs at a lower core count (the driver
    measures core-scaling) or on a cluster. Derive it from the scheduler's
    actual parallelism instead (r13 optimization round, guide §2:
    scale-adaptive partitioning, never a local-mode constant)."""
    return max(int(spark.sparkContext.defaultParallelism), 1)

# offset/commit logs + state snapshots go to tmpfs when available: the logs
# are per-micro-batch fsync'd small files, pure latency on a local run (a
# cluster would point this at fast local/HDFS storage via config instead)
_CKPT_ROOT = (
    "/dev/shm/volga_spark_ckpt"
    if os.access("/dev/shm", os.W_OK)
    else "/tmp/volga_spark_ckpt"
)


def _checkpoint_dir() -> str:
    return os.path.join(_CKPT_ROOT, uuid.uuid4().hex[:12])


@contextmanager
def _stream_shuffle(
    spark: SparkSession,
    width: int | str | None = None,
    no_data_batches: bool = False,
):
    """Bound state-store instance count for local streaming runs (the default
    200 shuffle partitions mean 200 state stores per stateful query — pure
    overhead under local[N]; on a real cluster size this to ~2-3x cores).

    ``width`` overrides the global default per query: JVM-stateful queries
    measured fastest at 8 (state-store commit cost dominates), but queries
    whose per-batch payload is a PYTHON handler (the tiled windows: ~16
    CPU-s of numpy sweep per run) want the full core count — 32 measured
    ~16% faster than 8 on the tiled pair at sf0.1.

    r14: no-data micro-batches are disabled by default for every
    run-to-completion stream driven through this harness. availableNow
    appends one empty batch after the data is drained (its purpose:
    advance the watermark so event-time state flushes) — but each batch
    costs the full framework floor (~0.5-1 s locally: task launch +
    state-store open/commit per partition), and every declared stream
    here either emits in complete mode or flushes via explicit
    PUNCTUATION rows (chunked_file_stream flush=True), so the empty batch
    does no work. Interleaved A/B at sf0.1: upsert −21%, tiled −15/−21%,
    sliding −6%, with RESULT HASHES identical across all queries (and the
    driver oracle re-verified). A pipeline relying on WATERMARK-ONLY
    final flush (append mode, no punctuation rows — e.g.
    ``assemble_trajectories_stream``) still needs the trailing empty
    batch: pass ``no_data_batches=True`` for that query."""
    key = "spark.sql.shuffle.partitions"
    nokey = "spark.sql.streaming.noDataMicroBatches.enabled"
    old = spark.conf.get(key)
    old_no = spark.conf.get(nokey, None)
    spark.conf.set(key, str(width if width is not None else STREAM_SHUFFLE))
    spark.conf.set(nokey, "true" if no_data_batches else "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)
        if old_no is None:
            spark.conf.unset(nokey)
        else:
            spark.conf.set(nokey, old_no)


def run_available_now_to_memory(
    df: DataFrame,
    output_mode: str = "complete",
    timeout_s: int = 300,
    stream_shuffle: int | None = None,
    no_data_batches: bool = False,
) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink; return the
    result as a (batch) DataFrame. ``no_data_batches=True`` keeps the
    trailing empty micro-batch — required by watermark-only-flush pipelines
    (see :func:`_stream_shuffle`)."""
    name = f"vs_mem_{uuid.uuid4().hex[:10]}"
    spark = df.sparkSession
    ckpt = _checkpoint_dir()
    with _stream_shuffle(spark, stream_shuffle, no_data_batches):
        q = (
            df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(timeout_s)
        finally:
            if q.isActive:
                q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def _state_root() -> str:
    return os.path.join(_CKPT_ROOT, "state", uuid.uuid4().hex[:12])


def run_foreach_batch(
    stream: DataFrame, sink, timeout_s: int = 300, no_data_batches: bool = False
) -> None:
    """Run a streaming frame to completion (availableNow) through a
    ``foreachBatch`` sink: scratch checkpoint, narrow stream-shuffle
    width, stop-on-timeout, checkpoint cleanup. THE one run-to-completion
    harness — every stateful maintainer (upsert, CDC, IVM, histogram,
    near-dup filter, index/tile sinks) drives its epoch-retry sink
    through this, so the retry/cleanup discipline lives in one place.
    ``no_data_batches=True`` keeps the trailing empty micro-batch — same
    watermark-only-flush escape hatch as ``run_available_now_to_memory``
    (every in-repo sink is punctuation- or complete-mode-driven and keeps
    the cheaper default)."""
    spark = stream.sparkSession
    ckpt = _checkpoint_dir()
    with _stream_shuffle(spark, no_data_batches=no_data_batches):
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(timeout_s)
        finally:
            if q.isActive:
                q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)


def upsert_by_key(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    timeout_s: int = 300,
) -> DataFrame:
    """Run the stream with a foreachBatch keyed-upsert sink; return the final
    state (latest row per key; within a batch, last by ``order_cols``).

    Merge is fully executor-side: per batch, the delta (latest row per key
    in the batch) is unioned with the previous state version, a priority
    window keeps delta-over-state, and the result is written as the next
    state version. Retry idempotency: a retry after a FAILED write re-merges
    from the old version and overwrites the partial output; a retry after a
    COMMITTED write (tracked version == epoch) returns early and reuses it.
    The previous version is dropped only after the new one is committed.
    """
    spark = df.sparkSession
    root = _state_root()
    cur = {"version": None}

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import Window as W

        w = W.partitionBy(*key_cols).orderBy(
            *[F.col(c).desc() for c in order_cols]
        )
        delta = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .withColumn("__prio", F.lit(1))
        )
        prev_version = cur["version"]
        if prev_version == epoch_id:
            # Spark retried an epoch whose state version already committed:
            # reuse it — merging again would read root/v{epoch} while
            # overwriting the same path (Spark refuses), and the merge is
            # already durable
            return
        if prev_version is not None:
            prev = batch_df.sparkSession.read.parquet(
                f"{root}/v{prev_version}"
            ).withColumn("__prio", F.lit(0))
            w2 = W.partitionBy(*key_cols).orderBy(F.col("__prio").desc())
            merged = (
                delta.unionByName(prev)
                .withColumn("__rn", F.row_number().over(w2))
                .filter(F.col("__rn") == 1)
                .drop("__rn", "__prio")
            )
        else:
            merged = delta.drop("__prio")
        merged.write.mode("overwrite").parquet(f"{root}/v{epoch_id}")
        cur["version"] = epoch_id
        if prev_version is not None and prev_version != epoch_id:
            shutil.rmtree(f"{root}/v{prev_version}", ignore_errors=True)

    run_foreach_batch(df, sink, timeout_s)
    if cur["version"] is None:
        return spark.createDataFrame(
            [], schema=", ".join(f"{c} {t}" for c, t in df.dtypes)
        )
    return spark.read.parquet(f"{root}/v{cur['version']}")
