"""Cached-block lifecycle for iterative/reused-subtree operators.

Several operators pin executor storage via ``localCheckpoint`` so a subtree
feeding multiple plan branches (LSH banding self-joins, the shared-shingle
join, connected-components rounds) executes once instead of N times. Spark
has no DataFrame-level API to release those blocks (``DataFrame.unpersist``
only drops the catalog cache entry, and touching ``.rdd`` to unpersist the
underlying RDD is banned engine-wide — it finalizes the AQE plan and can
re-execute upstream stages).

Retention contract: checkpointed blocks live until the session ends or
``release_cached_blocks`` is called. Library callers running many dedup /
clustering queries in one long-lived session should call it between queries
(it is what ``bench.py`` does per trial); a one-query-per-job deployment can
ignore it.

Serving state is the exception: the request services (tiled, rows, pipeline)
``pin`` their state for the service's lifetime, remember each pin's RDD id,
and release exactly those blocks with ``release_checkpoint_ids`` on
``close()``/``refresh()`` — never a blanket clear of other callers' pins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def release_cached_blocks(spark: SparkSession) -> None:
    """Release every persistent RDD (including ``localCheckpoint`` blocks)
    plus the catalog cache. Safe to call between queries; never raises."""
    try:
        spark.catalog.clearCache()
    except Exception:  # noqa: BLE001 — cleanup must never fail the caller
        pass
    try:
        for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist()
    except Exception:  # noqa: BLE001
        pass


def checkpoint_rdd_id(df: DataFrame) -> int:
    """The persisted RDD id behind an (eager) ``localCheckpoint`` result.

    The checkpoint returns a DataFrame whose ANALYZED plan is a
    ``LogicalRDD`` wrapping exactly the RDD that was persisted, so the id
    is read off the plan — no global getPersistentRDDs diff, hence no race
    with concurrent persists elsewhere on the SparkContext (r13 advisor).
    JVM-plan introspection only; never touches Python ``DataFrame.rdd``."""
    return int(df._jdf.queryExecution().analyzed().rdd().id())


def pin(df: DataFrame) -> tuple[DataFrame, int]:
    """Pin serving state: coalesce to the scheduler's parallelism (a wide
    state cached at ~100 partitions launches ~100 near-empty probe tasks
    per request batch) and eagerly ``localCheckpoint`` — the checkpoint
    also truncates the plan to a ``LogicalRDD``, so per-batch plans stop
    re-analyzing the state's lineage. Returns ``(pinned, rdd_id)``; pass
    the id to :func:`release_checkpoint_ids` to free the blocks."""
    sc = df.sparkSession.sparkContext
    pinned = df.coalesce(sc.defaultParallelism).localCheckpoint(eager=True)
    return pinned, checkpoint_rdd_id(pinned)


def release_checkpoint_ids(sc, ids) -> None:
    """Targeted unpersist of checkpoint blocks by RDD id — never a blanket
    clear of other callers' persistent RDDs, and never raises (releases run
    from close()/serving paths)."""
    if not ids:
        return
    try:
        jmap = sc._jsc.getPersistentRDDs()
        for rid in ids:
            jrdd = jmap.get(rid)
            if jrdd is not None:
                jrdd.unpersist()
    except Exception:  # noqa: BLE001 — release must never fail
        pass
