"""Incremental near-duplicate ingestion — dedup new batches against a
persistent corpus signature index.

The production crawl-ingestion shape: the historical corpus is represented
by a banded-MinHash BUCKET INDEX (id, band, bucket — 16 small ints per
doc, never the text), and each arriving batch is checked against it:

  1. signature the batch (one Arrow pass, `dedup.signatures`),
  2. band the signatures into LSH buckets (`dedup.banded_buckets`),
  3. join batch buckets against the index on (band, bucket) with the
     BATCH side broadcast — a micro-batch is thousands of docs vs a
     corpus index of billions of rows, so the index is NEVER shuffled:
     the broadcast hash probe runs map-side over the index scan (at
     100 TB the index is parquet partitioned by bucket range, and
     bucket-range pruning turns the probe into a partial scan),
  4. flag within-batch duplicates (bucket-collision pair with a
     smaller-id doc in the same batch — set-based, no iteration),
  5. append the KEPT docs' bucket rows to the index.

Semantics note (documented divergence from `q_dedup_clusters`): the batch
path resolves duplicate CHAINS with connected components (B dups A, C
dups only B → all one cluster, keep A). The ingest gate is deliberately
non-transitive — C is compared against the kept set and the batch's
earlier ids, and since dropped docs are not indexed, a doc whose only
match was itself dropped survives. That is the standard online-dedup
trade (each doc is judged against what the corpus actually keeps), and
the Python reference in tests/test_incremental.py mirrors it exactly.

Reference parity: the reference has no incremental dedup (its dedup story
is batch); this extends the training-data tier the same way
`q_stream_dedup` extends exact dedup to streams.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from volga_spark.operators.dedup import banded_buckets, signatures


class NearDupIndex:
    """Persistent banded-MinHash bucket index + the per-batch ingest gate.

    `process_batch` returns the batch ids with an `is_dup` flag
    (`dup_index` / `dup_batch` legs) and appends kept docs' bucket rows to
    the parquet index. Usable directly per micro-batch inside
    `foreachBatch` (see tests/test_incremental.py's streaming case).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        bands: int = 16,
        rows: int = 4,
        k: int = 64,
        shingle_n: int = 3,
    ) -> None:
        if bands * rows != k:
            raise ValueError(f"bands*rows must equal k: {bands}*{rows} != {k}")
        self.spark = spark
        self.path = path
        self.bands = bands
        self.rows = rows
        self.k = k
        self.shingle_n = shingle_n

    # -- index side ---------------------------------------------------------
    def _index_exists(self) -> bool:
        # local-fs check; on a cluster use the catalog / table format instead
        return os.path.isdir(self.path) and any(
            f.endswith(".parquet") for f in os.listdir(self.path)
        )

    def index_buckets(self) -> DataFrame:
        if self._index_exists():
            return self.spark.read.parquet(self.path)
        return self.spark.createDataFrame(
            [], "id bigint, band int, bucket int"
        )

    def bootstrap(self, df: DataFrame, text_col: str, id_col: str) -> None:
        """Seed the index from an existing (already deduped) corpus."""
        rows = self._buckets(df, text_col, id_col).withColumnRenamed(id_col, "id")
        rows.write.mode("append").parquet(self.path)

    def _buckets(self, df: DataFrame, text_col: str, id_col: str) -> DataFrame:
        sig = signatures(
            df.select(id_col, text_col), text_col, ("minhash",),
            k=self.k, n=self.shingle_n,
        )
        return banded_buckets(sig, id_col, self.bands, self.rows)

    # -- ingest gate --------------------------------------------------------
    def process_batch(
        self, batch: DataFrame, text_col: str, id_col: str
    ) -> DataFrame:
        """Gate one batch: returns (id, dup_index, dup_batch, is_dup) and
        appends the kept docs' bucket rows to the index."""
        # the bucket rows feed three consumers (index probe, self-join, the
        # index append) — pin them once; a micro-batch is small by contract
        buckets = self._buckets(batch, text_col, id_col).localCheckpoint(eager=True)

        # new-vs-index: broadcast the BATCH buckets; the index scan streams
        idx = self.index_buckets().alias("i")
        nb = buckets.alias("n")
        hit_index = (
            idx.join(
                F.broadcast(nb),
                (F.col("i.band") == F.col("n.band"))
                & (F.col("i.bucket") == F.col("n.bucket")),
            )
            .select(F.col(f"n.{id_col}").alias("_hit_id"))
            .distinct()
        )

        # new-vs-new: bucket-collision pair with a smaller id in this batch
        a, b = buckets.alias("a"), buckets.alias("b")
        hit_batch = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col(f"a.{id_col}") > F.col(f"b.{id_col}")),
            )
            .select(F.col(f"a.{id_col}").alias("_hit_id"))
            .distinct()
        )

        ids = batch.select(id_col)
        verdict = (
            ids.join(
                hit_index.withColumnRenamed("_hit_id", id_col).withColumn(
                    "dup_index", F.lit(True)
                ),
                id_col,
                "left",
            )
            .join(
                hit_batch.withColumnRenamed("_hit_id", id_col).withColumn(
                    "dup_batch", F.lit(True)
                ),
                id_col,
                "left",
            )
            .select(
                id_col,
                F.coalesce("dup_index", F.lit(False)).alias("dup_index"),
                F.coalesce("dup_batch", F.lit(False)).alias("dup_batch"),
            )
            .withColumn("is_dup", F.col("dup_index") | F.col("dup_batch"))
            .localCheckpoint(eager=True)
        )

        kept = verdict.filter(~F.col("is_dup")).select(id_col)
        buckets.join(kept, id_col).withColumnRenamed(id_col, "id").write.mode(
            "append"
        ).parquet(self.path)
        return verdict
