"""Hybrid search service — standing BM25 + IVF indexes behind one lookup
API, fused with RRF; HTTP-served like the feature platform.

The retrieval twin of `api/feature_store`: build both standing indexes
once (inverted text index from `operators/retrieval`, partitioned vector
index from `operators/vector_index`), then serve repeated query batches
without re-scanning the corpus:

  svc = SearchService.build(spark, docs, emb, path)     # one-time
  svc.search_text(queries_df, k)                        # sparse only
  svc.search_hybrid(queries_df, k)                      # BM25 ∪ ANN → RRF

`search_hybrid` expects queries carrying BOTH a text (`qtext`) and an
embedding (`qvec`) column — the standard bi-encoder serving shape; either
leg alone degrades gracefully (a query missing from one ranking just gets
that list's contribution dropped, the RRF contract).

Serving cost per batch: BM25 probes only the query terms' postings
(broadcast prune), the IVF probe scans n_probe/n_lists of the vector
postings via partition pruning, and the fusion is a tiny integer groupBy
over ~queries × k × 2 rows. The text index frames are cached after the
first batch (the `FeatureService` persist discipline).

HTTP: `SearchServer` wraps the service in the same stdlib server as
`api/serving.FeatureServer`:

POST /search
  {"queries": [{"query_id": 1, "qtext": "...", "qvec": [...]}, ...],
   "k": 10, "mode": "hybrid" | "text"}
→ 200 {"results": [{"query_id": 1, "rank": 1, "doc_id": 7, ...}, ...]}
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from volga_spark.api.serving import JsonPostServer
from volga_spark.operators.retrieval import (
    bm25_index,
    bm25_topk_from_index,
    rrf_fuse,
)
from volga_spark.operators.vector_index import IvfIndex


class SearchService:
    def __init__(self, spark: SparkSession, text_index, ivf: IvfIndex | None):
        self.spark = spark
        self.text_index = text_index  # (postings, doclen, stats)
        self.ivf = ivf
        self._cached = False

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        docs: DataFrame,
        embeddings: DataFrame | None,
        path: str,
        n_lists: int = 32,
        id_col: str = "doc_id",
        text_col: str = "text",
        emb_id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "SearchService":
        """Build both standing indexes. The text index is three additive
        frames (kept as DataFrames, cached on first use; persist them with
        `streaming/index_maintenance` under ingest); the vector index
        lands at `path` hive-partitioned."""
        ti = bm25_index(docs, id_col, text_col)
        ivf = None
        if embeddings is not None:
            ivf = IvfIndex.build(
                embeddings, path, n_lists=n_lists,
                id_col=emb_id_col, vec_col=vec_col,
            )
        return cls(spark, ti, ivf)

    def _ensure_cached(self) -> None:
        if not self._cached:
            postings, doclen, stats = self.text_index
            self.text_index = (
                postings.persist(), doclen.persist(), stats.persist(),
            )
            self._cached = True

    def search_text(self, queries: DataFrame, k: int = 10) -> DataFrame:
        """(query_id, qtext) → BM25 top-k."""
        self._ensure_cached()
        return bm25_topk_from_index(self.text_index, queries, k=k)

    def search_hybrid(
        self, queries: DataFrame, k: int = 10, n_probe: int = 4
    ) -> DataFrame:
        """(query_id, qtext, qvec) → RRF-fused BM25 ∪ IVF-ANN top-k.
        Returns (query_id, rank, doc_id, rrf_nano, n_lists)."""
        if self.ivf is None:
            raise ValueError("no vector index — use search_text")
        self._ensure_cached()
        sparse = bm25_topk_from_index(
            self.text_index, queries.select("query_id", "qtext"), k=k
        )
        dense = self.ivf.topk(
            queries.select("query_id", F.col("qvec").alias(self.ivf.vec_col)),
            k=k,
            n_probe=n_probe,
        ).select(
            "query_id", "rank", F.col("neighbor_id").alias("doc_id")
        )
        return rrf_fuse([sparse.select("query_id", "rank", "doc_id"), dense], k=k)


class SearchServer(JsonPostServer):
    """Serve a SearchService over HTTP on localhost:port (0 = ephemeral) —
    the same stdlib daemon-thread server as api/serving.FeatureServer."""

    route = "/search"

    def __init__(self, spark, service: SearchService, port: int = 0):
        self.spark = spark
        self.service = service
        super().__init__(port)

    def handle(self, body: dict) -> dict:
        qs = body["queries"]
        k = int(body.get("k", 10))
        if body.get("mode", "text") == "hybrid":
            qdf = self.spark.createDataFrame(
                [
                    (int(q["query_id"]), q.get("qtext", ""),
                     [float(x) for x in q["qvec"]])
                    for q in qs
                ],
                "query_id bigint, qtext string, qvec array<float>",
            )
            out = self.service.search_hybrid(qdf, k=k)
        else:
            qdf = self.spark.createDataFrame(
                [(int(q["query_id"]), q["qtext"]) for q in qs],
                "query_id bigint, qtext string",
            )
            out = self.service.search_text(qdf, k=k)
        return {"results": [r.asDict() for r in out.collect()]}
