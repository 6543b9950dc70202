"""MLlib-backed dedup/ANN variants cross-checked against the hand-rolled
paths, plus the fitted-Transformer-on-a-stream shape (Structured Streaming
+ MLlib feature engineering)."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from volga_spark.tables import load_table


def test_mllib_minhash_agrees_with_exact_jaccard(spark, sf_dir):
    """MLlib MinHashLSH pairs at threshold 0.7 vs the exact shingle-Jaccard
    verifier: every MLlib pair's exact Jaccard must be near-threshold, and
    the known exact near-dups (hand-rolled pipeline) must be recovered."""
    from volga_spark.operators.dedup import exact_jaccard_pairs
    from volga_spark.operators.mllib import mllib_minhash_pairs

    d = load_table(spark, sf_dir, "documents")
    got = mllib_minhash_pairs(d, "text", "doc_id", jaccard_threshold=0.7)
    pairs = got.select("id_a", "id_b")
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in exact_jaccard_pairs(d, pairs, "text", "doc_id", n=3).collect()
    }
    rows = got.collect()
    assert rows, "MLlib minhash produced no pairs"
    for r in rows:
        # hashed-shingle jaccard ≈ string-shingle jaccard (2^18 buckets)
        assert abs(exact[(r.id_a, r.id_b)] - r.jaccard) < 0.1, r

    # recall vs the hand-rolled pipeline's verified near-dups
    from volga_spark.operators.dedup import lsh_candidate_pairs, signatures

    sigs = signatures(d.select("doc_id", "text"), "text", ("minhash",), k=64, n=3)
    cands = lsh_candidate_pairs(sigs, "doc_id")
    truth = {
        (r.id_a, r.id_b)
        for r in exact_jaccard_pairs(d, cands, "text", "doc_id", n=3)
        .filter(F.col("jaccard") >= 0.8)  # clear of the 0.7 boundary
        .collect()
    }
    found = {(r.id_a, r.id_b) for r in rows}
    if truth:
        recall = len(truth & found) / len(truth)
        assert recall >= 0.8, f"MLlib minhash recall {recall} vs hand-rolled truth"


def test_mllib_brp_ann_recall(spark, sf_dir):
    from volga_spark.operators.mllib import mllib_brp_ann
    from volga_spark.operators.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(emb, queries, k=5).collect()
    approx = mllib_brp_ann(emb, queries, k=5).collect()
    truth = {(r.query_id, r.neighbor_id) for r in exact}
    found = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(truth & found) / len(truth)
    assert recall >= 0.7, f"BRP-LSH recall too low: {recall}"
    # normalized-space identity d² = 2−2cos makes scores true cosines
    for r in approx:
        assert -1.0 - 1e-9 <= r.score <= 1.0 + 1e-9


def test_fitted_transformer_applies_to_stream(spark, tmp_path):
    """Fit HashingTF-based shingle features on a batch frame, apply the SAME
    transformer to a streaming frame — the batch/stream reuse MLlib's
    Transformer contract guarantees."""
    from volga_spark.operators.mllib import shingle_features
    from volga_spark.streaming.runner import run_available_now_to_memory

    d = str(tmp_path / "docs")
    os.makedirs(d)
    pdf = pd.DataFrame(
        {"doc_id": [1, 2], "text": ["a b c d e", "c d e f g"]}
    )
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   os.path.join(d, "part0.parquet"))

    stream = spark.readStream.schema("doc_id bigint, text string").parquet(d)
    out = shingle_features(stream, "text")
    res = run_available_now_to_memory(
        out.select("doc_id", "features"), output_mode="append"
    ).collect()
    assert len(res) == 2
    batch = {
        r["doc_id"]: r["features"]
        for r in shingle_features(
            spark.createDataFrame(pdf), "text"
        ).select("doc_id", "features").collect()
    }
    for r in res:
        assert r["features"] == batch[r["doc_id"]]
