"""Incremental near-dup ingestion gate vs an independent Python reference.

The reference simulation consumes the (already bit-equality-pinned)
MinHash signatures but reimplements banding + the gate with plain sets and
TUPLE bucket identity — so a Spark-side logic bug (wrong join direction,
dropped docs leaking into the index, within-batch ordering) cannot hide.
"""

from __future__ import annotations

import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from volga_spark.operators.dedup import banded_buckets, lsh_candidate_pairs, signatures
from volga_spark.operators.incremental import NearDupIndex
from volga_spark.tables import load_table

BANDS, ROWS, K = 16, 4, 64


def _corpus(spark, sf_dir):
    """documents + near-copies: for every 3rd doc add a copy with one token
    changed (id + 100000) — guaranteed LSH-hot pairs, deterministic."""
    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = (
        base.filter(F.col("doc_id") % 3 == 0)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.lit("zzq "), F.substring_index(F.col("text"), " ", 1000)).alias(
                "text"
            ),
        )
    )
    return base.unionByName(mutated)


def _sig_map(df):
    rows = signatures(df.select("doc_id", "text"), "text", ("minhash",), k=K).collect()
    return {r["doc_id"]: tuple(r["signature"]) for r in rows}


def _bucket_set(sig):
    return {
        (band, sig[band * ROWS : (band + 1) * ROWS]) for band in range(BANDS)
    }


def _ref_gate(order_batches, sigs, bootstrap_ids):
    index = set()
    for i in bootstrap_ids:
        index |= _bucket_set(sigs[i])
    verdicts = {}
    for batch_ids in order_batches:
        batch_buckets = {i: _bucket_set(sigs[i]) for i in batch_ids}
        for i in batch_ids:
            dup_index = bool(batch_buckets[i] & index)
            dup_batch = any(
                j < i and (batch_buckets[i] & batch_buckets[j]) for j in batch_ids
            )
            verdicts[i] = (dup_index, dup_batch)
        for i in batch_ids:
            if not (verdicts[i][0] or verdicts[i][1]):
                index |= batch_buckets[i]
    return verdicts


@pytest.fixture()
def index_path(tmp_path):
    p = str(tmp_path / f"ndidx_{uuid.uuid4().hex[:8]}")
    yield p
    shutil.rmtree(p, ignore_errors=True)


def test_incremental_gate_matches_reference(spark, sf_dir, index_path):
    corpus = _corpus(spark, sf_dir)
    ids = sorted(r["doc_id"] for r in corpus.select("doc_id").collect())
    sigs = _sig_map(corpus)
    boot, b1, b2 = ids[:20], ids[20:45], ids[45:]

    nd = NearDupIndex(spark, index_path, bands=BANDS, rows=ROWS, k=K)
    nd.bootstrap(corpus.filter(F.col("doc_id").isin(boot)), "text", "doc_id")
    got = {}
    for batch_ids in (b1, b2):
        out = nd.process_batch(
            corpus.filter(F.col("doc_id").isin(batch_ids)), "text", "doc_id"
        ).collect()
        for r in out:
            got[r["doc_id"]] = (r["dup_index"], r["dup_batch"])

    ref = _ref_gate([b1, b2], sigs, boot)
    assert set(got) == set(ref)
    mismatches = {i: (got[i], ref[i]) for i in got if got[i] != ref[i]}
    assert not mismatches, mismatches
    # the mutated near-copies whose originals are indexed must be caught
    caught = [i for i in got if i >= 100000 and (i - 100000) in boot + b1 + b2]
    flagged = [i for i in caught if got[i][0] or got[i][1]]
    assert len(flagged) >= len(caught) * 0.8  # 16x4 banding recall on 1-token edits


def test_banding_mirrors_lsh_candidate_pairs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(30)
    sig = signatures(docs, "text", ("minhash",), k=K).localCheckpoint(eager=True)
    expected = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(sig, "doc_id", BANDS, ROWS).collect()
    }
    b = banded_buckets(sig, "doc_id", BANDS, ROWS)
    x, y = b.alias("x"), b.alias("y")
    got = {
        (r["id_a"], r["id_b"])
        for r in x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b"))
        .distinct()
        .collect()
    }
    assert got == expected


def test_index_probe_broadcasts_batch_side(spark, sf_dir, index_path):
    corpus = _corpus(spark, sf_dir)
    nd = NearDupIndex(spark, index_path, bands=BANDS, rows=ROWS, k=K)
    nd.bootstrap(corpus.limit(20), "text", "doc_id")
    sig = signatures(corpus.limit(5), "text", ("minhash",), k=K)
    nb = banded_buckets(sig, "doc_id", BANDS, ROWS).alias("n")
    idx = nd.index_buckets().alias("i")
    probe = idx.join(
        F.broadcast(nb),
        (F.col("i.band") == F.col("n.band")) & (F.col("i.bucket") == F.col("n.bucket")),
    )
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probe.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rejects_mismatched_banding(spark, index_path):
    with pytest.raises(ValueError, match="bands"):
        NearDupIndex(spark, index_path, bands=8, rows=4, k=64)
