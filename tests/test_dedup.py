"""Validation for the approximate dedup pipelines (no SQL oracle):
signatures re-derived independently in Python; LSH recall measured against
exact Jaccard ground truth on a synthetic near-dup corpus."""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from volga_spark.operators.dedup import (
    _perm_params,
    exact_jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signature,
    signatures,
    simhash64,
    simhash_candidates,
    winnow_fingerprints,
)


@pytest.fixture(scope="module")
def corpus(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = []
    # 0/1: near-dups (one word changed); 2/3: exact dups; 4..: distinct
    rows.append((0, base))
    rows.append((1, base.replace("lazy", "sleepy")))
    rows.append((2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    rows.append((3, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    for i in range(4, 20):
        rows.append((i, " ".join(f"tok{i}_{j}" for j in range(12))))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_minhash_signature_matches_python_reference(spark, corpus):
    sigs = {
        r.doc_id: r.signature
        for r in signatures(corpus, "text", ("minhash",), k=64).collect()
    }
    a, b = _perm_params(64)
    for doc_id, text in [(0, None)]:
        pass
    texts = {r.doc_id: r.text for r in corpus.collect()}
    for doc_id, text in texts.items():
        expect = minhash_signature(text, 64, a, b).tolist()
        assert sigs[doc_id] == expect, doc_id


def test_lsh_finds_near_and_exact_dups(spark, corpus):
    sigs = signatures(corpus, "text", ("minhash",), k=64)
    cands = lsh_candidate_pairs(sigs, "doc_id")
    pairs = {(r.id_a, r.id_b) for r in cands.collect()}
    assert (2, 3) in pairs  # exact dup always collides
    assert (0, 1) in pairs  # high-jaccard near-dup collides at 16x4
    verified = exact_jaccard_pairs(corpus, cands, "text", "doc_id")
    j = {(r.id_a, r.id_b): r.jaccard for r in verified.collect()}
    assert j[(2, 3)] == 1.0
    assert 0.5 < j[(0, 1)] < 1.0


def test_simhash_matches_python_and_finds_dups(spark, corpus):
    sh = signatures(corpus, "text", ("simhash",))
    got = {r.doc_id: r.simhash for r in sh.collect()}
    texts = {r.doc_id: r.text for r in corpus.collect()}
    for doc_id, text in texts.items():
        assert got[doc_id] == simhash64(text), doc_id
    cands = simhash_candidates(sh, "doc_id")
    pairs = {(r.id_a, r.id_b) for r in cands.collect()}
    assert (2, 3) in pairs
    a = sh.filter(F.col("doc_id") == 0).collect()[0].simhash
    b = sh.filter(F.col("doc_id") == 1).collect()[0].simhash
    assert bin((a ^ b) & ((1 << 64) - 1)).count("1") < 16  # near-dup bits close


def test_winnow_fingerprints_match_python_and_detect_overlap(spark, corpus):
    fps = signatures(corpus, "text", ("winnow",))
    got = {r.doc_id: set(r.winnow_fps) for r in fps.collect()}
    texts = {r.doc_id: r.text for r in corpus.collect()}
    for doc_id, text in texts.items():
        assert got[doc_id] == set(winnow_fingerprints(text)), doc_id
    # exact dups share all fingerprints; near-dups share most
    assert got[2] == got[3]
    inter = len(got[0] & got[1]) / len(got[0] | got[1])
    assert inter > 0.5


def test_simhash_hot_bucket_prefix_split(spark):
    """Prefix-split: a hot band-0 bucket (30 docs sharing the low 16 bits)
    collapses from ~n² candidates to per-sub-bucket pairs, while a true
    near-dup pair (hamming 2, two clean bands) is still caught."""
    from volga_spark.operators.dedup import simhash_candidates

    rows = []
    # 30 docs: identical band 0 (low 16 bits), everything else spread out —
    # a classic boilerplate-concentrated hot bucket
    for i in range(30):
        sig = (i * 0x9E3779B1 & 0xFFFFFFFFFFFF) << 16 | 0x1234
        rows.append((i, sig - (1 << 63)))
    # docs 100, 101: hamming distance 2 (both flipped bits inside band 3),
    # bands 0-2 all equal — survives any single-band split
    base = 0x0123_4567_89AB_CDEF
    rows.append((100, base - (1 << 63)))
    rows.append((101, (base ^ (0b11 << 60)) - (1 << 63)))
    df = spark.createDataFrame(rows, "doc_id bigint, simhash bigint")

    plain = {
        (r.id_a, r.id_b)
        for r in simhash_candidates(df, "doc_id", bands=4).collect()
    }
    split = {
        (r.id_a, r.id_b)
        for r in simhash_candidates(
            df, "doc_id", bands=4, hot_bucket_threshold=10
        ).collect()
    }
    assert (100, 101) in plain and (100, 101) in split
    # the hot bucket contributed ~30*29/2 = 435 pairs unsplit; split keeps
    # only pairs agreeing on band 1 too (crafted to differ) → collapse
    assert len(plain) >= 435
    assert len(split) < len(plain) / 5, (len(split), len(plain))


def test_duplicated_ngram_spans_exact(spark):
    """Exact substring dedup: known corpus → known duplicated positions and
    merged spans (n=4 keeps the fixture readable)."""
    from volga_spark.operators.dedup import duplicated_ngram_spans

    shared_a = "alpha beta gamma delta epsilon"  # 5 tokens → 4-grams at 1,2
    shared_b = "omega psi chi phi"  # 4 tokens → one 4-gram
    docs = [
        # docs 1+2 share a 5-token prefix: dup 4-gram positions 1,2 → one
        # span [1, 2+3] = 5 tokens
        (1, shared_a + " unique tail one x1 y1 z1"),
        (2, shared_a + " different ending two x2 y2 z2"),
        # docs 3+4 share two far-apart regions → two spans in each
        (3, shared_a + " filler3a f3b f3c f3d f3e " + shared_b),
        (4, shared_a + " filler4a f4b f4c f4d f4e " + shared_b),
        # doc 5 fully unique → absent from output
        (5, "totally distinct words with no overlap at all here"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {
        r.doc_id: (r.n_dup_positions, r.n_spans, r.dup_tokens)
        for r in duplicated_ngram_spans(df, "text", "doc_id", n=4).collect()
    }
    assert 5 not in got
    # docs 1,2: positions 1,2 → one merged span of 5 tokens
    assert got[1] == (2, 1, 5)
    assert got[2] == (2, 1, 5)
    # docs 3,4: prefix span (5 tokens) + the shared_b 4-gram at the tail
    # (positions 11..11 → 4 tokens) → 2 spans, 3 dup positions, 9 tokens
    assert got[3] == (3, 2, 9)
    assert got[4] == (3, 2, 9)


def test_decontaminate_flags_benchmark_overlap(spark):
    """13-gram decontamination: docs embedding an eval example's text are
    flagged; clean docs aren't; counts are distinct contaminated grams."""
    from volga_spark.operators.dedup import decontaminate

    eval_q = " ".join(f"evaltok{i}" for i in range(15))  # 15 tokens → 3 13-grams
    corpus = spark.createDataFrame(
        [
            (1, "prefix words here " + eval_q + " suffix trailing"),
            (2, " ".join(f"clean{i}" for i in range(40))),
            (3, eval_q),  # verbatim benchmark item
        ],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame([(eval_q,)], "q string")
    out = {
        r.doc_id: (r.contaminated, r.n_contaminated_grams)
        for r in decontaminate(
            corpus, bench, "text", "doc_id", bench_text_col="q"
        ).collect()
    }
    assert out[2] == (False, 0)
    assert out[3] == (True, 3)  # 15 tokens → 3 distinct 13-grams, all hit
    assert out[1][0] is True and out[1][1] >= 3
    # plan: benchmark grams must broadcast (no wide shuffle of corpus text)
    plan = decontaminate(corpus, bench, "text", "doc_id", bench_text_col="q")
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        plan.explain("formatted")
    assert "BroadcastHashJoin" in buf.getvalue()


def test_winnow_skew_guard_prunes_boilerplate(spark):
    """Σdf² skew guard: a boilerplate-heavy corpus (shared header in every
    doc) must trigger the histogram guard, prune the hot fingerprints, and
    still find true near-dup pairs through their distinctive content."""
    import warnings as _warnings

    from volga_spark.operators.dedup import winnow_candidate_pairs

    boiler = "the quick brown fox jumps over the lazy dog " * 30
    docs = [
        (i, boiler + f"unique tail number {i} with filler {i * 7919}")
        for i in range(60)
    ]
    vol = "completely distinct content about volcanoes erupting magma " * 10
    docs.append((100, vol))
    docs.append((101, vol + " plus one extra trailing sentence"))
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    fps = signatures(df, "text", ("winnow",)).select(
        "doc_id", F.explode("winnow_fps").alias("fp")
    )

    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        pairs, n_pruned = winnow_candidate_pairs(
            fps, "doc_id", sum_df2_limit=1_000, max_fp_freq=10
        )
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert n_pruned > 0
    assert any("candidate volume" in str(w.message) for w in caught)
    # the true near-dup pair survives on its distinctive fingerprints
    assert (100, 101) in got
    # boilerplate-only pairs collapsed (ungated would be ~60*59/2 ≈ 1770)
    assert len(got) < 200

    # under the limit: no prune, no warning
    with _warnings.catch_warnings(record=True) as caught2:
        _warnings.simplefilter("always")
        _, n_pruned2 = winnow_candidate_pairs(
            fps, "doc_id", sum_df2_limit=10**12, max_fp_freq=10
        )
    assert n_pruned2 == 0
    assert not any("candidate volume" in str(w.message) for w in caught2)


def test_simhash_band_guard_and_fused_verify(spark, corpus):
    import pytest as _pytest

    sh = signatures(corpus, "text", ("simhash",))
    # bands must divide 64 (banding scale rule is meaningless otherwise)
    with _pytest.raises(ValueError, match="divide 64"):
        simhash_candidates(sh, "doc_id", bands=5)
    # pigeonhole recall only holds for radius < bands
    with _pytest.raises(ValueError, match="recall"):
        simhash_candidates(sh, "doc_id", bands=4, radius=4)
    # fused hamming verify == unfused candidates + explicit hamming filter
    fused = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_candidates(sh, "doc_id", bands=4, radius=3).collect()
    }
    sigs = {r.doc_id: r.simhash for r in sh.collect()}
    unfused = set()
    for r in simhash_candidates(sh, "doc_id", bands=4).collect():
        h = bin((sigs[r.id_a] ^ sigs[r.id_b]) & ((1 << 64) - 1)).count("1")
        if h <= 3:
            unfused.add((r.id_a, r.id_b, h))
    assert fused == unfused and (2, 3, 0) in fused


def test_signatures_match_scalar_references(spark, sf_dir):
    """The one signature pass, all families requested, against the scalar
    references on an 80-document sample: MinHash == minhash_signature,
    SimHash == simhash64, winnow_fps == the sorted distinct
    winnow_fingerprints, grams == one hash per distinct word 3-gram."""
    from volga_spark.operators.dedup import word_shingles
    from volga_spark.tables import load_table

    rows = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(80).collect()
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = signatures(
        d, "text", ("grams", "winnow", "simhash", "minhash"), k=64, n=3
    )
    # canonical column order whatever the request order; text is consumed
    assert out.columns == ["doc_id", "signature", "simhash", "winnow_fps", "grams"]
    got = {r["doc_id"]: r for r in out.collect()}
    texts = {r["doc_id"]: r["text"] for r in rows}
    assert set(got) == set(texts) and len(texts) == 80
    a, b = _perm_params(64)
    for i, text in texts.items():
        r = got[i]
        assert r["signature"] == minhash_signature(text, 64, a, b, n=3).tolist(), i
        assert r["simhash"] == simhash64(text), i
        assert r["winnow_fps"] == sorted(set(winnow_fingerprints(text))), i
        assert len(r["grams"]) == len(set(word_shingles(text))), i
    with pytest.raises(ValueError, match="signature families"):
        signatures(d, "text", ("minhash", "bogus"))


def test_candidate_core_one_bucket_exchange_no_sort_merge(spark, corpus):
    """The shared candidate core keeps r13's "one exchange, no sort" shape
    for every family: the bucket rows cross exactly one exchange on the
    bucket key, below the in-stage pair expansion, and no pair comes from
    a sort-merge self-join. (Within-set grams are broadcast, the streaming
    shape, so its verify joins cannot be sort-merge either.)"""
    import re

    from volga_spark.operators.dedup import (
        banded_buckets,
        winnow_candidate_pairs,
        within_set_verified_pairs,
    )

    sigs = signatures(corpus, "text", ("minhash", "simhash", "winnow", "grams"))
    fps = sigs.select(
        "doc_id",
        F.size("winnow_fps").cast("bigint").alias("n_fp"),
        F.explode("winnow_fps").alias("fp"),
    )
    within = within_set_verified_pairs(
        banded_buckets(sigs, "doc_id"), sigs, "doc_id", 0.7, broadcast_grams=True
    )
    cases = {
        "lsh": (lsh_candidate_pairs(sigs, "doc_id"), ["band", "bucket"]),
        # the cold-path chunk2 is a constant the planner folds into the key
        "simhash": (
            simhash_candidates(sigs, "doc_id", bands=4, radius=3),
            ["band", "chunk"],
        ),
        "winnow": (winnow_candidate_pairs(fps, "doc_id")[0], ["fp"]),
        "within_set": (within, ["band", "bucket"]),
    }
    for name, (df, key) in cases.items():
        p = df._jdf.queryExecution().executedPlan().toString()
        keyed = r"Exchange hashpartitioning\(" + ", ".join(
            rf"{c}#\d+L?" for c in key
        ) + ","
        hits = [m.start() for m in re.finditer(keyed, p)]
        assert len(hits) == 1, (name, p)
        assert "SortMergeJoin" not in p, (name, p)
        assert -1 < p.find("Generate explode") < hits[0], (name, p)


def test_lsh_hot_bucket_split_exact(spark, corpus):
    """r14 memory guard: with hot_bucket_threshold set, buckets over the
    threshold take the streaming SELF-JOIN path instead of materializing
    the member list in one collect_list buffer — the pair set must be
    IDENTICAL (the split is exact, unlike simhash's recall-trading
    prefix-split)."""
    sigs = signatures(corpus, "text", ("minhash",), k=64)
    base = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(sigs, "doc_id").collect()
    }
    # threshold 1 forces EVERY multi-member bucket down the hot join path
    forced = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(
            sigs, "doc_id", hot_bucket_threshold=1
        ).collect()
    }
    assert forced == base and base, "hot-split changed the pair set"
    # mixed regime: some buckets hot, some cold
    mixed = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(
            sigs, "doc_id", hot_bucket_threshold=2
        ).collect()
    }
    assert mixed == base


def test_lsh_hot_bucket_threshold_rejects_non_positive(spark, corpus):
    """A threshold <= 0 would send every bucket down the hot self-join path
    (exact but pathological): it fails loudly and names the knob."""
    sigs = signatures(corpus, "text", ("minhash",), k=64)
    for bad in (0, -5):
        with pytest.raises(ValueError, match="hot_bucket_threshold"):
            lsh_candidate_pairs(sigs, "doc_id", hot_bucket_threshold=bad)


def test_lsh_hot_bucket_no_collect_list_for_hot(spark):
    """A degenerate bucket (every doc identical ⇒ all 16 bands collide)
    above the threshold is paired via the join path: the pair COUNT is
    exact and the grouped path's collect_list never sees the hot bucket.
    2k identical docs ⇒ C(2000,2) pairs; list buffers stay ≤ threshold."""
    import pandas as pd

    n = 2000
    rows = [(i, "same words everywhere all the time again and again") for i in range(n)]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    sigs = signatures(docs, "text", ("minhash",), k=64)
    pairs = lsh_candidate_pairs(sigs, "doc_id", hot_bucket_threshold=100)
    assert pairs.count() == n * (n - 1) // 2
