"""Deduplication operators for training-data pipelines.

Exact dedup groups on a content fingerprint (md5) and keeps the smallest
id; shuffle keys are 16-byte digests, never the documents themselves.

The near-dup tier is one filter→verify core (the filter/verify split of
"Highly Efficient String Similarity Search and Join over Compressed
Indexes", ICDE 2022) that each family parameterises:

1. **Signature pass** — `signatures`: ONE Python pass (numpy,
   Arrow-batched, token digests cached per partition) emits only the
   requested families: MinHash-k over word-shingle hashes, the 64-bit
   SimHash, winnowing fingerprints, and the distinct shingle-hash set.
   The scalar functions `minhash_signature`, `simhash64` and
   `winnow_fingerprints` are the independent test oracles.
2. **Bucket** — `banded_buckets` cuts MinHash signatures into LSH band
   buckets (the one banding: batch pairs, the within-set verify, the
   streaming filter and the incremental index agree on bucket ids);
   SimHash buckets on 64/bands-bit chunks; winnowing on the fingerprint.
3. **Candidate pairs** — `_bucket_pairs`: one groupBy on the bucket key,
   the member list expanded to ordered pairs in-stage (one exchange, no
   sort), with LSH's exact hot-bucket self-join split as an option.
4. **Verify** — exact n-gram Jaccard (`exact_jaccard_pairs`), the native
   gram-set Jaccard (`within_set_verified_pairs`), a fused Hamming
   filter, or winnow containment.

Exact-substring dedup (`duplicated_ngram_spans`, `remove_duplicated_spans`)
shares one stride-1 positional gram hasher; decontamination and CCNet
paragraph dedup close the module.

Hashing is a fixed-seed 31-bit multiplicative scheme over md5 digests —
deterministic across engines/processes (Python's builtin hash() is salted;
never use it in distributed code).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from volga_spark.partitioning import widen_for_python

from volga_spark._pickle import register_by_value

# 31-bit Mersenne prime domain: (a*h + b) stays < 2^62, so the permutation
# sweep vectorizes in plain int64 (61-bit would need object-dtype bigints,
# ~10x slower). 2^31 slots vs ~10^3 shingles/doc → collision-negligible.
MERSENNE = (1 << 31) - 1
_MAX = (1 << 31) - 2


def _stable_h61(s: str) -> int:
    """Deterministic 31-bit hash of a string (md5-based, unsalted)."""
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "little") % MERSENNE


def _perm_params(k: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MAX, size=k, dtype=np.int64)
    b = rng.randint(0, _MAX, size=k, dtype=np.int64)
    return a, b


def word_shingles(text: str, n: int = 3) -> list[str]:
    toks = text.split()
    if len(toks) < n:
        return [" ".join(toks)] if toks else []
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


# shingle hash = Horner combination of md5 token hashes in base _SHINGLE_B
# (mod after every step keeps intermediates < 2^51 — no int64 overflow).
# md5 runs once per UNIQUE TOKEN, not per shingle string: ~n× fewer digest
# calls and no per-shingle string joins, the dominant cost at corpus scale.
_SHINGLE_B = 1_000_003


def _shingle_hashes(toks: list[str], n: int, tok_h: dict) -> np.ndarray:
    """Distinct shingle hashes of a token list (vectorized Horner sweep)."""
    if not toks:
        return np.empty(0, dtype=np.int64)
    th = np.fromiter((tok_h[t] for t in toks), dtype=np.int64, count=len(toks))
    if len(th) < n:
        acc = 0
        for v in th:
            acc = (acc * _SHINGLE_B + int(v)) % MERSENNE
        return np.array([acc], dtype=np.int64)
    m = len(th) - n + 1
    acc = th[:m].copy()
    for j in range(1, n):
        acc = (acc * _SHINGLE_B + th[j : j + m]) % MERSENNE
    return np.unique(acc)


def minhash_signature(text: str, k: int, a: np.ndarray, b: np.ndarray, n: int = 3) -> np.ndarray:
    """Single-document reference path — same scheme as the batched Spark
    pass (tests assert bit-equality between the two)."""
    toks = text.split()
    tok_h = {t: _stable_h61(t) for t in set(toks)}
    hv = _shingle_hashes(toks, n, tok_h)
    if hv.size == 0:
        return np.full(k, MERSENNE, dtype=np.int64)
    # (a*h + b) mod p for each permutation — vectorized, fits int64
    m = (hv[None, :] * a[:, None] + b[:, None]) % MERSENNE
    return np.min(m, axis=1)


# output column and type of each signature family, in emission order
_FAMILIES = {
    "minhash": ("signature", T.ArrayType(T.LongType())),
    "simhash": ("simhash", T.LongType()),
    "winnow": ("winnow_fps", T.ArrayType(T.LongType())),
    "grams": ("grams", T.ArrayType(T.LongType())),
}


def signatures(
    df: DataFrame,
    text_col: str,
    families: tuple[str, ...],
    k: int = 64,
    n: int = 3,
    winnow_k: int = 5,
    winnow_window: int = 8,
) -> DataFrame:
    """``df``'s columns minus ``text_col``, plus one column per requested
    family, from ONE Arrow-batched Python pass:

    - ``"minhash"`` → ``signature array<bigint>``: MinHash-k over the
      distinct word n-gram shingle hashes (== ``minhash_signature``);
    - ``"simhash"`` → ``simhash bigint``: 64-bit SimHash over distinct
      whitespace tokens (== ``simhash64``);
    - ``"winnow"`` → ``winnow_fps array<bigint>``: sorted distinct
      winnowing fingerprints (== ``set(winnow_fingerprints)``);
    - ``"grams"`` → ``grams array<bigint>``: the distinct shingle-hash set,
      for an exact (modulo int-hash collisions) native Jaccard verify.

    Columns come out in that order whatever the order of ``families``.
    Every other column passes THROUGH the Python stage — the text is
    consumed and never shipped back, so no caller joins the signatures
    back on (a pre-existing column of an emitted name is replaced). A
    caller that wants the slim ``(id, signatures)`` frame projects
    ``(id, text)`` first: the Python stage then receives exactly those two
    columns. Token md5 digests are cached across the whole Arrow batch
    stream, so each unique token is digested once per partition, and a
    multi-family pass pays the scan, split and Arrow transfer once."""
    import volga_spark.operators.dedup as _self

    register_by_value(_self)
    unknown = set(families) - set(_FAMILIES)
    if unknown or not families:
        raise ValueError(
            f"signature families must be a non-empty subset of "
            f"{list(_FAMILIES)}, got {list(families)}"
        )
    emit = [f for f in _FAMILIES if f in families]
    out = [T.StructField(*_FAMILIES[f]) for f in emit]
    replaced = {text_col} | {o.name for o in out}
    keep = [f for f in df.schema.fields if f.name not in replaced]
    keep_names = [f.name for f in keep]
    shingled = "minhash" in emit or "grams" in emit
    a, b = _perm_params(k)
    shifts = np.arange(64, dtype=np.uint64)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tok_h: dict[str, int] = {}
        tok_bits: dict = {}
        for pdf in batches:
            cols: dict[str, list] = {f: [] for f in emit}
            for t in pdf[text_col]:
                toks = t.split()
                if shingled:
                    for tok in toks:
                        if tok not in tok_h:
                            tok_h[tok] = _stable_h61(tok)
                    hv = _shingle_hashes(toks, n, tok_h)
                if "minhash" in cols:
                    if hv.size == 0:
                        cols["minhash"].append([MERSENNE] * k)
                    else:
                        m = (hv[None, :] * a[:, None] + b[:, None]) % MERSENNE
                        cols["minhash"].append(np.min(m, axis=1).tolist())
                if "simhash" in cols:
                    rows = []
                    for tok in set(toks):
                        bv = tok_bits.get(tok)
                        if bv is None:
                            h = int.from_bytes(
                                hashlib.md5(tok.encode()).digest()[:8], "little"
                            )
                            bv = ((np.uint64(h) >> shifts) & np.uint64(1)).astype(
                                np.int8
                            ) * 2 - 1
                            tok_bits[tok] = bv
                        rows.append(bv)
                    acc = (
                        np.sum(np.stack(rows), axis=0, dtype=np.int64)
                        if rows
                        else np.zeros(64, dtype=np.int64)
                    )
                    v = 0
                    for i in np.flatnonzero(acc > 0):
                        v |= 1 << int(i)
                    cols["simhash"].append(v - (1 << 63))
                if "winnow" in cols:
                    cols["winnow"].append(
                        sorted(set(winnow_fingerprints_np(t, winnow_k, winnow_window)))
                    )
                if "grams" in cols:
                    cols["grams"].append(hv.tolist())
            yield pd.DataFrame(
                {c: pdf[c] for c in keep_names}
                | {_FAMILIES[f][0]: cols[f] for f in emit}
            )

    return widen_for_python(df).mapInPandas(gen, schema=T.StructType(keep + out))


def banded_buckets(
    sig_df: DataFrame, id_col: str, bands: int = 16, rows: int = 4
) -> DataFrame:
    """(id, band, bucket) LSH rows: the ``signature`` column cut into
    ``bands`` slices of ``rows`` values, each slice hashed together with
    its band index. bands*rows must equal the signature length. THE one
    banding — batch candidate pairs, the within-set verify, the streaming
    ingest filter and the incremental index all call it, so their bucket
    ids agree."""
    return sig_df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.slice(F.col("signature"), i * rows + 1, rows),
            )
        ).alias("band", "chunk"),
    ).select(id_col, "band", F.hash("band", "chunk").alias("bucket"))


def _bucket_pairs(
    rows: DataFrame,
    key: list[str],
    member,
    a: str,
    b: str,
    hot_bucket_threshold: int | None = None,
) -> DataFrame:
    """Every ordered member pair sharing a bucket, as columns (``a``, ``b``)
    — the candidate core of all four near-dup families. ``member`` is
    either the id column's name (pairs are bare ids) or a struct Column
    whose ``id`` field orders the pair (its other fields ride along for a
    fused verify). Pairs repeat once per shared bucket; callers
    deduplicate or count them.

    Each bucket is grouped ONCE on ``key`` and its member list expanded to
    ordered pairs in-stage: one exchange of the bucket rows, no sort, and
    a single consumer, so an upstream Python signature stage feeds
    straight through with no pin. A bucket self-join would produce the
    same pairs with a checkpoint, two exchanges and a sort-merge.
    Per-bucket memory is the member list (8 bytes per bare id); the
    quadratic pair expansion is generated pipelined.

    ``hot_bucket_threshold`` (r14 memory guard): one degenerate bucket
    (boilerplate near-identical docs) of 10^8 members is ~800 MB of list
    buffer in one task. With a threshold, bucket sizes are counted first
    and buckets ABOVE it pair through the streaming self-join, which never
    holds the member list, while cold buckets keep the grouped expansion.
    The pair set is IDENTICAL either way (an exact split, unlike SimHash's
    recall-trading prefix split). Cost: one histogram aggregation and a
    checkpoint of the bucket rows, which is why it is off by default —
    worth it once the largest bucket reaches ~100k members."""
    if hot_bucket_threshold is not None and hot_bucket_threshold <= 0:
        raise ValueError(
            "hot_bucket_threshold must be a positive bucket size, got "
            f"{hot_bucket_threshold}"
        )
    bare = isinstance(member, str)
    lst = "ids" if bare else "ms"
    m = F.col(member) if bare else member
    ordered = (
        F.col(a) < F.col(b) if bare else F.col(f"{a}.id") < F.col(f"{b}.id")
    )
    cold, hot = rows, None
    if hot_bucket_threshold is not None:
        # the rows feed two consumers (histogram and pairing) — pin so an
        # upstream Python stage runs once; the hot key set is tiny by
        # construction — broadcast
        rows = rows.localCheckpoint(eager=False)
        hot_keys = (
            rows.groupBy(*key)
            .count()
            .filter(F.col("count") > hot_bucket_threshold)
            .select(*key, F.lit(True).alias("__hot"))
        )
        flagged = rows.join(F.broadcast(hot_keys), key, "left").localCheckpoint(
            eager=False
        )
        cold = flagged.filter(F.col("__hot").isNull()).drop("__hot")
        hot = flagged.filter(F.col("__hot")).drop("__hot")
    pairs = (
        cold.groupBy(*key)
        .agg(F.collect_list(m).alias(lst))
        .filter(F.size(lst) >= 2)
        .select(F.explode(lst).alias(a), lst)
        .select(a, F.explode(lst).alias(b))
        .filter(ordered)
    )
    if hot is not None:
        hot_pairs = (
            hot.select(*key, m.alias(a))
            .join(hot.select(*key, m.alias(b)), key)
            .filter(ordered)
            .select(a, b)
        )
        pairs = pairs.unionByName(hot_pairs)
    return pairs


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str,
    bands: int = 16,
    rows: int = 4,
    hot_bucket_threshold: int | None = None,
) -> DataFrame:
    """Distinct candidate (id_a < id_b) pairs sharing at least one LSH band
    bucket of their MinHash ``signature``.

    bands*rows must equal the signature length. Collision probability for
    jaccard s is 1-(1-s^rows)^bands — 16x4 targets s ≳ 0.5.
    ``hot_bucket_threshold``: see `_bucket_pairs` (exact hot-bucket split;
    must be positive)."""
    return _bucket_pairs(
        banded_buckets(sig_df, id_col, bands, rows),
        ["band", "bucket"],
        id_col,
        "id_a",
        "id_b",
        hot_bucket_threshold,
    ).distinct()


def simhash64(text: str) -> int:
    """64-bit SimHash over whitespace tokens (unweighted)."""
    acc = np.zeros(64, dtype=np.int64)
    shifts = np.arange(64, dtype=np.uint64)
    for tok in set(text.split()):
        h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "little")
        bits = ((np.uint64(h) >> shifts) & np.uint64(1)).astype(np.int64)
        acc += np.where(bits == 1, 1, -1)
    out = 0
    for i in range(64):
        if acc[i] > 0:
            out |= 1 << i
    return out - (1 << 63)  # signed for bigint storage


def simhash_candidates(
    sim_df: DataFrame,
    id_col: str,
    bands: int = 4,
    radius: int | None = None,
    hot_bucket_threshold: int | None = None,
) -> DataFrame:
    """Hamming-radius candidates: split 64 bits into ``bands`` chunks; pairs
    equal in ≥1 chunk are candidates (pigeonhole: radius < bands guaranteed
    caught). With ``radius`` set, the Hamming verify is FUSED into the
    banding join — both signatures ride along, ``bit_count(xor)`` filters in
    the same stage, and only verified pairs reach the distinct. That keeps
    the (possibly quadratic) per-bucket candidate blowup out of every
    downstream shuffle.

    Banding scale rule (bands × width = 64 enforced below): per-bucket
    candidate volume is Σ_bucket n_b², and bucket count per band is 2^width
    — WIDER chunks (fewer bands) mean fewer collisions but only catch
    radius < bands. Pick the smallest radius the corpus needs, then the
    matching band count:

        corpus size   radius   bands × width   buckets/band
        ≤ 10^6           3        4 × 16          65 536
        10^6 – 10^9      3        4 × 16 + prefix-split hot buckets
        ≥ 10^9           2        3 × 21-22       ~4M   (or 2-pass: band on
                                                  32-bit halves, radius 1)

    At ≥10^9 docs, 16-bit buckets hold ~15k docs each → 10^8 pairs per
    bucket; either drop the radius (fewer, wider bands) or split hot
    buckets by a second chunk before pairing (the prefix-split —
    ``hot_bucket_threshold`` below).

    ``hot_bucket_threshold``: buckets larger than this are PREFIX-SPLIT —
    members must also agree on the NEXT band's chunk to pair, cutting a hot
    bucket's n² to ~n²/2^width. The recall trade is explicit: pairs whose
    only clean band is the hot one now need a second clean band, so within
    hot buckets the guarantee drops from radius<bands to radius<bands-1
    (boilerplate-skewed corpora concentrate in few buckets, and those
    near-identical docs agree on several bands anyway)."""
    if 64 % bands != 0:
        raise ValueError(f"bands must divide 64 evenly, got {bands}")
    if radius is not None and radius >= bands:
        # pigeonhole only guarantees a pair within Hamming radius r shares
        # ≥1 equal chunk when r < bands — beyond that the candidate set is
        # silently incomplete while the fused filter makes it look exact
        raise ValueError(
            f"radius={radius} needs at least {radius + 1} bands for full "
            f"recall (got bands={bands}); see the banding scale table above"
        )
    width = 64 // bands
    mask = (1 << width) - 1
    if hot_bucket_threshold is not None and radius is not None and radius >= bands - 1:
        import warnings

        warnings.warn(
            f"prefix-split with radius={radius} and bands={bands}: pairs "
            f"whose only clean band is a HOT bucket need a second clean "
            f"band, so in-hot-bucket recall degrades to radius<{bands - 1} "
            f"(acceptable for boilerplate-concentrated buckets; lower the "
            f"radius or raise bands for a full guarantee)",
            stacklevel=2,
        )
    carry = [id_col, "simhash"] if radius is not None else [id_col]
    chunks = sim_df.select(
        *carry,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk"),
                        F.shiftrightunsigned(
                            F.col("simhash"), ((b + 1) % bands) * width
                        )
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk2"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bc"),
    ).select(*carry, "bc.band", "bc.chunk", "bc.chunk2")
    if hot_bucket_threshold is not None:
        # hot buckets split by the next band's chunk; cold rows zero the
        # secondary so the extra equi-key is a no-op for them. The hot set
        # (bucket ids over the threshold) is tiny → broadcast. The chunks
        # feed two consumers here (the histogram and the pairing input) —
        # pin them so the Python simhash stage upstream runs once.
        chunks = chunks.localCheckpoint(eager=False)
        hot = (
            chunks.groupBy("band", "chunk")
            .count()
            .filter(F.col("count") > hot_bucket_threshold)
            .select("band", "chunk", F.lit(True).alias("__hot"))
        )
        chunks = (
            chunks.join(F.broadcast(hot), ["band", "chunk"], "left")
            .withColumn(
                "chunk2",
                F.when(F.col("__hot"), F.col("chunk2")).otherwise(F.lit(0)),
            )
            .drop("__hot")
        )
    else:
        chunks = chunks.withColumn("chunk2", F.lit(0))
    # the plain path's single consumer lets the Python simhash stage feed
    # the one bucket exchange directly (the hot split pins above)
    member = (
        F.struct(F.col(id_col).alias("id"), F.col("simhash").alias("sh"))
        if radius is not None
        else F.struct(F.col(id_col).alias("id"))
    )
    expanded = _bucket_pairs(chunks, ["band", "chunk", "chunk2"], member, "a", "b")
    if radius is None:
        return expanded.select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        ).distinct()
    return (
        expanded.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= radius)
        .distinct()
    )


def _exploded_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int, with_count: bool = False
) -> DataFrame:
    """(id, shingle) rows — distinct word n-grams per doc, native exprs.

    ``with_count=True`` additionally carries ``n_sh`` — the per-doc distinct
    shingle count, taken MAP-SIDE as the size of the distinct array before
    the explode (r14: replaces the count-window over the exploded rows,
    which cost a full exchange + sort on the id; identical value — the
    array is never empty by the sequence/greatest construction, so
    explode_outer emits exactly size(arr) rows per doc)."""
    arr = F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(0),
                F.greatest(F.size(F.split(F.col(text_col), " ")) - n, F.lit(0)),
            ),
            lambda i: F.concat_ws(
                " ", F.slice(F.split(F.col(text_col), " "), i + 1, n)
            ),
        )
    )
    d = df.select(F.col(id_col), arr.alias("__shs"))
    cols = [F.col(id_col)]
    if with_count:
        cols.append(F.size("__shs").cast("bigint").alias("n_sh"))
    return d.select(*cols, F.explode_outer("__shs").alias("shingle"))


def _hashed_shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    wide_input: bool = False,
    with_count: bool = False,
) -> DataFrame:
    """(id, sh) rows: 64-bit-hashed distinct word n-grams per doc, computed
    ONCE (localCheckpoint) because every Jaccard computation feeds it into
     3 plan branches (two join sides + per-doc counts) — without the
    checkpoint the split/transform/explode subtree runs 3×, and the join
    would shuffle multi-word shingle STRINGS instead of 8-byte longs (this
    was the entire 36s→2.6s difference on the clusters query at sf0.1).

    Retention: checkpointed blocks persist until the session ends; callers
    running many dedup queries in one session release them between queries
    with ``volga_spark.caching.release_cached_blocks`` (see that module's
    docstring for why DataFrame-level unpersist can't).

    Collision note: distinct-per-doc is taken on the string BEFORE hashing;
    a cross-doc xxhash64 collision could overcount one intersection with
    probability ~m²/2⁶⁵ (m = corpus shingle count) — negligible at any
    realistic corpus, and at 100 TB you'd widen to 128 bits (two
    independent hashes) with the same plan."""
    narrow = df.select(id_col, text_col)
    # the explode/hash is JVM-native but CPU-heavy: a small single-file scan
    # arrives as ONE partition and would run it (and everything checkpointed
    # downstream) on one core — widen first; `wide_input=True` skips the
    # exchange when the scan is already wide (multi-file corpus on a cluster)
    narrow = widen_for_python(narrow, known_wide=wide_input)
    carry = ["n_sh"] if with_count else []
    sh = _exploded_shingles(
        narrow, text_col, id_col, n, with_count=with_count
    ).select(id_col, *carry, F.xxhash64("shingle").alias("sh"))
    return sh.localCheckpoint(eager=False)


def all_pairs_jaccard(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    max_shingle_freq: int | None = None,
    wide_input: bool = False,
) -> DataFrame:
    """All document pairs sharing ≥1 shingle, with exact n-gram Jaccard.

    Candidate generation IS the shared-shingle join (pairs with zero common
    shingles have Jaccard 0 and never materialize), so the volume is
    Σ_shingle df(s)² — near-linear on natural text. ``max_shingle_freq``
    drops shingles appearing in more than that many docs before the join
    (the standard stop-shingle prune at corpus scale; changes results only
    for pairs whose sole overlap was a stop shingle, so leave None when an
    exact oracle comparison is needed).
    """
    # r14: per-doc shingle counts are computed MAP-SIDE (size of the
    # per-doc distinct-gram array, carried through the explode and the
    # checkpoint) — the r13 count-window over the exploded rows cost a
    # full exchange + sort on the id; this costs 8 bytes/row. Sizes are
    # attached BEFORE the optional stop-shingle prune: per-doc
    # denominators stay unpruned, exactly as before.
    sh = _hashed_shingles(
        df, text_col, id_col, n, wide_input=wide_input, with_count=True
    )
    if max_shingle_freq is not None:
        # r13 optimization-round rewrite (guide §2.4 — remove shuffles):
        # the prune used to be groupBy("sh") → filter → LEFT SEMI join,
        # i.e. TWO exchanges of the full shingle set plus a join. A count
        # window over the same key is ONE exchange of the same bytes, and
        # its output stays hash-partitioned AND sorted on `sh`, which the
        # self-join below then reuses directly (no further exchange or
        # sort on either side — verified in the committed plan diff:
        # edges subplan went 5 exchanges → 3). Identical semantics: rows
        # whose shingle document-frequency exceeds the cap are dropped.
        from pyspark.sql import Window as W

        sh = (
            sh.withColumn("__df", F.count("*").over(W.partitionBy("sh")))
            .filter(F.col("__df") <= max_shingle_freq)
            .drop("__df")
        )
    sa = sh.select(
        F.col(id_col).alias("id_a"), "sh", F.col("n_sh").alias("n_a")
    )
    sb = sh.select(
        F.col(id_col).alias("id_b"), "sh", F.col("n_sh").alias("n_b")
    )
    inter = (
        sa.join(sb, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("n_inter"),
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
        )
    )
    return inter.withColumn(
        "jaccard",
        F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
    ).select("id_a", "id_b", "jaccard")


def exact_jaccard_pairs(
    df: DataFrame, pairs: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """Verify candidate pairs with exact n-gram Jaccard (explode shingles →
    count intersections DataFrame-side; no pairwise text shipping).

    Only docs that appear in ``pairs`` are shingled: the candidate set is
    orders of magnitude smaller than the corpus after LSH banding, so the
    semi-join prefilter keeps the explode volume O(|candidates|·shingles)
    instead of O(|corpus|·shingles)."""
    # `pairs` feeds three plan branches (member ids, intersection join,
    # final join) — without a checkpoint the whole LSH subtree would run
    # three times. localCheckpoint is fine at any scale: the candidate set
    # is the small output of the banding join. (On a cluster with executor
    # loss concerns, swap for a persisted table.)
    pairs = pairs.localCheckpoint(eager=False)
    member_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    df = df.join(F.broadcast(member_ids), id_col, "left_semi")
    # r14: per-doc shingle counts ride the shingle rows map-side
    # (with_count) and through the intersection aggregate via max() —
    # this used to be a separate groupBy(id) joined back onto the final
    # pair set TWICE (two joins + their exchanges). A candidate pair with
    # ZERO shared shingles never reaches `inter`, but its Jaccard is
    # 0/(n_a+n_b-0) = 0 regardless of the denominators, so the missing
    # counts are irrelevant — coalesce(., 0.0) pins the identical value.
    # PRECONDITION (was implicit in the removed inner count-joins): every
    # pair id must exist in `df` — true for all in-repo callers, whose
    # pairs derive from the same frame. A STALE pair whose id is absent
    # from df now yields a (id_a, id_b, 0.0) row where the old shape
    # dropped it; callers joining against a narrower corpus must
    # semi-filter their pairs first.
    sh = _hashed_shingles(df, text_col, id_col, n, with_count=True)
    sh_a = sh.select(
        F.col(id_col).alias("id_a"), "sh", F.col("n_sh").alias("n_a")
    )
    sh_b = sh.select(
        F.col(id_col).alias("id_b"), "sh", F.col("n_sh").alias("n_b")
    )
    inter = (
        pairs.join(sh_a, "id_a")
        .join(sh_b, ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("n_inter"),
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
        )
    )
    return (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            F.coalesce(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                F.lit(0.0),
            ).alias("jaccard"),
        )
    )


def _positional_gram_hashes(
    df: DataFrame, text_col: str, id_col: str, n: int, wide_input: bool
) -> DataFrame:
    """(id, pos, gh): the xxhash64 of the word n-gram starting at every
    1-based token position (stride 1) — the gram pass both exact-substring
    functions share. Docs shorter than ``n`` tokens emit no rows.

    The tokenize/slice/hash explode is JVM-native but CPU-heavy; a small
    single-row-group scan arrives as ONE partition and would run the whole
    gram pass on one core — widen first (``wide_input=True`` skips it when
    the scan is already split, i.e. any real multi-row-group corpus). The
    token-array SLICE is hashed inside the transform: the explode emits
    (pos, int64) only — no per-gram string concatenation, and the
    downstream shuffle never carries gram text (xxhash64 hashes arrays
    natively, distinguishing token boundaries better than a joined
    string)."""
    toks = F.split(F.col(text_col), " ")
    base = widen_for_python(df.select(id_col, text_col), known_wide=wide_input)
    return base.select(
        F.col(id_col),
        F.posexplode(
            F.when(
                F.size(toks) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                    lambda i: F.xxhash64(F.slice(toks, i, n)),
                ),
            ).otherwise(F.array().cast("array<bigint>"))
        ).alias("pos0", "gh"),
    ).select(id_col, (F.col("pos0") + 1).alias("pos"), "gh")


def duplicated_ngram_spans(
    df: DataFrame, text_col: str, id_col: str, n: int = 8, wide_input: bool = False
) -> DataFrame:
    """EXACT substring dedup (Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better"): dense word n-grams at every position
    (stride 1); an n-gram occurring more than once ACROSS THE CORPUS marks
    its positions duplicated, and overlapping/adjacent duplicated windows
    merge into maximal spans — the per-document spans an exact-substring
    dedup pass would cut. Returns one row per document that contains any
    duplicated span: (id, n_dup_positions, n_spans, dup_tokens).

    All native expressions — no Python stage. Scale shape: grams hash to
    int64 (`xxhash64`) before the global frequency shuffle, so the wide agg
    carries 8-byte keys, never gram text (the suffix-array of the paper is
    replaced by the hash-group — same dup set, shuffle-friendly); the span
    merge is one per-document window over duplicated positions only.
    """
    from pyspark.sql import Window as W

    gh = _positional_gram_hashes(df, text_col, id_col, n, wide_input)
    # r13 optimization round (guide §2.4): the duplicated-gram mark used to
    # be groupBy("gh") → count>1 → join back onto the gram rows, and the
    # per-doc position count a THIRD branch (its own aggregate + final
    # join) — with the gram subtree unpinned, the CPU-heavy explode+hash
    # pass executed once per branch (3×). A corpus-frequency count WINDOW
    # over the gram key marks duplicated positions in the same exchange
    # the groupBy paid (dense stride-1 grams are mostly unique, so the
    # map-side partial aggregation the groupBy loses saved little), and
    # the per-doc duplicated-position count rides the span chain's own
    # id-partitioned window — one gram pass, two exchanges total, no
    # joins, nothing pinned. Identical semantics: a position survives iff
    # its gram occurs >1 times corpus-wide; n_dup_positions = surviving
    # rows per document.
    dpos = (
        gh.withColumn("__cf", F.count("*").over(W.partitionBy("gh")))
        .filter(F.col("__cf") > 1)
        .select(id_col, "pos")
    )
    w = W.partitionBy(id_col).orderBy("pos")
    marked = dpos.withColumn("prev", F.lag("pos").over(w)).withColumn(
        "new_span",
        F.when(
            F.col("prev").isNull() | (F.col("pos") > F.col("prev") + n), 1
        ).otherwise(0),
    )
    sess = marked.withColumn(
        "span_id",
        F.sum("new_span").over(w.rowsBetween(W.unboundedPreceding, 0)),
    ).withColumn(
        "n_dup_positions", F.count("*").over(W.partitionBy(id_col))
    )
    spans = sess.groupBy(id_col, "span_id").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + (n - 1)).alias("e"),
        F.max("n_dup_positions").alias("n_dup_positions"),
    )
    return spans.groupBy(id_col).agg(
        F.max("n_dup_positions").alias("n_dup_positions"),
        F.count("*").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("dup_tokens"),
    ).select(id_col, "n_dup_positions", "n_spans", "dup_tokens")


def remove_duplicated_spans(
    df: DataFrame, text_col: str, id_col: str, n: int = 8, wide_input: bool = False
) -> DataFrame:
    """The REWRITE step of exact substring dedup (Lee et al. 2021): where
    `duplicated_ngram_spans` reports the duplicated spans, this excises them
    and rebuilds the text, keeping one canonical copy corpus-wide.

    Semantics (deterministic, SQL-mirrorable): each duplicated n-gram keeps
    its CANONICAL occurrence — first by (id, pos) total order — and every
    other occurrence marks its n token positions for removal; overlapping/
    adjacent marked windows merge into maximal spans (the merged spans cover
    exactly the union of the marked windows), spans are cut, and the text is
    rebuilt single-space-joined. Returns one row per input document:
    (id, clean_text, removed_tokens) — docs without duplicated spans pass
    through with removed_tokens = 0.

    Scale shape: same as `duplicated_ngram_spans` — grams shuffle as int64
    hashes, never text; the canonical pick is one window over gram-hash
    groups; the cut itself is a per-document HOF filter over a bounded
    span array (no Python stage anywhere).
    """
    from pyspark.sql import Window as W

    gh = _positional_gram_hashes(df, text_col, id_col, n, wide_input)
    # non-canonical occurrences of corpus-duplicated grams → cut windows
    occ_rank = W.partitionBy("gh").orderBy(id_col, "pos")
    cuts = (
        gh.withColumn("rk", F.row_number().over(occ_rank))
        .withColumn("n_occ", F.count("*").over(W.partitionBy("gh")))
        .filter((F.col("n_occ") > 1) & (F.col("rk") > 1))
        .select(id_col, "pos")
    )
    w = W.partitionBy(id_col).orderBy("pos")
    sess = (
        cuts.withColumn("prev", F.lag("pos").over(w))
        .withColumn(
            "new_span",
            F.when(
                F.col("prev").isNull() | (F.col("pos") > F.col("prev") + n), 1
            ).otherwise(0),
        )
        .withColumn(
            "span_id",
            F.sum("new_span").over(w.rowsBetween(W.unboundedPreceding, 0)),
        )
    )
    spans = (
        sess.groupBy(id_col, "span_id")
        .agg(F.min("pos").alias("s"), (F.max("pos") + (n - 1)).alias("e"))
        .groupBy(id_col)
        .agg(F.collect_list(F.struct("s", "e")).alias("__spans"))
    )
    joined = df.join(spans, id_col, "left")
    jtoks = F.split(F.col(text_col), " ")
    kept = F.filter(
        F.transform(jtoks, lambda t, i: F.struct((i + 1).alias("pos"), t.alias("tok"))),
        lambda s: ~F.coalesce(
            F.exists(
                F.col("__spans"),
                lambda sp: (s["pos"] >= sp["s"]) & (s["pos"] <= sp["e"]),
            ),
            F.lit(False),
        ),
    )
    return joined.select(
        F.col(id_col),
        F.array_join(F.transform(kept, lambda k: k["tok"]), " ").alias("clean_text"),
        (F.size(jtoks) - F.size(kept)).cast("bigint").alias("removed_tokens"),
    )


def _gram_hashes(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, gh) distinct xxhash64'd word n-grams per document."""
    toks = F.split(F.col(text_col), " ")
    return df.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size(toks) >= n,
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                        lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i, n))),
                    )
                ),
            ).otherwise(F.array().cast("array<bigint>"))
        ).alias("gh"),
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    n: int = 13,
) -> DataFrame:
    """Training-set DECONTAMINATION against a held-out benchmark set — the
    standard n-gram overlap rule (GPT-3 appendix C / PaLM: a training doc is
    contaminated if it shares any 13-gram with an evaluation example).

    Returns the corpus with two added columns: ``contaminated`` (boolean)
    and ``n_contaminated_grams`` (distinct corpus-side n-grams that appear
    in the benchmark; 0 when clean).

    Scale shape: benchmark suites are tiny next to a 100 TB corpus, so the
    benchmark's distinct gram hashes BROADCAST and the corpus-side probe is
    map-side only — one scan of the corpus, no wide shuffle of corpus text;
    the per-doc count is a partial-aggregated groupBy on (id, 8-byte hash).
    """
    bench_grams = (
        _gram_hashes(
            benchmark.select(
                F.monotonically_increasing_id().alias("__bid"),
                F.col(bench_text_col or text_col).alias("__btext"),
            ),
            "__btext",
            "__bid",
            n,
        )
        .select("gh")
        .distinct()
    )
    hits = (
        _gram_hashes(corpus, text_col, id_col, n)
        .join(F.broadcast(bench_grams), "gh", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_contaminated_grams"))
    )
    return (
        corpus.join(hits, id_col, "left")
        .withColumn(
            "n_contaminated_grams", F.coalesce("n_contaminated_grams", F.lit(0))
        )
        .withColumn("contaminated", F.col("n_contaminated_grams") > 0)
    )


def decontaminate_fuzzy(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    bench_id_col: str | None = None,
    n: int = 5,
    threshold: float = 0.6,
) -> DataFrame:
    """FUZZY decontamination: flag a training doc when ≥ ``threshold`` of a
    benchmark example's distinct n-grams appear in it (the containment-rule
    family used by PaLM 2 / Llama-style dirty-eval marking). Catches
    near-verbatim leakage — an embedded benchmark question with a token
    edited or numbers substituted — that the exact 13-gram rule
    (`decontaminate`) misses entirely, since one edit in a short example
    kills every verbatim 13-gram.

    Returns the corpus with ``contaminated`` (boolean) and
    ``best_containment`` (max over benchmark examples; 0.0 when clean).

    Scale shape: identical to `decontaminate` — the benchmark side
    (grams-with-example-id AND per-example gram counts) broadcasts, the
    corpus probe is map-side, and the only shuffle is the partial-aggregated
    (doc, example) match counts, bounded by actual overlaps. Containment
    |grams(bench) ∩ grams(doc)| / |grams(bench)| is EXACT — no sketch is
    needed because the small side fits in a broadcast; MinHash-style
    approximation only buys anything when both sides are corpus-sized.
    """
    bid = "__bid"  # internal alias — avoids collision with the corpus id
    bench = benchmark.select(
        (
            F.col(bench_id_col)
            if bench_id_col
            else F.xxhash64(F.col(bench_text_col or text_col))
        ).alias(bid),
        F.col(bench_text_col or text_col).alias("__btext"),
    )
    bgrams = _gram_hashes(bench, "__btext", bid, n).distinct()
    bsizes = bgrams.groupBy(bid).agg(F.count("*").alias("__bn"))
    scored = (
        _gram_hashes(corpus, text_col, id_col, n)
        .join(F.broadcast(bgrams), "gh")
        .groupBy(id_col, bid)
        .agg(F.count("*").alias("__matches"))
        .join(F.broadcast(bsizes), bid)
        .withColumn("__containment", F.col("__matches") / F.col("__bn"))
        .filter(F.col("__containment") >= threshold)
        .groupBy(id_col)
        .agg(F.max("__containment").alias("best_containment"))
    )
    return (
        corpus.join(scored, id_col, "left")
        .withColumn("best_containment", F.coalesce("best_containment", F.lit(0.0)))
        .withColumn("contaminated", F.col("best_containment") > 0)
    )


def winnow_fingerprints(text: str, k: int = 5, window: int = 8) -> list[int]:
    """Winnowing document fingerprints (Schleimer et al.): rolling hash over
    character k-grams, keep the minimum hash of each window of consecutive
    k-gram hashes (rightmost min). Robust to local edits — standard for
    near-dup/plagiarism detection at corpus scale."""
    data = text.encode()
    n = len(data)
    if n < k:
        return [_stable_h61(text)] if text else []
    B = 257
    MOD = (1 << 31) - 1
    # rolling polynomial hash of k-grams
    power = pow(B, k - 1, MOD)
    h = 0
    hashes = []
    for i in range(n):
        h = (h * B + data[i]) % MOD
        if i >= k:
            h = (h - data[i - k] * power * B) % MOD
        if i >= k - 1:
            hashes.append(h)
    fps = []
    last = None
    for w0 in range(len(hashes) - window + 1):
        win = hashes[w0 : w0 + window]
        m = min(win)
        idx = w0 + max(j for j, v in enumerate(win) if v == m)
        if idx != last:
            fps.append(hashes[idx])
            last = idx
    if not fps:
        fps = [min(hashes)]
    return fps


def winnow_fingerprints_np(text: str, k: int = 5, window: int = 8) -> list[int]:
    """Vectorized winnowing — bit-identical to ``winnow_fingerprints`` (the
    scalar version stays as the independent test oracle). The k-gram
    polynomial hash is k slice-multiplies summed then one mod (k·257·B^(k-1)
    < 2^63, so no intermediate overflow); window minima + rightmost-min
    positions come from a sliding_window_view, so the per-character Python
    loop — formerly the slowest UDF in the repo — is gone."""
    import numpy as np

    data = np.frombuffer(text.encode(), dtype=np.uint8).astype(np.int64)
    n = len(data)
    if n < k:
        return [_stable_h61(text)] if text else []
    B = 257
    MOD = (1 << 31) - 1
    weights = [pow(B, k - 1 - j, MOD) for j in range(k)]
    m = n - k + 1
    acc = np.zeros(m, dtype=np.int64)
    for j, w in enumerate(weights):
        acc += data[j : j + m] * w
    hashes = acc % MOD
    if len(hashes) < window:
        return [int(hashes.min())]
    win = np.lib.stride_tricks.sliding_window_view(hashes, window)
    mins = win.min(axis=1)
    # rightmost index of the min within each window (reference semantics)
    right_idx = window - 1 - np.argmax(win[:, ::-1] == mins[:, None], axis=1)
    idx = np.arange(len(mins)) + right_idx
    keep = np.ones(len(idx), dtype=bool)
    keep[1:] = idx[1:] != idx[:-1]
    fps = hashes[idx[keep]]
    return [int(v) for v in fps]


def winnow_candidate_pairs(
    fps: DataFrame,
    id_col: str = "doc_id",
    sum_df2_limit: int = 50_000_000,
    max_fp_freq: int = 128,
) -> tuple[DataFrame, int]:
    """(id_a, id_b, shared_fps) candidate pairs from a (doc, fingerprint)
    table, with a SKEW GUARD on the fingerprint self-join. ``fps`` may
    optionally carry a precomputed per-doc DISTINCT fingerprint count as
    ``n_fp`` (map-side from an array column — r14); otherwise it is
    derived with a count window here.

    The join generates Σ_fp df(fp)² candidate rows. Natural corpora spread
    df thinly, but boilerplate (shared headers/footers/license blocks)
    concentrates df in a few hot fingerprints and turns the join quadratic
    — the winnowing analog of stop-shingles. Guard: compute the df
    histogram (one small agg over distinct fingerprints — the same
    statistics pass AQE does for shuffles) and, when the estimated Σdf²
    exceeds ``sum_df2_limit``, drop fingerprints with df > ``max_fp_freq``
    before pairing. A fingerprint shared by hundreds of documents carries
    no discriminative signal for near-dup detection, so the recall cost is
    confined to pairs that ONLY share boilerplate — the pairs near-dup
    pipelines are supposed to ignore. Returns (pairs, n_pruned_fps); the
    caller computes containment denominators on the SAME pruned set so
    numerator/denominator stay consistent.

    Scale note: the histogram prunes by df bound, so the worst surviving
    join volume is ≤ distinct_fps × max_fp_freq² — linear in corpus size
    for fixed cap, never quadratic.
    """
    import warnings

    # r14: a caller whose fingerprints come from a per-doc ARRAY column can
    # pass n_fp precomputed map-side (size(winnow_fps) — zero exchanges);
    # the guard below recomputes it post-prune whenever the skew prune
    # engages, so containment denominators always match the pruned set.
    has_carried_n = "n_fp" in fps.columns
    # both join sides and the histogram read fps — checkpoint so the
    # fingerprint UDF runs once, not three times
    fps = fps.localCheckpoint(eager=False)
    hist = fps.groupBy("fp").agg(F.count("*").alias("df"))
    stats = hist.agg(
        F.sum(F.col("df") * F.col("df")).alias("sum_df2"),
        F.sum(F.when(F.col("df") > max_fp_freq, 1).otherwise(0)).alias("n_hot"),
    ).first()
    n_pruned = 0
    if stats.sum_df2 is not None and stats.sum_df2 > sum_df2_limit:
        n_pruned = int(stats.n_hot)
        warnings.warn(
            f"winnow_candidate_pairs: estimated candidate volume Σdf² = "
            f"{int(stats.sum_df2):,} exceeds {sum_df2_limit:,}; dropping "
            f"{n_pruned} fingerprints with df > {max_fp_freq} "
            f"(boilerplate guard — containment is computed on the pruned "
            f"fingerprint sets)",
            stacklevel=2,
        )
        keep = hist.filter(F.col("df") <= max_fp_freq).select("fp")
        fps = fps.join(F.broadcast(keep), "fp", "left_semi")
        if has_carried_n:
            # denominators must reflect the PRUNED per-doc sets — a
            # map-side count carried from before the prune is stale here
            fps = fps.drop("n_fp")
            has_carried_n = False
        fps = fps.localCheckpoint(eager=False)
    # r13 optimization round: per-doc fingerprint counts used to be a
    # separate groupBy joined back onto the pair set TWICE (two more
    # exchanges of the pairs plus two joins). Attach the count to each
    # fps row with a window over the SAME pruned set instead (one
    # exchange of the fps rows, same bytes the old groupBy shuffled) and
    # carry it through the pairing — the pair aggregate then reads it
    # with max() (functionally dependent on the id). Per-fingerprint
    # member lists are bounded by the df cap the skew guard enforces.
    if has_carried_n:
        fpsn = fps
    else:
        from pyspark.sql import Window as W

        fpsn = fps.withColumn(
            "n_fp", F.count("*").over(W.partitionBy(id_col))
        )
    member = F.struct(F.col(id_col).alias("id"), F.col("n_fp").alias("n"))
    pairs = (
        _bucket_pairs(fpsn, ["fp"], member, "a", "b")
        .groupBy(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .agg(
            F.count("*").alias("shared_fps"),
            F.max("a.n").alias("n_a"),
            F.max("b.n").alias("n_b"),
        )
    )
    return pairs, n_pruned


# --- Cross-document paragraph dedup (CCNet, Wenzek et al. 2020 §3.1) --------
#
# The cheapest and most universally applied corpus-dedup step: hash every
# paragraph (normalized), keep only the globally FIRST occurrence of each
# distinct paragraph, reassemble documents from their surviving paragraphs.
# CCNet reports ~70% of common-crawl text removed by this alone.
#
# Scale shape (100 TB): three bounded stages —
#   1. winners: groupBy(digest).min(struct(doc_id, pos)) — shuffles only
#      (16-byte digest, id, pos), never text; partial agg dedups map-side.
#   2. keep-join: LEFT SEMI join of exploded paragraphs against winners on
#      (doc_id, pos) — paragraph text crosses the wire ONCE.
#   3. reassembly: groupBy(doc_id) + array_sort — text crosses once more.
# No stage is quadratic; no driver-side state. The reference has no corpus
# operators (this belongs to the training-data tier BASELINE adds).


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
    normalize: bool = True,
    min_chars: int = 1,
) -> DataFrame:
    """Drop every non-first occurrence of each distinct paragraph corpus-wide;
    return (id_col, text_col) with documents rebuilt from surviving
    paragraphs (docs whose every paragraph was a duplicate disappear).

    ``normalize=True`` hashes a lowercased, digit-stripped, whitespace-
    collapsed form (the CCNet normalization) while PRESERVING the original
    paragraph text in the output. "First" = smallest (id, position) — total,
    deterministic, partition-independent. Paragraphs shorter than
    ``min_chars`` (after trim) are kept unconditionally (empty/boilerplate
    fragments would otherwise collapse the corpus onto one winner).
    """
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), F.lit(sep))).alias("pos", "para"),
    )
    norm = F.trim(F.col("para"))
    if normalize:
        norm = F.regexp_replace(F.lower(norm), "[0-9]+", "")
        norm = F.regexp_replace(norm, "\\s+", " ")
    paras = paras.withColumn("__norm", norm).withColumn(
        "__eligible", F.length(F.trim(F.col("para"))) >= min_chars
    )
    digests = paras.filter(F.col("__eligible")).select(
        F.md5(F.col("__norm")).alias("__digest"),
        F.struct(F.col(id_col), F.col("pos")).alias("__occ"),
    )
    winners = digests.groupBy("__digest").agg(F.min("__occ").alias("__win"))
    keep_keys = winners.select(
        F.col(f"__win.{id_col}").alias(id_col), F.col("__win.pos").alias("pos")
    )
    kept = paras.filter(F.col("__eligible")).join(
        keep_keys, on=[id_col, "pos"], how="left_semi"
    )
    survivors = kept.unionByName(
        paras.filter(~F.col("__eligible")).select(kept.columns)
    )
    return (
        survivors.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("para")))
            ).alias("__ps")
        )
        .select(
            F.col(id_col),
            F.array_join(
                F.transform(F.col("__ps"), lambda s: s["para"]), sep
            ).alias(text_col),
        )
    )


def paragraph_dedup_oracle_sql(
    table_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
    normalize: bool = True,
    min_chars: int = 1,
) -> str:
    """DuckDB twin of :func:`paragraph_dedup` (same normalization, same
    smallest-(id, pos) winner rule, same reassembly)."""
    esc = sep.replace("\\", "\\\\").replace("'", "''").replace("\n", "\\n")
    norm = "trim(para)"
    if normalize:
        norm = "regexp_replace(regexp_replace(lower(trim(para)), '[0-9]+', '', 'g'), '\\s+', ' ', 'g')"
    return f"""
WITH exploded AS (
  SELECT {id_col}, unnest(range(len(parts))) AS pos, unnest(parts) AS para
  FROM (SELECT {id_col}, string_split({text_col}, e'{esc}') AS parts
        FROM {table_sql})
),
paras AS (
  SELECT {id_col}, pos, para,
         length(trim(para)) >= {min_chars} AS eligible,
         {norm} AS norm
  FROM exploded
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY md5(norm) ORDER BY {id_col}, pos) AS rn
  FROM paras WHERE eligible
),
survivors AS (
  SELECT {id_col}, pos, para FROM ranked WHERE rn = 1
  UNION ALL
  SELECT {id_col}, pos, para FROM paras WHERE NOT eligible
)
SELECT {id_col},
       string_agg(para, e'{esc}' ORDER BY pos) AS {text_col}
FROM survivors GROUP BY {id_col}
"""


# --- streaming ingest near-dup filter ----------------------------------------


def _jaccard_ge(threshold: float):
    """Native exact Jaccard over two distinct-gram arrays (no Python)."""
    inter = F.size(F.array_intersect("__ga", "__gb"))
    union = F.size(F.array_union("__ga", "__gb"))
    return (union > 0) & (inter / union >= F.lit(threshold))


def within_set_verified_pairs(
    banded: DataFrame,
    grams: DataFrame,
    id_col: str,
    threshold: float,
    broadcast_grams: bool = False,
) -> DataFrame:
    """(__a, __b) near-dup pairs WITHIN one document set: banded candidate
    pairs (same (band, bucket), __a < __b, distinct) verified by the
    native gram-set Jaccard >= threshold. THE one within-set candidate
    semantics — the batch curation stage and the streaming ingest filter
    both call this, so candidate/verify behavior cannot drift between the
    declared twins. `grams` must carry (id_col, grams);
    ``broadcast_grams=True`` for micro-batch-sized sets."""
    cand = _bucket_pairs(banded, ["band", "bucket"], id_col, "__a", "__b").distinct()
    g = grams.select(F.col(id_col).alias("__gid"), "grams")
    ga = g.select(F.col("__gid").alias("__a"), F.col("grams").alias("__ga"))
    gb = g.select(F.col("__gid").alias("__b"), F.col("grams").alias("__gb"))
    if broadcast_grams:
        ga, gb = F.broadcast(ga), F.broadcast(gb)
    return (
        cand.join(ga, "__a")
        .join(gb, "__b")
        .filter(_jaccard_ge(threshold))
        .select("__a", "__b")
    )


def neardup_stream_filter(
    doc_stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    k: int = 64,
    n: int = 3,
    bands: int = 16,
    timeout_s: int = 300,
) -> DataFrame:
    """ONLINE near-duplicate filtering of a document stream — the ingest
    shape of the batch MinHash+LSH pipeline (a 100 TB crawl dedups on
    arrival, not in nightly rebuilds). Runs the stream to completion
    (availableNow) and returns one decision row per document:
    (id, kept boolean, dup_of nullable id).

    Semantics (deterministic, first-seen-wins): a document is DROPPED when
    it near-dup-matches (exact gram-set Jaccard ≥ threshold over LSH band
    candidates) any previously RETAINED document, or any lower-id document
    of its own micro-batch (the batch pipeline's keep-the-min-id cluster
    representative, applied online); `dup_of` reports the smallest
    matching id. Retained documents add their (signature, distinct-gram)
    state row; dropped documents add nothing, so state grows with the
    UNIQUE corpus only.

    Scale shape per batch: the retained-state side is banded and joined
    against the BROADCAST new-batch bands (state never shuffles), the
    verify is native array_intersect/array_union over the candidate pairs
    only, and state/decisions are versioned parquet with the epoch-retry
    exactly-once guard shared by every streaming maintainer here. Subject
    to LSH recall (1-(1-s^rows)^bands): a missed candidate pair keeps a
    duplicate, never drops a unique document."""
    import os
    import shutil

    from volga_spark.streaming.runner import _state_root, run_foreach_batch

    spark = doc_stream.sparkSession
    root = _state_root()
    cur = {"version": None}
    rows = k // bands

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        prev_version = cur["version"]
        if prev_version == epoch_id:
            return
        ss = batch_df.sparkSession
        new = signatures(
            batch_df.select(id_col, text_col), text_col, ("minhash", "grams"), k, n
        )
        # pin the Arrow pass: it feeds banding, verify, and the state write
        new.write.mode("overwrite").parquet(f"{root}/v{epoch_id}/new")
        new = ss.read.parquet(f"{root}/v{epoch_id}/new")
        new_bands = banded_buckets(new, id_col, bands, rows)

        if prev_version is not None:
            state = ss.read.parquet(f"{root}/v{prev_version}/state")
        else:
            state = new.limit(0)
        state_bands = banded_buckets(state, id_col, bands, rows)

        # candidates vs retained history: state side stays in place
        cand_hist = (
            state_bands.withColumnRenamed(id_col, "__sid")
            .join(
                F.broadcast(new_bands.withColumnRenamed(id_col, "__nid")),
                ["band", "bucket"],
            )
            .select("__sid", "__nid")
            .distinct()
        )
        hist_pairs = (
            cand_hist.join(
                F.broadcast(
                    new.select(
                        F.col(id_col).alias("__nid"), F.col("grams").alias("__gb")
                    )
                ),
                "__nid",
            )
            .join(
                state.select(
                    F.col(id_col).alias("__sid"), F.col("grams").alias("__ga")
                ),
                "__sid",
            )
            .filter(_jaccard_ge(threshold))
            .select("__nid", F.col("__sid").alias("__rep"))
        )
        # candidates within the batch: lower id is the representative
        batch_pairs = within_set_verified_pairs(
            new_bands, new, id_col, threshold, broadcast_grams=True
        ).select(F.col("__b").alias("__nid"), F.col("__a").alias("__rep"))
        dup_of = (
            hist_pairs.unionByName(batch_pairs)
            .groupBy("__nid")
            .agg(F.min("__rep").alias("dup_of"))
        )
        decisions = (
            new.select(id_col)
            .join(F.broadcast(dup_of.withColumnRenamed("__nid", id_col)), id_col, "left")
            .select(
                id_col,
                F.col("dup_of").isNull().alias("kept"),
                "dup_of",
            )
        )
        decisions.write.mode("overwrite").parquet(f"{root}/v{epoch_id}/decisions")
        decisions = ss.read.parquet(f"{root}/v{epoch_id}/decisions")
        kept_state = new.join(
            F.broadcast(decisions.filter("kept").select(id_col)), id_col, "leftsemi"
        )
        state.unionByName(kept_state).write.mode("overwrite").parquet(
            f"{root}/v{epoch_id}/state"
        )
        # decisions accumulate across epochs; a retried epoch REPLACES its
        # own directory (dirs_exist_ok would merge the retry's uniquely-
        # named part files next to the stale ones and double every row)
        dst = f"{root}/decisions/e{epoch_id}"
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(f"{root}/v{epoch_id}/decisions", dst)
        cur["version"] = epoch_id
        if prev_version is not None and prev_version != epoch_id:
            shutil.rmtree(f"{root}/v{prev_version}", ignore_errors=True)

    run_foreach_batch(doc_stream, sink, timeout_s)
    if cur["version"] is None or not os.path.isdir(f"{root}/decisions"):
        return spark.createDataFrame(
            [], f"{id_col} bigint, kept boolean, dup_of bigint"
        )
    return spark.read.parquet(f"{root}/decisions/e*")
