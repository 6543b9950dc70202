"""Deduplication workloads over `documents`.

Exact dedup, the n-gram Jaccard verifier, the connected-components
clustering, AND (r07) the MinHash+LSH verified near-dup pipeline all have
DuckDB oracles — the banded candidate stage provably loses nothing at this
corpus's J ≥ 0.9 duplicate band, so its verified output must equal the
exact all-pairs Jaccard set. The SimHash/winnowing candidate families
(genuinely not SQL-expressible) live in q_approx_sketches' rows-only legs,
validated against independent Python recomputation in tests/test_dedup.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from volga_spark.operators.components import connected_components
from volga_spark.operators.dedup import (
    all_pairs_jaccard,
    exact_jaccard_pairs,
    lsh_candidate_pairs,
    signatures,
)
from volga_spark.operators.text import fingerprint
from volga_spark.tables import load_table
from volga_spark.workloads import workload


_KMV_K = 128
# the integer estimator scales — derived from the operator's shift
# constants so the inlined DuckDB oracle text can never drift from the
# Spark-side _est_expr: ((k-1) << NUM) div (vk >> DEN)
from volga_spark.operators.overlap import _DEN_SHIFT, _NUM_SHIFT

_KMV_NUM = 2**_NUM_SHIFT
_KMV_DEN = 2**_DEN_SHIFT


@workload(
    "q_dedup_exact",
    oracle=f"""
        WITH exact AS (
            SELECT 'exact' AS leg, md5(text) AS fp,
                   min(doc_id) AS keep_id, count(*) AS n_copies
            FROM documents GROUP BY md5(text)
        ),
        ka AS (SELECT h FROM (SELECT DISTINCT md5(text) AS h FROM documents
                              WHERE doc_id % 2 = 0) ORDER BY h LIMIT {_KMV_K}),
        kb AS (SELECT h FROM (SELECT DISTINCT md5(text) AS h FROM documents
                              WHERE doc_id % 2 = 1) ORDER BY h LIMIT {_KMV_K}),
        ku AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
               ORDER BY h LIMIT {_KMV_K}),
        kmv AS (
            SELECT 'kmv_union' AS leg, h AS fp,
                   CAST(row_number() OVER (ORDER BY h) AS BIGINT) AS keep_id,
                   CAST((CASE WHEN h IN (SELECT h FROM ka) THEN 1 ELSE 0 END)
                        + 2 * (CASE WHEN h IN (SELECT h FROM kb) THEN 1 ELSE 0
                               END) AS BIGINT) AS n_copies
            FROM ku
        ),
        agg AS (
            SELECT CAST(sum(CASE WHEN n_copies = 3 THEN 1 ELSE 0 END)
                        AS BIGINT) AS x,
                   CAST(count(*) AS INT) AS n_union,
                   max(CAST(('0x' || substr(fp, 1, 15)) AS BIGINT)) AS vk
            FROM kmv
        ),
        est AS (
            SELECT x, n_union, vk,
                   CASE WHEN n_union < {_KMV_K} THEN CAST(n_union AS BIGINT)
                        ELSE CAST(({_KMV_K} - 1) * CAST({_KMV_NUM} AS BIGINT)
                                  // greatest(1, vk // {_KMV_DEN}) AS BIGINT)
                   END AS est_union
            FROM agg
        ),
        stats AS (
            SELECT 'kmv_stat' AS leg, s.name AS fp, s.val AS keep_id,
                   CAST(NULL AS BIGINT) AS n_copies
            FROM (
                SELECT 'x' AS name, x AS val FROM est
                UNION ALL SELECT 'n_union', CAST(n_union AS BIGINT) FROM est
                UNION ALL SELECT 'vk', vk FROM est
                UNION ALL SELECT 'est_union', est_union FROM est
                UNION ALL SELECT 'est_intersection',
                    CAST(x * est_union
                         // (CASE WHEN n_union = 0 THEN 1
                             WHEN n_union < {_KMV_K} THEN n_union
                             ELSE {_KMV_K} END) AS BIGINT)
                FROM est
            ) s
        )
        SELECT * FROM exact
        UNION ALL SELECT * FROM kmv
        UNION ALL SELECT * FROM stats
    """,
    tags=("dedup", "sketch"),
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup (leg 'exact': group on the 16-byte fingerprint — the
    shuffle carries digests only, keep the smallest id) PLUS the r07 KMV
    cross-corpus overlap tier (`operators/overlap.py`): the corpus split
    into halves by doc_id parity, each half reduced to a bottom-k sketch
    in one map-side pass (<= k rows leave any partition), then union
    sketch membership ('kmv_union' rows: rank + which-half bitmask) and
    the pure-integer estimators ('kmv_stat' rows: x, n_union, vk,
    est_union, est_intersection). The sketch is an exact function of the
    corpus and the estimators are integer `div` arithmetic, so this
    "approximate" tier hash-matches the DuckDB replay exactly."""
    from volga_spark.operators.overlap import kmv_merge, kmv_sketch_by

    d = load_table(spark, sf_dir, "documents")
    exact = (
        d.select(fingerprint("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .select(F.lit("exact").alias("leg"), "fp", "keep_id", "n_copies")
    )
    k = _KMV_K
    # both half-sketches in ONE corpus scan (kmv_sketch_by), checkpointed:
    # the tiny combined frame feeds four consumers (merge + two membership
    # flags + stats) and must not re-run the scan per branch
    sk = kmv_sketch_by(d, "text", F.col("doc_id") % 2, k=k).localCheckpoint(
        eager=False
    )
    ska = sk.filter(F.col("side") == "0").select("h", "rank")
    skb = sk.filter(F.col("side") == "1").select("h", "rank")
    u = kmv_merge(ska, skb, k=k)
    flagged = (
        u.join(
            F.broadcast(ska.select(F.col("h").alias("ha"))),
            u.h == F.col("ha"),
            "left",
        )
        .join(
            F.broadcast(skb.select(F.col("h").alias("hb"))),
            u.h == F.col("hb"),
            "left",
        )
        .select(
            F.col("h"),
            F.col("rank"),
            (
                F.col("ha").isNotNull().cast("long")
                + 2 * F.col("hb").isNotNull().cast("long")
            ).alias("mask"),
        )
        .localCheckpoint(eager=False)  # feeds both the rows and stats legs
    )
    kmv_rows = flagged.select(
        F.lit("kmv_union").alias("leg"),
        F.col("h").alias("fp"),
        F.col("rank").cast("long").alias("keep_id"),
        F.col("mask").alias("n_copies"),
    )
    # estimator stats straight off the flagged union sketch — the SHARED
    # expressions from operators/overlap (one definition, so the workload
    # can never drift from kmv_overlap or its DuckDB twin), without a
    # second merge pipeline (this query already has the membership rows)
    from volga_spark.operators.overlap import (
        _est_expr,
        _est_intersection_expr,
        _hash_int,
    )

    stats = (
        flagged.agg(
            F.sum((F.col("mask") == 3).cast("long")).alias("x"),
            F.count("*").cast("int").alias("n_union"),
            F.max(_hash_int(F.col("h"))).alias("__vk"),
        )
        .withColumn("est_union", _est_expr(F.col("n_union"), k))
        .withColumn("est_intersection", _est_intersection_expr(k))
        .withColumn("vk", F.col("__vk"))
        .selectExpr(
            "stack(5, 'x', x, 'n_union', CAST(n_union AS BIGINT), 'vk', vk, "
            "'est_union', est_union, 'est_intersection', est_intersection) "
            "AS (fp, keep_id)"
        )
        .select(
            F.lit("kmv_stat").alias("leg"),
            "fp",
            "keep_id",
            F.lit(None).cast("long").alias("n_copies"),
        )
    )
    return exact.unionByName(kmv_rows).unionByName(stats)


@workload(
    "q_dedup_approx_pairs",
    oracle="""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        sh AS (
            SELECT doc_id,
                   list_distinct([array_to_string(t[i:i+2], ' ')
                                  for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS s
            FROM toks
        ),
        ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
        cand AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
            FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        cnt AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS n FROM sh)
        SELECT id_a, id_b, round(ni / (ca.n + cb.n - ni), 6) AS jaccard
        FROM cand
        JOIN cnt ca ON ca.doc_id = id_a
        JOIN cnt cb ON cb.doc_id = id_b
        WHERE ni / (ca.n + cb.n - ni) >= 0.7
    """,
    tags=("dedup", "approx"),
)
def q_dedup_approx_pairs(spark, sf_dir):
    """MinHash(64) + LSH(16x4) banded candidates → exact 3-gram Jaccard
    ≥ 0.7 verification. Near-linear (banding join, no pairwise scan), yet
    DRIVER-ORACLED against DuckDB's exact ALL-PAIRS shared-shingle Jaccard
    join (r06 verdict item #2): the corpus's true near-dup pairs all sit at
    J ≥ 0.9, where the 16-band×4-row banding's miss probability is
    (1 - J^4)^16 ≤ 4e-8 per pair — the candidate stage provably loses
    nothing, so the verified output must hash-match the exact pair set.
    The simhash/winnow candidate families (genuinely not SQL-expressible)
    live in q_approx_sketches' rows-only legs, each still validated against
    independent Python recomputation in tests/test_dedup.py."""
    d = load_table(spark, sf_dir, "documents")
    sigs = signatures(d.select("doc_id", "text"), "text", ("minhash",), k=64, n=3)
    mh_cands = lsh_candidate_pairs(
        sigs.select("doc_id", "signature"), "doc_id", bands=16, rows=4
    )
    return (
        exact_jaccard_pairs(d, mh_cands, "text", "doc_id", n=3)
        .filter(F.col("jaccard") >= 0.7)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


@workload(
    "q_dedup_substring_spans",
    oracle="""
        WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        grams_pos AS (
            SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS pos
            FROM docs
        ),
        grams AS (
            SELECT doc_id, pos, array_to_string(w[pos:pos+7], ' ') AS gram
            FROM grams_pos
        ),
        dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) > 1),
        dpos AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
        marked AS (
            SELECT doc_id, pos,
                   CASE WHEN lag(pos) OVER w IS NULL
                             OR pos > lag(pos) OVER w + 8
                        THEN 1 ELSE 0 END AS new_span
            FROM dpos WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ),
        sess AS (
            SELECT doc_id, pos,
                   sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
            FROM marked
        ),
        spans AS (
            SELECT doc_id, span_id, min(pos) AS s, max(pos) + 7 AS e
            FROM sess GROUP BY 1, 2
        ),
        per_doc AS (
            SELECT doc_id, count(*) AS n_spans,
                   CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
            FROM spans GROUP BY doc_id
        ),
        npos AS (SELECT doc_id, count(*) AS n_dup_positions FROM dpos GROUP BY doc_id)
        SELECT p.doc_id, np.n_dup_positions, p.n_spans, p.dup_tokens
        FROM per_doc p JOIN npos np USING (doc_id)
    """,
    tags=("dedup", "substring"),
)
def q_dedup_substring_spans(spark, sf_dir):
    """EXACT substring dedup over `documents` (Lee et al. 2021): dense word
    8-grams, corpus-wide duplicated occurrences, overlapping windows merged
    into maximal per-document spans. Fully native (no Python stage); the
    global frequency shuffle carries xxhash64'd 8-byte gram keys — the
    Spark-first stand-in for the paper's suffix array. The oracle groups
    the gram STRINGS; results agree absent int64 hash collisions."""
    from volga_spark.operators.dedup import duplicated_ngram_spans

    d = load_table(spark, sf_dir, "documents")
    return duplicated_ngram_spans(d, "text", "doc_id", n=8)


@workload(
    "q_ngram_jaccard",
    oracle="""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        sh AS (
            SELECT doc_id,
                   list_distinct([array_to_string(t[i:i+2], ' ')
                                  for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS s
            FROM toks
        ),
        p AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS ni,
                   CAST(len(a.s) AS BIGINT) AS na, CAST(len(b.s) AS BIGINT) AS nb
            FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        )
        SELECT id_a, id_b, round(ni / (na + nb - ni), 6) AS jaccard FROM p
    """,
    tags=("dedup",),
)
def q_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard on a deterministic candidate slice (every pair of
    consecutive doc_ids) — exercises the shingle-join verifier standalone."""
    d = load_table(spark, sf_dir, "documents")
    pairs = d.select(F.col("doc_id").alias("id_a")).withColumn(
        "id_b", F.col("id_a") + 1
    )
    pairs = pairs.join(
        d.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi"
    )
    return exact_jaccard_pairs(d, pairs, "text", "doc_id", n=3).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


# 90/5/5: wider eval slices than the 98/1/1 default so the sf0.01 corpus
# (500 docs) lands a non-trivial row count in every split
_SPLIT_FR = {"train": 0.90, "val": 0.05, "test": 0.05}


def _split_case() -> str:
    from volga_spark.operators.splits import split_oracle_expr

    return split_oracle_expr("cluster_id", _SPLIT_FR, seed="volga")


@workload(
    "q_dedup_clusters",
    oracle=f"""
        WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        sh AS (
            SELECT doc_id,
                   list_distinct([array_to_string(t[i:i+2], ' ')
                                  for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS s
            FROM toks
        ),
        ex AS (SELECT doc_id, unnest(s) AS sh FROM sh),
        rare AS (SELECT sh FROM ex GROUP BY sh HAVING count(*) <= 64),
        exr AS (SELECT e.doc_id, e.sh FROM ex e JOIN rare USING (sh)),
        cnt AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS n FROM sh),
        p AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(count(*) AS BIGINT) AS ni
            FROM exr a JOIN exr b USING (sh)
            WHERE b.doc_id > a.doc_id GROUP BY 1, 2
        ),
        e AS (
            SELECT id_a, id_b
            FROM p JOIN cnt ca ON ca.doc_id = p.id_a
                   JOIN cnt cb ON cb.doc_id = p.id_b
            WHERE ni / (ca.n + cb.n - ni) >= 0.7
        ),
        sym AS (SELECT id_a AS src, id_b AS dst FROM e
                UNION ALL SELECT id_b, id_a FROM e),
        reach(node, lbl) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.node
        ),
        cl AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node)
        SELECT doc_id, cluster_id, {_split_case()} AS split
        FROM cl
    """,
    tags=("dedup",),
)
def q_dedup_clusters(spark, sf_dir):
    """Full dedup resolution ON THE PRUNED-EDGES PATH: near-dup pairs (3-gram
    Jaccard ≥ 0.7 via the shared-shingle join, with the stop-shingle prune
    ``max_shingle_freq=64`` ON — the 100 TB scale guard: a boilerplate
    shingle shared by 10^6 docs would otherwise contribute 10^12 join pairs)
    → transitive closure with large-star/small-star connected components →
    every doc labeled with its cluster's min doc_id. The DuckDB oracle
    applies the IDENTICAL prune in its CTE (intersections counted over
    shingles with doc-frequency ≤ 64; per-doc sizes stay unpruned), so the
    pruned pipeline itself is hash-checked end-to-end, transitivity included.
    Exactness trade: pairs whose ONLY overlap is stop shingles score 0 on
    both engines; at this corpus max df ≈ 25 < 64, so the pruned result
    coincides with the exact one — the prune is exercised as a plan/semantic
    path, and the threshold is the knob to drop at a boilerplate-heavy
    corpus.

    r07 'split' column: :func:`leakage_safe_split` keyed on the cluster —
    every near-dup cluster lands in ONE of train/val/test (the leakage
    guard a per-document hash split lacks), hash-checked against the
    oracle's identical md5-bucket CASE over the same recursive-CTE
    clusters."""
    from volga_spark.operators.splits import leakage_safe_split

    d = load_table(spark, sf_dir, "documents")
    edges = all_pairs_jaccard(
        d, "text", "doc_id", n=3, max_shingle_freq=64
    ).filter(F.col("jaccard") >= 0.7)
    cc = connected_components(edges, "id_a", "id_b")
    return leakage_safe_split(
        d.select("doc_id"),
        cc,
        "doc_id",
        _SPLIT_FR,
        seed="volga",
        keep_cluster_col="cluster_id",
    ).select("doc_id", "cluster_id", "split")

