"""Datagen source workload (reference DatagenSourceConfig parity) + approx
sketches. The generator is closed-form arithmetic, so the oracle regenerates
identical rows in DuckDB and the whole pipeline (generate → window agg) sits
in the exact-match gate."""

from __future__ import annotations

from pyspark.sql import functions as F

from volga_spark.sources.datagen import DatagenSpec, FieldSpec, duck_generate_sql, generate
from volga_spark.tables import load_table
from volga_spark.workloads import workload

_SPEC = DatagenSpec(
    n_rows=20_000,
    fields=[
        FieldSpec("event_time", "incremental_timestamp", start_s=1_700_000_000, step_ms=250),
        FieldSpec("key", "key", num_unique=4),
        FieldSpec("seq", "increment"),
        FieldSpec("value", "uniform", lo=0.0, hi=100.0, seed=7),
        FieldSpec("kind", "values", values=("click", "view", "purchase")),
    ],
)


@workload(
    "q_datagen_window",
    oracle=f"""
        SELECT key, kind,
               count(*) AS n,
               CAST(sum(CAST(round(value * 10) AS BIGINT)) AS BIGINT) AS decivalue_sum,
               min(event_time) AS first_ts,
               max(seq) AS max_seq
        FROM {duck_generate_sql(_SPEC)}
        GROUP BY key, kind
    """,
    tags=("source", "datagen"),
)
def q_datagen_window(spark, sf_dir):
    """20k generated rows (the reference window-benchmark shape: 4 keys,
    rate-controlled timestamps, uniform values) → keyed aggregation.
    sf_dir unused — the source IS the generator."""
    df = generate(spark, _SPEC)
    return df.groupBy("key", "kind").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 10).cast("long")).alias("decivalue_sum"),
        F.min("event_time").alias("first_ts"),
        F.max("seq").alias("max_seq"),
    )


# DuckDB twin of the three exact-operating-point legs. The simhash/winnow
# subqueries recompute the SIGNATURES from scratch (md5 bit-vectors /
# polynomial rolling hash), the banding joins, and the verify filters — a
# genuinely independent formulation of the whole pipeline, not a replay.
# Short-document fallback branches (text < k chars, fewer hashes than one
# window) are not modeled: every documents row is ≥ 48 chars at all SF dirs,
# and a corpus regeneration that violates this fails the compare loudly.
_APPROX_SKETCHES_ORACLE = """
    SELECT * FROM (
        SELECT 'sketch' AS leg, l_returnflag AS grp,
               CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b,
               CAST(count(DISTINCT l_partkey) AS DOUBLE) AS v1,
               CAST(quantile_disc(l_extendedprice, 0.5) AS DOUBLE) AS v2,
               CAST(quantile_disc(l_extendedprice, 0.99) AS DOUBLE) AS v3
        FROM lineitem GROUP BY l_returnflag
    )
    UNION ALL
    SELECT * FROM (
        WITH toks AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        -- bit i of the little-endian uint64 of md5's first 8 bytes is
        -- bit (i % 8) of hex byte (i // 8); each set bit votes +1, else -1
        bits AS (
            SELECT doc_id, i,
                   sum(CASE WHEN (CAST(('0x' || substr(md5(tok), 2*(i//8)+1, 2))
                                       AS BIGINT) // (1 << (i % 8))) % 2 = 1
                            THEN 1 ELSE -1 END) AS acc
            FROM toks, generate_series(0, 63) AS g(i)
            GROUP BY doc_id, i
        ),
        sh AS (
            SELECT doc_id,
                   CAST(coalesce(sum(CASE WHEN acc > 0 AND i < 63
                                          THEN CAST(1 AS BIGINT) << i END), 0)
                        + CASE WHEN max(CASE WHEN i = 63 AND acc > 0
                                            THEN 1 ELSE 0 END) = 1
                               THEN 0 ELSE -9223372036854775808 END
                        AS BIGINT) AS sim,
                   coalesce(sum(CASE WHEN acc > 0 AND i // 16 = 0
                                     THEN CAST(1 AS BIGINT) << (i % 16) END), 0) AS c0,
                   coalesce(sum(CASE WHEN acc > 0 AND i // 16 = 1
                                     THEN CAST(1 AS BIGINT) << (i % 16) END), 0) AS c1,
                   coalesce(sum(CASE WHEN acc > 0 AND i // 16 = 2
                                     THEN CAST(1 AS BIGINT) << (i % 16) END), 0) AS c2,
                   coalesce(sum(CASE WHEN acc > 0 AND i // 16 = 3
                                     THEN CAST(1 AS BIGINT) << (i % 16) END), 0) AS c3
            FROM bits GROUP BY doc_id
        ),
        bandrows AS (
            SELECT doc_id, sim, 0 AS band, c0 AS chunk FROM sh
            UNION ALL SELECT doc_id, sim, 1, c1 FROM sh
            UNION ALL SELECT doc_id, sim, 2, c2 FROM sh
            UNION ALL SELECT doc_id, sim, 3, c3 FROM sh
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   bit_count(xor(a.sim, b.sim)) AS hamming
            FROM bandrows a JOIN bandrows b
              ON a.band = b.band AND a.chunk = b.chunk
             AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sim, b.sim)) <= 3
        )
        SELECT 'simhash' AS leg, CAST(NULL AS VARCHAR) AS grp,
               id_a, id_b, CAST(hamming AS DOUBLE) AS v1,
               CAST(NULL AS DOUBLE) AS v2, CAST(NULL AS DOUBLE) AS v3
        FROM cand
    )
    UNION ALL
    SELECT * FROM (
        WITH ipos AS (
            SELECT doc_id, text,
                   unnest(generate_series(1, length(text) - 4)) AS i
            FROM documents
        ),
        -- k=5 polynomial rolling hash, base 257 mod 2^31-1 (powers inlined)
        pos AS (
            SELECT doc_id, i,
                   (ascii(substr(text, i,   1)) * 4362470401
                  + ascii(substr(text, i+1, 1)) * 16974593
                  + ascii(substr(text, i+2, 1)) * 66049
                  + ascii(substr(text, i+3, 1)) * 257
                  + ascii(substr(text, i+4, 1))) % 2147483647 AS h
            FROM ipos
        ),
        -- rightmost min of each window of 8 = argmax of (MOD-1-h, i),
        -- packed into one int64 key so a plain windowed max decodes it
        sel AS (
            SELECT doc_id,
                   max((2147483646 - h) * 4294967296 + i)
                       OVER (PARTITION BY doc_id ORDER BY i
                             ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS key,
                   i, count(*) OVER (PARTITION BY doc_id) AS m
            FROM pos
        ),
        fps AS (
            SELECT DISTINCT doc_id, 2147483646 - (key // 4294967296) AS fp
            FROM sel WHERE i <= m - 7
        ),
        counts AS (SELECT doc_id, count(*) AS n_fp FROM fps GROUP BY doc_id),
        pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
            FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT 'winnow' AS leg, CAST(NULL AS VARCHAR) AS grp,
               p.id_a, p.id_b,
               CAST(p.shared * 1000000 // least(na.n_fp, nb.n_fp) AS DOUBLE) AS v1,
               CAST(NULL AS DOUBLE) AS v2, CAST(NULL AS DOUBLE) AS v3
        FROM pairs p
        JOIN counts na ON na.doc_id = p.id_a
        JOIN counts nb ON nb.doc_id = p.id_b
        WHERE p.shared * 10 >= least(na.n_fp, nb.n_fp) * 6
    )
"""


@workload(
    "q_approx_sketches",
    oracle=_APPROX_SKETCHES_ORACLE,
    tags=("agg", "approx"),
)
def q_approx_sketches(spark, sf_dir):
    """The engine's approximate-machinery surface, each leg pinned at an
    EXACT OPERATING POINT so the full pipeline must reproduce the exact
    answer (r08 verdict item #4 — the q_ann_lsh_topk recall-1 trick applied
    to the remaining rows-only legs; the approximate operating points stay
    measured in pytest):

    - ``sketch``: DataSketches HLL distinct at lgConfigK=21 — the sketch
      stays in its exact coupon (LIST/SET) phase far beyond this corpus's
      per-group cardinality, so the estimate IS the exact count by the
      algorithm's construction (pinned at lgK=12 ≠ exact in
      tests/test_sketch_exact_points.py, so exactness here is the
      operating point, not DuckDB coincidence); plus percentile sketches
      at accuracy ≥ group size (relative rank error 1/accuracy < 1 row →
      the summary retains every value and returns the exact discrete
      percentile). Default-accuracy error bounds stay asserted in pytest.
    - ``simhash``: SimHash64 banded near-dup candidates within Hamming
      radius ≤ 3 at the PRODUCTION setting — the signature is a
      deterministic md5-bit function, so the DuckDB twin recomputes the
      64-bit signatures, the 4×16 banding join, and the bit_count(xor)
      verify from scratch (bit-equality + banding recall also in
      tests/test_dedup.py).
    - ``winnow``: rolling-hash winnowing fingerprint pairs at containment
      ≥ 0.6, PRODUCTION setting (k=5, window=8) — the polynomial rolling
      hash (base 257 mod 2³¹−1) and rightmost-window-min selection are
      twinned in SQL; containment is emitted in exact integer micro-units
      (shared·10⁶ div min(n)) so no float rounding reaches the hash gate.
      The Σdf² skew guard is quiescent on this corpus (the twin models the
      unpruned operating point; pruning only engages on boilerplate-heavy
      corpora, where recall loss is the documented intent).

    The former ``ivfpq`` leg (IVF + product quantization ADC) admits NO
    exact operating point short of degeneracy: ADC scores are quantized
    reconstructions, so the shortlist order is data-dependently wrong and
    any refine_factor < corpus/k can structurally miss a true neighbor
    (probe-all only fixes IVF routing, not PQ scoring; refine_factor ≥
    corpus/k degenerates to brute force and exercises nothing). Its exact
    sibling (probe-all IVF, no PQ) is driver-oracled as q_ann_lsh_topk's
    'ivf' leg; PQ/ADC recall is measured in tests/test_similarity.py.
    """
    li = load_table(spark, sf_dir, "lineitem")
    sketch = li.groupBy("l_returnflag").agg(
        F.expr(
            "hll_sketch_estimate(hll_sketch_agg(l_partkey, 21))"
        ).alias("exact_parts"),
        F.percentile_approx(
            "l_extendedprice", 0.5, 10_000_000
        ).alias("p50_price"),
        F.percentile_approx(
            "l_extendedprice", 0.99, 10_000_000
        ).alias("p99_price"),
    ).select(
        F.lit("sketch").alias("leg"),
        F.col("l_returnflag").alias("grp"),
        F.lit(None).cast("long").alias("id_a"),
        F.lit(None).cast("long").alias("id_b"),
        F.col("exact_parts").cast("double").alias("v1"),
        F.col("p50_price").cast("double").alias("v2"),
        F.col("p99_price").cast("double").alias("v3"),
    )

    from volga_spark.operators.dedup import (
        signatures,
        simhash_candidates,
        winnow_candidate_pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    # ONE Arrow pass for both signature families (shared tokenization),
    # checkpointed so the two candidate branches read the cached frame
    sigs = signatures(
        d.select("doc_id", "text"), "text", ("simhash", "winnow")
    ).localCheckpoint(eager=False)
    # hamming verify fused into the banding join (radius arg): the
    # quadratic per-bucket candidate set never leaves its stage
    simhash = simhash_candidates(
        sigs.select("doc_id", "simhash"), "doc_id", bands=4, radius=3
    ).select(
        F.lit("simhash").alias("leg"),
        F.lit(None).cast("string").alias("grp"),
        "id_a",
        "id_b",
        F.col("hamming").cast("double").alias("v1"),
        F.lit(None).cast("double").alias("v2"),
        F.lit(None).cast("double").alias("v3"),
    )
    # n_fp rides map-side (size of the per-doc fingerprint array — the
    # winnow generator emits distinct fps, so the array size IS the per-doc
    # count); r14: saves winnow_candidate_pairs its count-window exchange +
    # sort. The operator recomputes it itself if the skew prune engages.
    fps = sigs.select(
        "doc_id",
        F.size("winnow_fps").cast("bigint").alias("n_fp"),
        F.explode("winnow_fps").alias("fp"),
    )
    # skew-guarded fingerprint join: Σdf² estimated from the df histogram,
    # hot (boilerplate) fingerprints pruned when it exceeds the limit
    wpairs, _ = winnow_candidate_pairs(fps, "doc_id")
    winnow = (
        # containment ≥ 0.6 and the emitted value both in exact integer
        # arithmetic (shared·10 ≥ 6·min; micro-units via div) — float
        # rounding never reaches the driver's hash gate
        wpairs.filter(
            F.col("shared_fps") * 10 >= F.least("n_a", "n_b") * 6
        )
        .select(
            F.lit("winnow").alias("leg"),
            F.lit(None).cast("string").alias("grp"),
            "id_a",
            "id_b",
            F.expr(
                "CAST(shared_fps * 1000000 div least(n_a, n_b) AS DOUBLE)"
            ).alias("v1"),
            F.lit(None).cast("double").alias("v2"),
            F.lit(None).cast("double").alias("v3"),
        )
    )
    return sketch.unionByName(simhash).unionByName(winnow)
