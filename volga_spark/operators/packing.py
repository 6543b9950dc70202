"""Training-batch assembly: domain-mixture selection + sequence packing.

The last data-side steps before tokens hit a trainer:

- :func:`mixture_select` — pick documents per domain until each domain's
  token budget is met (the Pile/DoReMi-style mixture weighting, made
  deterministic): docs are ordered inside each domain by md5(seed:id) (the
  same engine-portable rank as `operators/sampling`) and kept while the
  domain's running token total is below floor(weight·budget). Pure
  function of (seed, corpus) — reruns, repartitions, and engines agree.

- :func:`pack_sequences` — concatenate the selected docs in deterministic
  global rank order and slice the token stream into fixed-length training
  sequences (GPT-style "concat then chunk"). A document whose tokens
  straddle a boundary yields one span row per sequence it touches:
  (doc_id, seq_id, seq_offset, doc_offset, span_len).
  (The OTHER packing variant — greedy first-fit bins that never split a
  document, per-shard — is `operators/chunking.pack_sequences`; this one
  is the exact-fixed-length trainer shape, that one is the
  no-truncation retrieval/context shape.)

The packing prefix sum is the interesting distributed bit. A naive
`SUM OVER (ORDER BY rank)` with no PARTITION BY collapses the whole corpus
into ONE task — the classic window scale-killer. Instead the classic
two-phase prefix sum: the md5 rank's first two hex chars give 256 buckets
that are PREFIXES of the global order (bucket '00' rows all precede '01'),
so phase 1 computes within-bucket running totals partition-parallel,
phase 2 window-sums the 256-row bucket-total frame (trivially small) into
per-bucket bases, and a broadcast join adds base + local offset = exact
global offset. DuckDB's oracle uses the plain global window — same values,
single-node. All arithmetic is integer (token counts), so the surfaces
hash-compare exactly.

100 TB: mixture_select's per-domain window sorts only within a domain
partition; when a domain's corpus vastly exceeds its budget, pass
`prefilter_margin` to pre-drop rows whose rank falls outside a
conservative keep-fraction estimate before the sort (budget ≪ corpus is
the common case). pack_sequences moves each row once through the bucket
shuffle; the only non-parallel step is the 256-row bucket-total window.

Reference: no packing/mixture operators in the reference (windows/aggs
engine — reference src/runtime/operators/, .rs); training-data tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from volga_spark.functions.tokenize import n_tokens, n_tokens_sql
from volga_spark.operators.sampling import _rank, _rank_sql

N_BUCKETS_HEX = 2  # md5-prefix chars → 16^2 = 256 prefix-ordered buckets


def _with_tokens(docs: DataFrame, text_col: str) -> DataFrame:
    """n_tokens = the SHARED whitespace token count
    (`functions/tokenize`) — the same definition BM25 doc lengths use, so
    retrieval and packing budgets can never desynchronize."""
    return docs.withColumn("n_tokens", n_tokens(text_col)).filter(
        F.col("n_tokens") > 0
    )


def token_counts_sql(text_sql: str) -> str:
    """DuckDB twin of the n_tokens expression."""
    return n_tokens_sql(text_sql)


def domain_budgets(weights: dict[str, float], token_budget: int) -> dict[str, int]:
    """Per-domain integer budgets floor(w·B), computed driver-side in exact
    Python so neither engine does float weight arithmetic."""
    return {d: int(w * token_budget) for d, w in weights.items()}


def mixture_select(
    docs: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    domain_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "volga-mix",
    prefilter_margin: float | None = None,
) -> DataFrame:
    """Keep docs per domain, in md5-rank order, while the domain's running
    token total (exclusive) is under floor(weight·budget). Domains absent
    from `weights` are dropped. Output keeps (id, domain, n_tokens, rank).

    `prefilter_margin` is the budget ≪ corpus scale knob: the per-domain
    window sorts the WHOLE domain by rank, which is wasteful when a
    domain's corpus vastly exceeds its budget. With a margin m, a first
    narrow aggregate measures each domain's total tokens T_d, and only
    the rank-PREFIX expected to hold ~m× the budget (fraction
    min(1, m·budget_d/T_d) of the rank space) enters the sort. Because
    the md5 rank is uniform and the filter keeps a strict rank prefix,
    the result is EXACT whenever the prefix covers the budget — and the
    operator VERIFIES that per domain (selected total ≥ budget, or the
    domain was taken whole) and transparently re-runs any undershot
    domain unfiltered, so the answer is always identical to the
    unfiltered window (property-tested, including a forced-fallback
    margin). m=2 makes fallback vanishingly unlikely in practice."""
    d = _with_tokens(docs, text_col).withColumn("rank", _rank(id_col, seed))
    if not prefilter_margin:
        return budget_select(d, weights, token_budget, domain_col, id_col)

    budgets = domain_budgets(weights, token_budget)
    totals = {
        r[0]: (int(r[1]), int(r[2]))
        for r in d.filter(F.col(domain_col).isin(list(budgets)))
        .groupBy(domain_col)
        .agg(F.sum("n_tokens"), F.count("*"))
        .collect()
    }
    # fraction of the 48-bit rank space each domain keeps (python floats —
    # thresholds only steer the prefilter; exactness comes from the
    # verify-and-fallback below, never from the threshold itself)
    frac = {
        dom: min(1.0, prefilter_margin * budgets.get(dom, 0) / max(T, 1))
        for dom, (T, _) in totals.items()
    }
    bucket48 = F.conv(F.substring("rank", 1, 12), 16, 10).cast("decimal(20,0)")
    thr_expr = F.create_map(
        *[
            x
            for dom, f in frac.items()
            for x in (F.lit(dom), F.lit(int(f * (2**48))))
        ]
    )[F.col(domain_col)]
    pre = d.filter(bucket48 < thr_expr)
    sel = budget_select(pre, weights, token_budget, domain_col, id_col)

    # exactness check: a domain's prefix selection equals the unfiltered
    # selection iff the budget (not data exhaustion) cut it off — selected
    # total ≥ budget — or the whole domain passed the prefilter
    sel = sel.localCheckpoint(eager=False)
    got = {
        r[0]: (int(r[1]), int(r[2]))
        for r in sel.groupBy("domain")
        .agg(F.sum("n_tokens"), F.count("*"))
        .collect()
    }
    undershot = [
        dom
        for dom, (T, n_rows) in totals.items()
        if frac.get(dom, 1.0) < 1.0
        and got.get(dom, (0, 0))[0] < budgets.get(dom, 0)
    ]
    if not undershot:
        return sel
    # re-run just the undershot domains without the prefilter (rare by
    # construction at any sane margin; exactness is unconditional)
    redo = budget_select(
        d.filter(F.col(domain_col).isin(undershot)),
        {k: v for k, v in weights.items() if k in undershot},
        token_budget,
        domain_col,
        id_col,
    )
    return sel.filter(~F.col("domain").isin(undershot)).unionByName(redo)


def budget_select(
    d: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    domain_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """The budget-window core of :func:`mixture_select` over a frame that
    ALREADY carries `n_tokens` and `rank` columns — callers with their own
    token accounting (e.g. BPE-id counts in the training export) use this
    directly."""
    return budget_select_abs(
        d, domain_budgets(weights, token_budget), domain_col, id_col
    )


def budget_select_abs(
    d: DataFrame,
    budgets: dict[str, int],
    domain_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`budget_select` with ABSOLUTE per-domain token budgets —
    the remainder-pass entry point of :func:`mixture_select_with_repeats`."""
    budget_expr = F.create_map(
        *[F.lit(x) for kv in budgets.items() for x in kv]
    )[F.col(domain_col)]
    d = d.filter(F.col(domain_col).isin(list(budgets)))
    w = (
        Window.partitionBy(domain_col)
        .orderBy("rank", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        d.withColumn("cum_prev", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .filter(F.col("cum_prev") < budget_expr)
        .select(id_col, F.col(domain_col).alias("domain"), "n_tokens", "rank")
    )


def mixture_select_oracle_sql(
    docs_sql: str,
    weights: dict[str, float],
    token_budget: int,
    domain_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "volga-mix",
) -> str:
    budgets = domain_budgets(weights, token_budget)
    case = " ".join(
        f"WHEN '{d}' THEN {n}" for d, n in sorted(budgets.items())
    )
    domains = ", ".join(f"'{d}'" for d in sorted(budgets))
    return f"""
        WITH toked AS (
            SELECT {id_col}, {domain_col} AS domain,
                   {token_counts_sql(text_col)} AS n_tokens,
                   {_rank_sql(id_col, seed)} AS rank
            FROM ({docs_sql})
            WHERE {token_counts_sql(text_col)} > 0
              AND {domain_col} IN ({domains})
        ),
        cum AS (
            SELECT *, COALESCE(SUM(n_tokens) OVER (
                       PARTITION BY domain ORDER BY rank, {id_col}
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_prev
            FROM toked
        )
        SELECT {id_col}, domain, n_tokens, rank FROM cum
        WHERE cum_prev < (CASE domain {case} ELSE 0 END)
    """


def mixture_select_with_repeats(
    docs: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    domain_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "volga-mix",
    max_repeats: int = 64,
) -> DataFrame:
    """:func:`mixture_select` with domain UPSAMPLING — the repeat-factor
    ("epochs per domain") knob every real LLM data recipe needs: when a
    domain's budget floor(w·B) exceeds its corpus tokens T_d, plain
    mixture_select silently takes the whole domain and UNDERSHOOTS,
    breaking the requested mixture proportions. Here the domain is
    repeated: budget_d div T_d full passes (every doc, copy_id 0..k-1)
    plus a remainder pass selected by the budget window over a FRESH
    deterministic shuffle — copy c ranks by md5(seed#copy{c}:id), the
    same per-pass reshuffle rule as the training export's epoch
    reshuffle, so repeated copies spread uniformly through the packed
    stream instead of clustering. copy_id 0 keeps mixture_select's exact
    rank, so with no upsampling the output IS mixture_select's (plus a
    zero copy_id column) — pinned by test.

    Output: (id_col, domain, n_tokens, rank, copy_id). Downstream packing
    treats each (id, copy_id) as its own stream element (ranks are
    distinct); callers needing a scalar key concat them.

    Scale: the per-domain pass plan (full passes = budget div T_d,
    remainder = budget mod T_d) is derived IN-PLAN from one narrow
    aggregate broadcast back onto the corpus rows — the same arithmetic
    its DuckDB oracle twin runs in a CTE (r14: this used to be a
    driver-side collect, i.e. a blocking job at query-construction time;
    now the whole selection is one lazy DAG). Full passes are a map-side
    explode (zero shuffles); only the remainder pass pays the per-domain
    budget window, over a single copy of the corpus. Output rows ∝
    token_budget — the trainer's own demand, irreducible. ``max_repeats``
    guards a degenerate weight/corpus combination (10^6 copies of a 3-doc
    domain) from exploding the output — enforced in-plan by an
    assert_true folded into the load-bearing copy-list bound (a
    standalone assert column would be pruned; see operators/tiles).
    """
    budgets = domain_budgets(weights, token_budget)
    budget_expr = F.create_map(
        *[F.lit(x) for kv in budgets.items() for x in kv]
    )[F.col(domain_col)].cast("bigint")
    # pin the tokenized scan: it feeds the plan aggregate, the full-pass
    # leg, and the remainder leg — the repo's branch discipline
    d = (
        _with_tokens(docs, text_col)
        .filter(F.col(domain_col).isin(list(budgets)))
        .localCheckpoint(eager=False)
    )
    # per-domain pass plan, derived in-plan (rows == #domains, broadcast):
    # n_full = budget div T_d, rem = budget mod T_d. T >= 1 always
    # (_with_tokens filters n_tokens > 0). The max_repeats guard rides the
    # n_full column itself so it cannot be column-pruned away.
    plan = d.groupBy(domain_col).agg(F.sum("n_tokens").alias("__T"))
    n_full_col = F.expr("__budget div __T")
    plan = (
        plan.withColumn("__budget", budget_expr)
        .withColumn(
            "__n_full",
            (
                n_full_col
                + F.coalesce(
                    F.assert_true(
                        n_full_col <= F.lit(max_repeats),
                        F.concat(
                            F.lit("domain "),
                            F.col(domain_col),
                            F.lit(
                                f" needs more than max_repeats={max_repeats} "
                                "passes; raise max_repeats if the recipe "
                                "really wants that"
                            ),
                        ),
                    ).cast("bigint"),
                    F.lit(0),
                )
            ).cast("int"),
        )
        .withColumn("__rem", F.expr("__budget % __T"))
        .select(domain_col, "__n_full", "__rem")
    )

    copy_rank = F.when(F.col("copy_id") == 0, _rank(id_col, seed)).otherwise(
        F.md5(
            F.concat(
                F.lit(seed + "#copy"),
                F.col("copy_id").cast("string"),
                F.lit(":"),
                F.col(id_col).cast("string"),
            )
        )
    )
    # one copy list per row: copy_id 0..n_full-1 are full passes, copy_id ==
    # n_full is the remainder-pass candidate row (filtered by its budget
    # window below) — sequence(0, n_full) is always ascending since
    # n_full >= 0
    copies = (
        d.join(F.broadcast(plan), domain_col)
        .withColumn("copy_id", F.explode(F.sequence(F.lit(0), F.col("__n_full"))))
        .withColumn("rank", copy_rank)
    )
    full = copies.filter(F.col("copy_id") < F.col("__n_full")).select(
        id_col,
        F.col(domain_col).alias("domain"),
        "n_tokens",
        "rank",
        "copy_id",
    )
    # remainder pass: one budget window over copy n_full, fresh shuffle;
    # domains with rem == 0 drop naturally (cum_prev >= 0 is never < 0)
    w = (
        Window.partitionBy(domain_col)
        .orderBy("rank", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rem_out = (
        # rem == 0 domains are pruned BEFORE the window (their candidate
        # rows could never pass cum_prev < 0 anyway) — restores the old
        # driver-side early-exit as an in-plan filter, so an exact-multiple
        # budget pays no remainder exchange/sort for that domain
        copies.filter(
            (F.col("copy_id") == F.col("__n_full")) & (F.col("__rem") > 0)
        )
        .withColumn(
            "cum_prev", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .filter(F.col("cum_prev") < F.col("__rem"))
        .select(
            id_col,
            F.col(domain_col).alias("domain"),
            "n_tokens",
            "rank",
            "copy_id",
        )
    )
    return full.unionByName(rem_out)


def mixture_repeats_oracle_sql(
    docs_sql: str,
    weights: dict[str, float],
    token_budget: int,
    domain_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "volga-mix",
) -> str:
    """DuckDB twin of :func:`mixture_select_with_repeats`, SELF-CONTAINED:
    the per-domain pass plan (full passes = budget div T_d, remainder =
    budget mod T_d) is derived from the corpus INSIDE the query — the
    same arithmetic the Spark side runs — so one static oracle string is
    exact at every scale factor. The copy list is a CORRELATED
    generate_series over the derived n_full (no fixed bound), so the
    oracle stays exact for any plan size; the Spark side's max_repeats
    guard raises ABOVE its cap rather than diverging."""
    budgets = domain_budgets(weights, token_budget)
    domains = ", ".join(f"'{d}'" for d in sorted(budgets))
    budget_case = " ".join(
        f"WHEN '{d}' THEN {b}" for d, b in sorted(budgets.items())
    )
    # escape ONLY the direct literal — _rank_sql escapes its own seed; a
    # pre-escaped seed would double-escape there and desync from Spark
    esc_seed = str(seed).replace("'", "''")
    rank_sql = (
        f"CASE WHEN c.copy_id = 0 THEN {_rank_sql('t.' + id_col, seed)} "
        f"ELSE md5('{esc_seed}#copy' || CAST(c.copy_id AS VARCHAR) || ':' "
        f"|| CAST(t.{id_col} AS VARCHAR)) END"
    )
    return f"""
        WITH toked AS (
            SELECT {id_col}, {domain_col} AS domain,
                   {token_counts_sql(text_col)} AS n_tokens
            FROM ({docs_sql})
            WHERE {token_counts_sql(text_col)} > 0
              AND {domain_col} IN ({domains})
        ),
        plan AS (
            SELECT domain,
                   CAST((CASE domain {budget_case} ELSE 0 END)
                        // CAST(SUM(n_tokens) AS BIGINT) AS BIGINT) AS n_full,
                   CAST((CASE domain {budget_case} ELSE 0 END)
                        % CAST(SUM(n_tokens) AS BIGINT) AS BIGINT) AS rem
            FROM toked GROUP BY domain
        ),
        copies AS (
            SELECT t.{id_col}, t.domain, t.n_tokens, c.copy_id,
                   p.n_full, p.rem, {rank_sql} AS rank
            FROM toked t
            JOIN plan p USING (domain),
                 unnest(generate_series(0, p.n_full)) AS c(copy_id)
        ),
        full_passes AS (
            SELECT {id_col}, domain, n_tokens, copy_id, rank
            FROM copies WHERE copy_id < n_full
        ),
        rem_cum AS (
            SELECT *, COALESCE(SUM(n_tokens) OVER (
                       PARTITION BY domain ORDER BY rank, {id_col}
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_prev
            FROM copies WHERE copy_id = n_full
        ),
        rem_pass AS (
            SELECT {id_col}, domain, n_tokens, copy_id, rank FROM rem_cum
            WHERE cum_prev < rem
        )
        SELECT {id_col}, domain, n_tokens, rank, CAST(copy_id AS INT) AS copy_id
        FROM full_passes
        UNION ALL
        SELECT {id_col}, domain, n_tokens, rank, CAST(copy_id AS INT) AS copy_id
        FROM rem_pass
    """


def pack_sequences(
    selected: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Slice the rank-ordered token stream of `selected` (needs n_tokens +
    rank columns, e.g. from :func:`mixture_select`) into sequences of
    `seq_len` tokens. Returns span rows (doc_id, seq_id, seq_offset,
    doc_offset, span_len); a doc straddling boundaries emits one row per
    touched sequence. Exact integer arithmetic throughout."""
    bucket = F.substring("rank", 1, N_BUCKETS_HEX)
    d = selected.withColumn("bucket", bucket)

    # phase 1: within-bucket exclusive running totals (partition-parallel)
    w_local = (
        Window.partitionBy("bucket")
        .orderBy("rank", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    d = d.withColumn(
        "local_off", F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0))
    )
    # branch point: d feeds BOTH the bucket-totals aggregate and the final
    # join — pin it so the upstream mixture window runs once, not per
    # consumer (lazy localCheckpoint, the repo's branch discipline)
    pre_ckpt = d
    d = d.localCheckpoint(eager=False)

    # phase 2: 256-row bucket totals → exclusive bases, folded inside ONE
    # row via a sorted-array running sum (`aggregate` HOF) instead of an
    # unpartitioned Window. Same arithmetic — sort_array on the
    # (bucket, btot) struct orders by the hex bucket string exactly like
    # ORDER BY bucket — but no WindowExec-without-partition plan node, so
    # the "No Partition Defined" warning stays a reliable log grep for REAL
    # global-window regressions. At most 256 rows ever reach the fold.
    totals = d.groupBy("bucket").agg(F.sum("n_tokens").alias("btot"))
    pair_t = "array<struct<bucket:string,base:bigint>>"
    init = F.struct(
        F.lit(0).cast("bigint").alias("pos"),
        F.expr(f"CAST(array() AS {pair_t})").alias("out"),
    )

    def _fold(acc, t):
        return F.struct(
            (acc["pos"] + t["btot"]).alias("pos"),
            F.concat(
                acc["out"],
                F.array(
                    F.struct(
                        t["bucket"].alias("bucket"), acc["pos"].alias("base")
                    )
                ),
            ).alias("out"),
        )

    bases = (
        totals.agg(
            F.sort_array(F.collect_list(F.struct("bucket", "btot"))).alias("ts")
        )
        .select(
            F.explode(
                F.aggregate("ts", init, _fold, lambda acc: acc["out"])
            ).alias("p")
        )
        .select("p.bucket", "p.base")
    )
    d = d.join(F.broadcast(bases), "bucket").withColumn(
        "start", F.col("base") + F.col("local_off")
    )

    # spans: one row per sequence the doc's [start, start+n) range touches
    # `div` is exact BIGINT floor-division (Spark `/` on bigint is double
    # division — loses exactness past 2^53 token offsets; see verify notes)
    L = F.lit(seq_len).cast("bigint")
    d = d.withColumn(
        "seq_id",
        F.explode(
            F.sequence(
                F.expr(f"start div {seq_len}"),
                F.expr(f"(start + n_tokens - 1) div {seq_len}"),
            )
        ),
    )
    seg_start = F.greatest(F.col("start"), F.col("seq_id") * L)
    seg_end = F.least(
        F.col("start") + F.col("n_tokens"), (F.col("seq_id") + 1) * L
    )
    out = d.select(
        id_col,
        "domain",
        "seq_id",
        (seg_start - F.col("seq_id") * L).alias("seq_offset"),
        (seg_start - F.col("start")).alias("doc_offset"),
        (seg_end - seg_start).alias("span_len"),
    )
    # Debug/test handle: the localCheckpoint truncates lineage, so the
    # phase-1 windows are invisible in `out`'s executed plan; plan audits
    # (tests/test_packing.py) inspect the pre-checkpoint frame through this.
    out._vs_precheckpoint = pre_ckpt
    return out


def pack_boundaries(
    packed: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-sequence document-boundary export — the last-mile structure a
    trainer consumes from packed sequences (block-diagonal attention masks
    and position-id resets at document boundaries; the conversation packer
    pack_sft_spans already re-bases spans this way, this is the
    pre-training twin). Input is :func:`pack_sequences` output; returns one
    row per sequence:

      (seq_id, bounds: array<struct<start,len,doc_id>>, n_docs, filled)

    ``bounds`` is ordered by in-sequence start offset; token positions
    [start, start+len) belong to ``doc_id`` — attention masks block on
    these ranges and position ids reset at each ``start``. ``filled`` <
    seq_len only on the final (ragged) sequence.

    Scale: ONE combinable collect_list exchange keyed by seq_id (the
    aggregation state per key is the ≤ seq_len/1 boundary structs, never
    token payload) + an in-row sort_array — the same single-move shape as
    the trajectory assembler (operators/conversations.py).
    """
    return packed.groupBy("seq_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("seq_offset").cast("bigint").alias("start"),
                    F.col("span_len").cast("bigint").alias("len"),
                    F.col(id_col).alias("doc_id"),
                )
            )
        ).alias("bounds"),
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("span_len").cast("bigint").alias("filled"),
    )


def pack_boundaries_oracle_sql(
    packed_sql: str, id_col: str = "doc_id"
) -> str:
    """DuckDB twin of :func:`pack_boundaries`, rendered canonically: the
    bounds array as 'start:len:doc' CSV ordered by start (starts are unique
    within a sequence — spans partition it), so the driver's hash gate pins
    the per-sequence boundary structure byte-for-byte."""
    return f"""
        SELECT seq_id,
               string_agg(seq_offset || ':' || span_len || ':' || {id_col},
                          ',' ORDER BY seq_offset) AS bounds_csv,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(span_len) AS BIGINT) AS filled
        FROM ({packed_sql})
        GROUP BY seq_id
    """


def pack_sequences_oracle_sql(selected_sql: str, seq_len: int, id_col: str = "doc_id") -> str:
    """DuckDB twin: plain global window prefix sum (single-node), identical
    span arithmetic."""
    return f"""
        WITH sel AS ({selected_sql}),
        offs AS (
            -- CAST: DuckDB SUM(BIGINT) yields HUGEINT, which generate_series
            -- rejects (and which would change compare dtypes — verify notes)
            SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
                       ORDER BY rank, {id_col}
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS start
            FROM sel
        ),
        spans AS (
            SELECT o.{id_col}, o.domain, s.seq_id, o.start, o.n_tokens
            FROM offs o,
                 unnest(generate_series(o.start // {seq_len},
                          (o.start + o.n_tokens - 1) // {seq_len}))
                   AS s(seq_id)
        )
        SELECT {id_col}, domain, seq_id,
               GREATEST(start, seq_id * {seq_len}) - seq_id * {seq_len} AS seq_offset,
               GREATEST(start, seq_id * {seq_len}) - start AS doc_offset,
               LEAST(start + n_tokens, (seq_id + 1) * {seq_len})
                 - GREATEST(start, seq_id * {seq_len}) AS span_len
        FROM spans
    """


def int64_rank_expr(col: str) -> "F.Column":
    """Fixed-width 16-hex-char rendering of a signed BIGINT column whose
    STRING sort order equals the numeric order — the ``rank`` contract
    :func:`pack_sequences` consumes. hi/lo 32-bit halves, each biased
    non-negative before ``%08x`` (clear-low-bits + exact div, so no
    engine-specific negative shift/div semantics; int64 edges pinned by
    tests/test_packing.py). DuckDB twin: :func:`int64_rank_sql`."""
    lo = F.expr(f"{col} & 4294967295")
    hi = F.expr(
        f"({col} - ({col} & 4294967295)) div 4294967296 + 2147483648"
    )
    return F.concat(F.format_string("%08x", hi), F.format_string("%08x", lo))


def int64_rank_sql(col_sql: str) -> str:
    """DuckDB twin of :func:`int64_rank_expr`."""
    return (
        f"printf('%08x', (({col_sql} - ({col_sql} & 4294967295))"
        f" // 4294967296) + 2147483648)"
        f" || printf('%08x', {col_sql} & 4294967295)"
    )


def simhash_rank(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Append the semantic-locality ``rank`` column (and ``simhash``):
    the :func:`int64_rank_expr` rendering of the 64-bit text SimHash that
    :func:`context_order` and ``build_sequences(order="context")`` sort
    by. A pre-existing ``simhash`` column (dedup outputs carry one) is
    replaced, not duplicated."""
    from volga_spark.operators.dedup import signatures

    if "simhash" in df.columns:
        df = df.drop("simhash")
    d = signatures(df, text_col, ("simhash",))
    return d.withColumn("rank", int64_rank_expr("simhash"))


def context_order(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    domain_col: str = "source",
) -> DataFrame:
    """Semantic-locality corpus ordering for in-context pretraining (Shi
    et al. 2023, ICLM: packing RELATED documents into the same training
    sequence instead of random neighbors improves long-context use). The
    ordering key is the 64-bit SimHash of the text (`operators/dedup` —
    locality-sensitive: small Hamming distance ⇒ lexically similar), so
    sorting the corpus by it chains similar documents adjacently — the
    scalable stand-in for ICLM's nearest-neighbor traveling-salesman pass
    (an exact kNN chain is a sequential graph walk; a 1D LSH-key sort is
    one distributed sort with most of the locality benefit).

    The key is rendered as the 16-hex-char ``rank`` string
    :func:`pack_sequences` already consumes: hi/lo 32-bit halves of the
    simhash, each biased non-negative and printf'd ``%08x`` — fixed-width
    hex, so string order == signed-bigint simhash order, and the
    hi-half arithmetic (clear low bits, exact div) avoids engine-specific
    negative shift/div semantics. Bucket prefix = top 8 simhash bits,
    roughly balanced for diverse corpora (simhash bits are near-uniform).

    Output: ``(id, domain, n_tokens, rank, simhash)`` — drop-in input for
    :func:`pack_sequences`; empty-text docs drop (no tokens to pack).

    Scale: one Arrow mapInPandas signature pass over (id, text) + one
    co-keyed join back (narrow columns) + the packer's distributed sort.
    Nothing quadratic; no kNN graph.
    """
    d = _with_tokens(
        docs.select(id_col, text_col, F.col(domain_col).alias("domain")),
        text_col,
    )
    d = simhash_rank(d, text_col=text_col, id_col=id_col)
    return d.select(id_col, "domain", "n_tokens", "rank", "simhash")


def context_order_oracle_sql(
    docs_sql: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    domain_col: str = "source",
) -> str:
    """DuckDB twin of :func:`context_order`: recomputes the SimHash64
    signature from scratch (md5 bit-vector votes — the same independent
    formulation as the q_approx_sketches twin) and renders the identical
    hi/lo ``%08x`` rank. Single-space-separated corpus assumed (the
    documents tables are, by construction — the python side splits on any
    whitespace; the datagen twin documents the same bound)."""
    return f"""
        WITH cdocs AS ({docs_sql}),
        ctoks AS (
            SELECT DISTINCT {id_col},
                   unnest(string_split({text_col}, ' ')) AS tok
            FROM cdocs
        ),
        cbits AS (
            SELECT {id_col}, i,
                   sum(CASE WHEN (CAST(('0x' || substr(md5(tok), 2*(i//8)+1, 2))
                                       AS BIGINT) // (1 << (i % 8))) % 2 = 1
                            THEN 1 ELSE -1 END) AS acc
            FROM ctoks, generate_series(0, 63) AS g(i)
            GROUP BY {id_col}, i
        ),
        csh AS (
            SELECT {id_col},
                   CAST(coalesce(sum(CASE WHEN acc > 0 AND i < 63
                                          THEN CAST(1 AS BIGINT) << i END), 0)
                        + CASE WHEN max(CASE WHEN i = 63 AND acc > 0
                                            THEN 1 ELSE 0 END) = 1
                               THEN 0 ELSE -9223372036854775808 END
                        AS BIGINT) AS sim
            FROM cbits GROUP BY {id_col}
        )
        SELECT d.{id_col}, d.{domain_col} AS domain,
               {n_tokens_sql(f'd.{text_col}')} AS n_tokens,
               {int64_rank_sql('s.sim')} AS rank,
               s.sim AS simhash
        FROM cdocs d JOIN csh s USING ({id_col})
        WHERE {n_tokens_sql(f'd.{text_col}')} > 0
    """


def curriculum_rank(
    df: DataFrame, order_col: str, *, ascending: bool = True
) -> DataFrame:
    """Append the curriculum ``rank`` column: a ``%02x`` SCORE-POSITION
    bucket prefix + the :func:`int64_rank_expr` rendering of the (possibly
    negated) integer score. THE shared rank producer behind
    :func:`curriculum_order` and ``build_sequences(order="curriculum")``.

    Why the bucket prefix: :func:`pack_sequences` parallelizes its phase-1
    prefix sum on ``substring(rank, 1, 2)``, which assumes rank prefixes
    VARY (true for md5 and simhash ranks). A raw int64 rendering of
    recipe-scaled scores puts every row in the same hi-half prefix
    (``'80'`` ascending / ``'7f'`` descending) — one bucket, the whole
    corpus through a single phase-1 window task. The prefix
    ``bucket = (key − min) · 256 div (max − min + 1)`` (exact DECIMAL(38)
    arithmetic, one 1-row min/max stats broadcast — the repo's
    stats-broadcast pattern) is monotone in the key, so order is
    preserved, and spreads ~uniform scores across ~256 buckets. Heavily
    TIED score distributions still concentrate (90% one score ⇒ that run
    is one bucket) — inherent to order-by-score, documented not hidden.

    ``order_col`` must be an integer column; ties break on the id inside
    the packer. int64 min is not a valid descending score (negation)."""
    dtype = dict(df.dtypes).get(order_col)
    if dtype not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"curriculum rank requires an integer order column; "
            f"{order_col!r} is {dtype!r} — quantize float scores upstream "
            "(e.g. floor(score * 1e6))"
        )
    key = F.col(order_col).cast("bigint")
    if not ascending:
        key = -key
    d = df.withColumn("__key", key)
    stats = d.agg(
        F.min("__key").alias("__mn"), F.max("__key").alias("__mx")
    )
    d = d.crossJoin(F.broadcast(stats))
    bucket = F.expr(
        "CAST((CAST(__key AS DECIMAL(38,0)) - CAST(__mn AS DECIMAL(38,0)))"
        " * 256 div (CAST(__mx AS DECIMAL(38,0))"
        " - CAST(__mn AS DECIMAL(38,0)) + 1) AS BIGINT)"
    )
    return (
        d.withColumn(
            "rank",
            F.concat(F.format_string("%02x", bucket), int64_rank_expr("__key")),
        )
        .drop("__key", "__mn", "__mx")
    )


def curriculum_order(
    docs: DataFrame,
    order_col: str,
    *,
    ascending: bool = True,
    text_col: str = "text",
    id_col: str = "doc_id",
    domain_col: str = "source",
) -> DataFrame:
    """Curriculum corpus ordering (Bengio et al. 2009 applied to LM data
    prep): pack the corpus sorted by an INTEGER difficulty/quality score —
    quality-ascending warmup schedules, perplexity-descending hard-example
    tails, length curricula — instead of the md5 shuffle. ``order_col``
    must be an integer column (quantize float scores upstream, e.g.
    floor(score·1e6) — the same exactness rule as ``group_advantages``);
    score ties break on the id INSIDE the packer (pack_sequences orders by
    (rank, id)), so the order is total and partition-independent.
    ``ascending=False`` packs highest score first by negating the key
    (int64 min is not a valid score — recipe-scaled values only).

    Output ``(id, domain, n_tokens, rank)`` — drop-in
    :func:`pack_sequences` input, same contract as :func:`context_order`.
    The rank carries a score-position bucket prefix so the packer's
    256-way phase-1 decomposition survives skewed score domains (see
    :func:`curriculum_rank`); cost = one projection + a 1-row min/max
    stats broadcast.
    """
    d = _with_tokens(
        docs.select(
            id_col, text_col, F.col(domain_col).alias("domain"),
            F.col(order_col),
        ),
        text_col,
    )
    d = curriculum_rank(d, order_col, ascending=ascending)
    return d.select(id_col, "domain", "n_tokens", "rank")


def curriculum_order_oracle_sql(
    docs_sql: str,
    order_col: str,
    *,
    ascending: bool = True,
    text_col: str = "text",
    id_col: str = "doc_id",
    domain_col: str = "source",
) -> str:
    """DuckDB twin of :func:`curriculum_order` (bucket prefix included —
    HUGEINT arithmetic mirrors Spark's DECIMAL(38) exactly)."""
    key = f"CAST({order_col} AS BIGINT)"
    if not ascending:
        key = f"(-{key})"
    return f"""
        WITH ckeyed AS (
            SELECT {id_col}, {domain_col} AS domain,
                   {n_tokens_sql(text_col)} AS n_tokens,
                   {key} AS __k
            FROM ({docs_sql})
            WHERE {n_tokens_sql(text_col)} > 0
        ),
        cst AS (SELECT min(__k) AS __mn, max(__k) AS __mx FROM ckeyed)
        SELECT {id_col}, domain, n_tokens,
               printf('%02x', CAST((CAST(__k AS HUGEINT) - __mn) * 256
                              // (CAST(__mx AS HUGEINT) - __mn + 1)
                              AS BIGINT))
               || {int64_rank_sql('__k')} AS rank
        FROM ckeyed, cst
    """


def phase_schedule(
    docs: DataFrame,
    phases: list[dict],
    *,
    domain_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "volga-phase",
    seq_len: int | None = None,
) -> DataFrame:
    """Multi-PHASE training data schedule — the recipe shape real
    pre-training runs use (a broad base mixture, then a quality-anneal /
    long-context / domain-shift phase near the end): each phase is its own
    mixture over the same corpus, with its own weights and token budget.

    ``phases`` is an ordered list of ``{"name", "weights", "token_budget"}``
    dicts. Each phase selects INDEPENDENTLY with a phase-scoped seed
    (``seed#<idx>:<name>``), so a document may legitimately appear in
    several phases (annealing re-uses the best data) and editing one
    phase's recipe cannot perturb another's selection — the same seed
    isolation rule as epoch reshuffling. With ``seq_len`` set, each phase
    is PACKED separately and the output carries (phase_idx, phase,
    seq_id, …) spans: phases are distinct datasets — trainers reset the
    batch stream at a phase boundary, and a single global pack would let
    one training sequence straddle two phases' recipes.

    Scale shape: ONE corpus scan total — all phase-scoped rank columns
    ride the same pass and the narrow (id, domain, n_tokens, ranks) frame
    is pinned; each phase then costs one budget window over that frame
    (nothing global across phases, the union is plan-level only).
    Deterministic: a pure function of (seed, phases, corpus).
    """
    if not phases:
        raise ValueError("phase_schedule requires at least one phase")
    names = [p.get("name") for p in phases]
    if len(set(names)) != len(names) or any(not n for n in names):
        raise ValueError(f"phase names must be unique and non-empty: {names}")
    for p in phases:
        # a zero-row phase must FAIL at build time, not "succeed" with a
        # silently missing slice of the schedule (same rule as the
        # mixture_select curation stage)
        if not p.get("weights"):
            raise ValueError(
                f"phase {p['name']!r} requires a non-empty 'weights' map"
            )
        try:
            budget = int(p.get("token_budget", 0))
        except (TypeError, ValueError):
            budget = 0  # None / non-numeric → same descriptive error below
        if budget <= 0:
            raise ValueError(
                f"phase {p['name']!r} requires a positive 'token_budget'; "
                f"got {p.get('token_budget')!r}"
            )
    if seq_len is not None and int(seq_len) < 1:
        raise ValueError(f"seq_len must be >= 1 when given (got {seq_len!r})")
    # SINGLE-SCAN selection (r08 verdict #6): all P phase-scoped rank
    # columns are computed in one pass over the corpus, then the narrow
    # (id, domain, n_tokens, rank_0..P-1) frame — text never enters it —
    # is pinned so each phase's budget window is a plan branch of ONE
    # materialization, not its own corpus scan (P=3 phases over 100 TB
    # used to mean 2 avoidable full-text scans). Per-phase seeds keep the
    # edit-isolation property: the rank COLUMNS are independent even
    # though they share a scan.
    base = _with_tokens(docs, text_col)
    for i, ph in enumerate(phases):
        base = base.withColumn(
            f"__r{i}", _rank(id_col, f"{seed}#{i}:{ph['name']}")
        )
    base = base.select(
        id_col, domain_col, "n_tokens",
        *[f"__r{i}" for i in range(len(phases))],
    ).localCheckpoint(eager=False)

    outs = []
    for i, ph in enumerate(phases):
        sel = budget_select(
            base.withColumn("rank", F.col(f"__r{i}")),
            ph["weights"],
            ph["token_budget"],
            domain_col=domain_col,
            id_col=id_col,
        )
        frame = (
            pack_sequences(sel, int(seq_len), id_col=id_col)
            if seq_len is not None
            else sel
        )
        outs.append(
            frame.select(
                F.lit(i).cast("int").alias("phase_idx"),
                F.lit(ph["name"]).alias("phase"),
                "*",
            )
        )
    out = outs[0]
    for f in outs[1:]:
        out = out.unionByName(f)
    return out


def phase_schedule_oracle_sql(
    docs_sql: str,
    phases: list[dict],
    *,
    domain_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "volga-phase",
    seq_len: int | None = None,
) -> str:
    """DuckDB twin of :func:`phase_schedule` — a UNION ALL of per-phase
    mixture (or mixture→pack) oracles, each tagged with its phase."""
    legs = []
    for i, ph in enumerate(phases):
        sel_sql = mixture_select_oracle_sql(
            docs_sql,
            ph["weights"],
            ph["token_budget"],
            domain_col=domain_col,
            id_col=id_col,
            text_col=text_col,
            seed=f"{seed}#{i}:{ph['name']}",
        )
        inner = (
            pack_sequences_oracle_sql(sel_sql, int(seq_len), id_col=id_col)
            if seq_len is not None
            else sel_sql
        )
        # SQL-escape the name literal: a quote in a (validly unique,
        # non-empty) phase name must not break or inject into the twin
        esc = str(ph["name"]).replace("'", "''")
        legs.append(
            f"SELECT CAST({i} AS INT) AS phase_idx, '{esc}' AS phase,"
            f" * FROM ({inner})"
        )
    return " UNION ALL ".join(legs)
