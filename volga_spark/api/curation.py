"""Declarative curation-pipeline spec — the training-data tier's client shape.

The reference exposes its engine to clients as a JSON spec (pipeline.rs:
sql + sources + modes; mirrored by ``api/pipeline.PipelineSpec``). The
corpus-curation tier deserves the same front door: a serializable list of
stages that compiles onto the operator library, so a curation job is a
config artifact (reviewable, diffable, replayable) instead of a Python
script. Every stage maps 1:1 onto an operator that is itself
DuckDB-paritied and plan-audited elsewhere — this module adds NO new
semantics, only composition:

    spec = CurationSpec.from_json('''{
      "stages": [
        {"op": "html_extract"},
        {"op": "pii_redact"},
        {"op": "gopher_gate"},
        {"op": "paragraph_dedup", "sep": "\\n\\n", "min_chars": 10},
        {"op": "exact_dedup"},
        {"op": "decontaminate", "benchmark_path": "/data/bench.parquet"},
        {"op": "stratified_sample", "strata_col": "source",
         "fractions": {"web": 0.1}, "default_fraction": 1.0},
        {"op": "split", "fractions": {"train": 0.98, "val": 0.01, "test": 0.01}},
        {"op": "expect", "checks": [{"type": "min_rows", "n": 1000},
                                     {"type": "unique", "col": "doc_id"}]}
      ]}''')
    curated = spec.build(spark, docs)

Stages execute in listed order; gates FILTER (rows drop), rewrites REPLACE
the text column in place, annotators ADD columns. Scale properties are the
operators' own (documented in SCALING.md) — composition adds no shuffles
beyond what each stage declares.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _stage_html_extract(df, spec, **_):
    from volga_spark.operators.text import html_to_text

    return df.withColumn(spec.text_col, html_to_text(spec.text_col))


def _stage_pii_redact(df, spec, categories=None, **_):
    from volga_spark.operators.pii import redact_pii

    cats = tuple(categories) if categories is not None else None
    return df.withColumn(spec.text_col, redact_pii(spec.text_col, cats))


def _stage_normalize_text(
    df, spec, accents=True, punctuation=True, controls=True, whitespace=True, **_
):
    from volga_spark.operators.text import normalize_text

    return df.withColumn(
        spec.text_col,
        normalize_text(spec.text_col, accents, punctuation, controls, whitespace),
    )


def _stage_c4_clean_lines(df, spec, **_):
    from volga_spark.operators.text import c4_clean_lines

    return df.withColumn(spec.text_col, c4_clean_lines(spec.text_col))


def _stage_url_blocklist(df, spec, domains=(), **_):
    from volga_spark.operators.urls import blocklisted_expr

    return df.filter(~blocklisted_expr(spec.text_col, tuple(domains)))


def _stage_gopher_gate(df, spec, english=False, **_):
    from volga_spark.operators.text import gopher_quality_flags

    flags = gopher_quality_flags(spec.text_col)
    # language-agnostic subset by default (the full rule set includes the
    # English required-stop-words rule — gate it on predicted language in
    # multilingual corpora; see workloads/curation.py for the reasoning)
    ok = (
        flags["g_word_count_ok"]
        & flags["g_mean_word_len_ok"]
        & flags["g_symbol_ratio_ok"]
        & flags["g_bullet_lines_ok"]
        & flags["g_ellipsis_lines_ok"]
        & flags["g_alpha_word_ratio_ok"]
    )
    if english:
        ok = flags["gopher_pass"]
    return df.filter(ok)


def _stage_c4_gate(df, spec, **_):
    from volga_spark.operators.text import c4_quality_flags

    return df.filter(c4_quality_flags(spec.text_col)["c4_pass"])


def _stage_lang_filter(df, spec, langs=("en",), **_):
    from volga_spark.operators.text import predicted_lang

    return df.filter(predicted_lang(spec.text_col).isin(list(langs)))


def _stage_min_chars(df, spec, n=1, **_):
    return df.filter(F.length(F.col(spec.text_col)) >= n)


def _stage_exact_dedup(df, spec, **_):
    # keep the smallest id per content digest; winner table is id-only so
    # text never enters the dedup exchange (same shape as workloads/dedup.py)
    digests = df.select(
        F.col(spec.id_col).alias("__did"), F.md5(F.col(spec.text_col)).alias("__fp")
    )
    winners = digests.groupBy("__fp").agg(F.min("__did").alias(spec.id_col))
    return df.join(winners.select(spec.id_col), spec.id_col, "left_semi")


def _stage_paragraph_dedup(df, spec, sep="\n\n", min_chars=1, normalize=True, **_):
    from volga_spark.operators.dedup import paragraph_dedup

    deduped = paragraph_dedup(
        df, id_col=spec.id_col, text_col=spec.text_col,
        sep=sep, normalize=normalize, min_chars=min_chars,
    )
    # reattach non-text columns (paragraph_dedup returns (id, text) only)
    others = [c for c in df.columns if c != spec.text_col]
    return df.select(others).join(deduped, spec.id_col, "inner")


def _stage_near_dedup(
    df, spec, threshold=0.7, k=64, n=3, bands=16, mode="hard",
    seed="volga-softdedup", **_,
):
    """Near-duplicate removal (r07): MinHash+LSH banded candidates →
    native gram-set Jaccard verify → connected components → keep the
    min-id representative per near-dup cluster. Shuffles carry signatures
    and int64 gram hashes only — the text never moves; the verify is
    array_intersect/array_union (no Python past the one signature pass).
    The streaming spec's ingest twin is `dedup.neardup_stream_filter`.

    ``mode="soft"`` (r08) swaps the hard representative-only keep for
    :func:`operators.sampling.cluster_soft_dedup`: the representative is
    still guaranteed, other members keep with probability 1/cluster_size —
    duplication frequency survives in expectation instead of being erased.
    The soft output carries (cluster_size, is_representative)."""
    if mode not in ("hard", "soft"):
        raise ValueError(f"near_dedup mode must be 'hard' or 'soft': {mode!r}")
    from volga_spark.operators.components import connected_components
    from volga_spark.operators.dedup import (
        banded_buckets,
        signatures,
        within_set_verified_pairs,
    )

    sigs = signatures(
        df.select(spec.id_col, spec.text_col), spec.text_col,
        ("minhash", "grams"), k=k, n=n,
    ).localCheckpoint(eager=False)
    banded = banded_buckets(sigs, spec.id_col, bands, k // bands)
    # the ONE within-set candidate+verify semantics, shared with the
    # streaming ingest twin (dedup.neardup_stream_filter)
    pairs = within_set_verified_pairs(banded, sigs, spec.id_col, threshold)
    comp = connected_components(pairs, "__a", "__b")
    if mode == "soft":
        from volga_spark.operators.sampling import cluster_soft_dedup

        clusters = comp.select(
            F.col("node").alias(spec.id_col), "component"
        )
        return cluster_soft_dedup(
            df, clusters, id_col=spec.id_col, seed=seed
        )
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(spec.id_col)
    )
    return df.join(losers, spec.id_col, "left_anti")


def _stage_decontaminate(df, spec, benchmark_path=None, n=13, **_):
    from volga_spark.operators.dedup import decontaminate

    if not benchmark_path:
        raise ValueError("decontaminate stage needs benchmark_path")
    bench = df.sparkSession.read.parquet(benchmark_path)
    out = decontaminate(df, bench, spec.text_col, spec.id_col, n=n)
    return out.filter(~F.col("contaminated")).drop(
        "n_contaminated_grams", "contaminated"
    )


def _stage_bernoulli_sample(df, spec, fraction=1.0, seed="volga", **_):
    from volga_spark.operators.sampling import bernoulli_sample

    return bernoulli_sample(df, spec.id_col, fraction, seed)


def _stage_stratified_sample(
    df, spec, strata_col=None, fractions=None, default_fraction=1.0, seed="volga", **_
):
    from volga_spark.operators.sampling import stratified_sample

    if not strata_col or fractions is None:
        raise ValueError("stratified_sample stage needs strata_col and fractions")
    return stratified_sample(
        df, strata_col, spec.id_col, dict(fractions), default_fraction, seed
    )


def _stage_split(df, spec, fractions=None, seed="volga", **_):
    from volga_spark.operators.splits import hash_split

    return hash_split(df, spec.id_col, fractions, seed)


def _build_check(c: dict):
    from volga_spark.operators import expectations as ex

    t = c.get("type")
    if t == "min_rows":
        return ex.min_rows(c["n"])
    if t == "not_null":
        return ex.not_null(c["col"], c.get("max_null_fraction", 0.0))
    if t == "unique":
        return ex.unique(c["col"])
    if t == "in_range":
        return ex.in_range(c["col"], c["lo"], c["hi"], c.get("max_violation_fraction", 0.0))
    raise ValueError(
        f"unknown expectation type {t!r} (known: min_rows, not_null, unique, in_range)"
    )


def _stage_expect(df, spec, checks=(), on_fail="raise", **_):
    from volga_spark.operators.expectations import validate

    report = validate(df, [_build_check(c) for c in checks], on_fail=on_fail)
    # on_fail="report" costs a scan but must not gate silently: stash the
    # report on the spec (spec.expect_reports, appended per expect stage)
    # so the caller can inspect/persist it after build().
    spec.expect_reports.append(report)
    return df  # a gate, not a transform — rows pass through unchanged


def _stage_mixture_select(
    df, spec, weights=None, token_budget=0, domain_col="source",
    seed="volga-mix", **_,
):
    """Domain-weighted token-budget selection (operators/packing). Output
    schema changes to (id, domain, n_tokens, rank) — place before
    `pack_sequences` (or terminally)."""
    from volga_spark.operators.packing import mixture_select

    # a missing/empty weights map or non-positive budget would "succeed"
    # by selecting zero documents — fail the spec at build time instead
    if not weights:
        raise ValueError(
            "mixture_select stage requires a non-empty 'weights' map "
            "(domain -> weight)"
        )
    if token_budget <= 0:
        raise ValueError(
            "mixture_select stage requires a positive 'token_budget'; got "
            f"{token_budget!r}"
        )
    return mixture_select(
        df, weights, token_budget, domain_col=domain_col,
        id_col=spec.id_col, text_col=spec.text_col, seed=seed,
    )


def _stage_pack_sequences(df, spec, seq_len=2048, **_):
    """Fixed-length sequence packing over a mixture_select output frame.
    Terminal stage: output rows are training-sequence spans."""
    from volga_spark.operators.packing import pack_sequences

    return pack_sequences(df, seq_len, id_col=spec.id_col)


def _stage_phase_schedule(
    df, spec, phases=None, domain_col="source", seed="volga-phase",
    seq_len=None, **_,
):
    """Multi-phase training schedule (operators/packing, r08). Terminal:
    output rows are per-phase selections (or packed spans with seq_len)."""
    from volga_spark.operators.packing import phase_schedule

    if not phases:
        raise ValueError(
            "phase_schedule stage requires a non-empty 'phases' list of "
            "{name, weights, token_budget} dicts"
        )
    return phase_schedule(
        df, phases, domain_col=domain_col, id_col=spec.id_col,
        text_col=spec.text_col, seed=seed, seq_len=seq_len,
    )


def _stage_context_order(df, spec, domain_col="source", **_):
    """Semantic-locality packing order (operators/packing, r09 — ICLM,
    Shi et al. 2023): output schema changes to (id, domain, n_tokens,
    rank, simhash), a drop-in `pack_sequences` input whose rank chains
    lexically similar documents adjacently. An ALTERNATIVE ordering to
    `mixture_select`'s md5 shuffle (both emit the same pack-ready shape):
    run the filter/dedup stages upstream, then pick ONE of the two rank
    producers before `pack_sequences`."""
    from volga_spark.operators.packing import context_order

    return context_order(
        df, text_col=spec.text_col, id_col=spec.id_col,
        domain_col=domain_col,
    )


def _stage_curriculum_order(
    df, spec, order_col=None, ascending=True, domain_col="source", **_,
):
    """Curriculum packing order (operators/packing, r09): rank by an
    integer difficulty/quality column instead of the md5 shuffle. Same
    pack-ready output contract as `context_order` — pick ONE rank
    producer before `pack_sequences`."""
    from volga_spark.operators.packing import curriculum_order

    if not order_col:
        raise ValueError("curriculum_order stage requires 'order_col'")
    return curriculum_order(
        df, order_col, ascending=bool(ascending),
        text_col=spec.text_col, id_col=spec.id_col, domain_col=domain_col,
    )


def _stage_fim(df, spec, seed="volga-fim", min_tokens=4, **_):
    """Fill-in-the-middle rewrite (operators/objectives, r08): the text
    column is REPLACED in place by the PSM-rendered form (short docs pass
    through); NO other column is touched, so frames already carrying e.g.
    an n_tokens annotation keep it. Pure map-side — runs unchanged on a
    streaming frame like every rewrite stage."""
    from volga_spark.operators.objectives import fim_transform

    return fim_transform(
        df, text_col=spec.text_col, id_col=spec.id_col,
        seed=seed, min_tokens=min_tokens, replace_text=True,
    )


def _stage_span_corrupt(
    df, spec, span_len=3, corrupt_one_in=5, seed="volga-t5", **_,
):
    """T5 span-corruption rewrite (operators/objectives, r08). Output
    schema changes to (id, input_text, target_text, n_corrupted,
    n_tokens) — terminal, the trainer-facing pair frame."""
    from volga_spark.operators.objectives import span_corruption

    return span_corruption(
        df, text_col=spec.text_col, id_col=spec.id_col,
        span_len=span_len, corrupt_one_in=corrupt_one_in, seed=seed,
    )


_STAGES = {
    "html_extract": _stage_html_extract,
    "normalize_text": _stage_normalize_text,
    "pii_redact": _stage_pii_redact,
    "c4_clean_lines": _stage_c4_clean_lines,
    "url_blocklist": _stage_url_blocklist,
    "gopher_gate": _stage_gopher_gate,
    "c4_gate": _stage_c4_gate,
    "lang_filter": _stage_lang_filter,
    "min_chars": _stage_min_chars,
    "exact_dedup": _stage_exact_dedup,
    "near_dedup": _stage_near_dedup,
    "paragraph_dedup": _stage_paragraph_dedup,
    "decontaminate": _stage_decontaminate,
    "bernoulli_sample": _stage_bernoulli_sample,
    "stratified_sample": _stage_stratified_sample,
    "split": _stage_split,
    "expect": _stage_expect,
    "mixture_select": _stage_mixture_select,
    "context_order": _stage_context_order,
    "curriculum_order": _stage_curriculum_order,
    "pack_sequences": _stage_pack_sequences,
    "fim": _stage_fim,
    "span_corrupt": _stage_span_corrupt,
    "phase_schedule": _stage_phase_schedule,
}


@dataclass
class CurationSpec:
    """Ordered curation stages over a (id_col, text_col, ...) corpus frame."""

    stages: list = field(default_factory=list)
    id_col: str = "doc_id"
    text_col: str = "text"
    # Reports from `expect` stages with on_fail="report": one DataFrame
    # per stage, in stage order, populated by build(). Runtime state, not
    # part of the serialized spec (to_json/from_json ignore it).
    expect_reports: list = field(default_factory=list, compare=False, repr=False)

    def __post_init__(self) -> None:
        for i, st in enumerate(self.stages):
            if not isinstance(st, dict) or "op" not in st:
                raise ValueError(f"stage {i} must be a dict with an 'op' key: {st!r}")
            if st["op"] not in _STAGES:
                raise ValueError(
                    f"stage {i}: unknown op {st['op']!r} (known: {sorted(_STAGES)})"
                )

    @classmethod
    def from_json(cls, s: str) -> "CurationSpec":
        d = json.loads(s)
        return cls(
            stages=d.get("stages", []),
            id_col=d.get("id_col", "doc_id"),
            text_col=d.get("text_col", "text"),
        )

    def to_json(self) -> str:
        return json.dumps(
            {"stages": self.stages, "id_col": self.id_col, "text_col": self.text_col}
        )

    def build(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        self.expect_reports.clear()  # reports belong to THIS build
        out = df
        for st in self.stages:
            params = {k: v for k, v in st.items() if k != "op"}
            out = _STAGES[st["op"]](out, self, **params)
        return out
