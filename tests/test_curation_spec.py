"""CurationSpec: JSON round-trip, stage-for-stage equality with the directly
composed operators, gate semantics, and validation errors."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from volga_spark.api.curation import CurationSpec
from volga_spark.tables import load_table


def test_json_round_trip_and_validation():
    spec = CurationSpec.from_json(
        json.dumps(
            {
                "stages": [
                    {"op": "gopher_gate"},
                    {"op": "split", "fractions": {"train": 0.9, "val": 0.1}},
                ],
                "text_col": "body",
            }
        )
    )
    assert spec.text_col == "body" and len(spec.stages) == 2
    assert CurationSpec.from_json(spec.to_json()).stages == spec.stages
    with pytest.raises(ValueError, match="unknown op"):
        CurationSpec(stages=[{"op": "definitely_not_a_stage"}])
    with pytest.raises(ValueError, match="'op' key"):
        CurationSpec(stages=["gopher_gate"])


def test_spec_equals_direct_composition(spark, sf_dir):
    """A 5-stage spec produces exactly the frame the hand-written chain
    does — composition adds nothing and loses nothing."""
    from volga_spark.operators.pii import redact_pii
    from volga_spark.operators.sampling import stratified_sample
    from volga_spark.operators.splits import hash_split
    from volga_spark.operators.text import c4_quality_flags

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    spec = CurationSpec(
        stages=[
            {"op": "min_chars", "n": 10},
            {"op": "pii_redact"},
            {"op": "c4_gate"},
            {"op": "stratified_sample", "strata_col": "source",
             "fractions": {"src0": 1.0, "src1": 0.4}, "default_fraction": 0.8,
             "seed": "t"},
            {"op": "split", "fractions": {"train": 0.9, "val": 0.1}, "seed": "t"},
        ]
    )
    got = spec.build(spark, docs)

    manual = docs.filter(F.length("text") >= 10).withColumn(
        "text", redact_pii("text")
    )
    manual = manual.filter(c4_quality_flags("text")["c4_pass"])
    manual = stratified_sample(
        manual, "source", "doc_id", {"src0": 1.0, "src1": 0.4}, 0.8, "t"
    )
    manual = hash_split(manual, "doc_id", {"train": 0.9, "val": 0.1}, "t")

    g = sorted(map(tuple, got.collect()))
    m = sorted(map(tuple, manual.collect()))
    assert g == m and got.columns == manual.columns


def test_dedup_stages_and_expect_gate(spark):
    df = spark.createDataFrame(
        [
            (1, "unique text alpha\n\ncommon paragraph body", "a"),
            (2, "common paragraph body\n\nunique text beta", "a"),
            (3, "unique text alpha\n\ncommon paragraph body", "b"),  # exact dup of 1
        ],
        "doc_id bigint, text string, source string",
    )
    spec = CurationSpec(
        stages=[
            {"op": "exact_dedup"},
            {"op": "paragraph_dedup", "min_chars": 5},
            {"op": "expect", "checks": [{"type": "unique", "col": "doc_id"},
                                         {"type": "min_rows", "n": 2}]},
        ]
    )
    out = {r["doc_id"]: (r["text"], r["source"]) for r in spec.build(spark, df).collect()}
    assert 3 not in out  # exact dup dropped (smallest id wins)
    assert out[1][0] == "unique text alpha\n\ncommon paragraph body"
    assert out[2][0] == "unique text beta"  # shared paragraph removed
    assert out[2][1] == "a"  # non-text columns survive paragraph_dedup
    # the expect gate raises when violated
    bad = CurationSpec(stages=[{"op": "expect", "checks": [{"type": "min_rows", "n": 99}]}])
    with pytest.raises(ValueError, match="min_rows"):
        bad.build(spark, df)


def test_decontaminate_stage(spark, tmp_path):
    bench_path = str(tmp_path / "bench.parquet")
    words = " ".join(f"w{i}" for i in range(20))
    spark.createDataFrame([(100, words)], "doc_id bigint, text string").write.parquet(
        bench_path
    )
    corpus = spark.createDataFrame(
        [(1, words + " extra tail here"), (2, "totally different content " * 5)],
        "doc_id bigint, text string",
    )
    spec = CurationSpec(
        stages=[{"op": "decontaminate", "benchmark_path": bench_path, "n": 13}]
    )
    kept = [r["doc_id"] for r in spec.build(spark, corpus).collect()]
    assert kept == [2]  # doc 1 contains a 13-gram of the benchmark


def test_expect_report_mode_is_observable(spark):
    """on_fail='report' must not gate silently: the report lands on
    spec.expect_reports (one DataFrame per expect stage, per build)."""
    from volga_spark.api.curation import CurationSpec

    df = spark.createDataFrame(
        [(i, "text %d" % i) for i in range(5)], "doc_id int, text string"
    )
    spec = CurationSpec(
        stages=[
            {"op": "expect", "on_fail": "report",
             "checks": [{"type": "min_rows", "n": 99}]},
        ]
    )
    out = spec.build(spark, df)
    assert out.count() == 5  # report mode never drops rows
    assert len(spec.expect_reports) == 1
    rows = {r["check_name"]: r["passed"] for r in spec.expect_reports[0].collect()}
    assert False in rows.values()  # the min_rows check failed, observably
    # a second build resets the reports (they belong to that build)
    spec.build(spark, df)
    assert len(spec.expect_reports) == 1


def test_mixture_and_packing_stages(spark):
    """The declarative spec drives mixture_select + pack_sequences
    identically to the direct composition."""
    from volga_spark.api.curation import CurationSpec
    from volga_spark.operators.packing import mixture_select, pack_sequences

    rows = [
        (i, "tok " * (2 + i % 7), ["a", "b"][i % 2]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    spec = CurationSpec(
        stages=[
            {"op": "mixture_select",
             "weights": {"a": 0.6, "b": 0.4}, "token_budget": 100},
            {"op": "pack_sequences", "seq_len": 17},
        ]
    )
    via_spec = sorted(map(tuple, spec.build(spark, df).collect()))
    direct = sorted(map(tuple, pack_sequences(
        mixture_select(df, {"a": 0.6, "b": 0.4}, 100), 17
    ).collect()))
    assert via_spec == direct and len(direct) > 0
    # JSON round trip keeps the stage params
    spec2 = CurationSpec.from_json(spec.to_json())
    assert sorted(map(tuple, spec2.build(spark, df).collect())) == via_spec


def test_near_dedup_stage_keeps_cluster_representatives(spark, sf_dir):
    """The near_dedup stage must keep exactly one (min-id) representative
    per near-dup cluster and agree with the exact all-pairs pipeline the
    driver oracles (q_dedup_approx_pairs + CC min-id winners)."""
    from volga_spark.operators.components import connected_components
    from volga_spark.operators.dedup import exact_jaccard_pairs, lsh_candidate_pairs, signatures

    d = load_table(spark, sf_dir, "documents")
    out = CurationSpec(stages=[{"op": "near_dedup", "threshold": 0.7}]).build(
        spark, d
    )
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}

    sigs = signatures(d.select("doc_id", "text"), "text", ("minhash",))
    pairs = (
        exact_jaccard_pairs(
            d,
            lsh_candidate_pairs(sigs, "doc_id"),
            "text",
            "doc_id",
            n=3,
        )
        .filter(F.col("jaccard") >= 0.7)
        .select("id_a", "id_b")
    )
    comp = connected_components(pairs, "id_a", "id_b")
    losers = {
        r["node"] for r in comp.filter("node != component").collect()
    }
    all_ids = {r["doc_id"] for r in d.select("doc_id").collect()}
    assert kept == all_ids - losers
    assert losers and kept  # the corpus really has clusters
    # schema passes through untouched
    assert out.columns == d.columns


def test_objective_stages_equal_direct_composition(spark, sf_dir):
    """r08: the fim/span_corrupt stage ops produce exactly what direct
    operator composition produces (the spec front end adds nothing)."""
    from volga_spark.operators.objectives import fim_transform, span_corruption
    from volga_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    spec = CurationSpec(
        stages=[{"op": "fim", "seed": "s1"}, {"op": "span_corrupt"}]
    )
    via_spec = spec.build(spark, docs).toPandas().sort_values("doc_id")

    fimmed = fim_transform(docs, seed="s1", keep_cols=True).select(
        "doc_id", F.col("fim_text").alias("text")
    )
    direct = span_corruption(fimmed).toPandas().sort_values("doc_id")
    assert via_spec.reset_index(drop=True).equals(direct.reset_index(drop=True))


def test_phase_schedule_stage(spark, sf_dir):
    """r08: the phase_schedule terminal stage == direct operator call, and
    an empty phases list fails at build time."""
    from volga_spark.operators.packing import phase_schedule

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    phases = [
        {"name": "base", "weights": {"src0": 0.6, "src1": 0.4},
         "token_budget": 1200},
        {"name": "anneal", "weights": {"src0": 1.0}, "token_budget": 400},
    ]
    spec = CurationSpec(stages=[{"op": "phase_schedule", "phases": phases}])
    via_spec = spec.build(spark, docs).toPandas().sort_values(
        ["phase_idx", "doc_id"]
    )
    direct = phase_schedule(docs, phases).toPandas().sort_values(
        ["phase_idx", "doc_id"]
    )
    assert via_spec.reset_index(drop=True).equals(direct.reset_index(drop=True))
    assert len(via_spec) > 0

    import pytest

    with pytest.raises(ValueError):
        CurationSpec(stages=[{"op": "phase_schedule"}]).build(spark, docs)


def test_near_dedup_soft_mode(spark, sf_dir):
    """r08: mode='soft' keeps every hard survivor (representatives are
    guaranteed) plus a small probabilistic tail of other cluster members;
    hard mode's output is exactly the soft output's representative rows."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hard = CurationSpec(
        stages=[{"op": "near_dedup", "threshold": 0.7}]
    ).build(spark, docs)
    soft = CurationSpec(
        stages=[{"op": "near_dedup", "threshold": 0.7, "mode": "soft"}]
    ).build(spark, docs)
    hard_ids = {r["doc_id"] for r in hard.select("doc_id").collect()}
    soft_rows = soft.collect()
    soft_ids = {r["doc_id"] for r in soft_rows}
    reps = {r["doc_id"] for r in soft_rows if r["is_representative"]}
    assert hard_ids == reps  # hard survivors == guaranteed representatives
    assert hard_ids <= soft_ids  # soft only ever keeps MORE
    import pytest

    with pytest.raises(ValueError):
        CurationSpec(stages=[{"op": "near_dedup", "mode": "fuzzy"}]).build(
            spark, docs
        )


def test_context_order_stage_equals_direct_composition(spark, sf_dir):
    """The declarative 'context_order' stage drives the ICLM locality
    ordering + packing identically to the direct composition."""
    from volga_spark.api.curation import CurationSpec
    from volga_spark.operators.packing import context_order, pack_sequences
    from volga_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    spec = CurationSpec(
        stages=[
            {"op": "min_chars", "n": 10},
            {"op": "context_order"},
            {"op": "pack_sequences", "seq_len": 256},
        ]
    )
    via_spec = sorted(map(tuple, spec.build(spark, docs).collect()))
    direct = sorted(map(tuple, pack_sequences(
        context_order(docs.filter("length(text) >= 10")), 256
    ).collect()))
    assert via_spec == direct and len(direct) > 0
    spec2 = CurationSpec.from_json(spec.to_json())
    assert sorted(map(tuple, spec2.build(spark, docs).collect())) == via_spec


def test_curriculum_order_stage_equals_direct_composition(spark, sf_dir):
    from volga_spark.api.curation import CurationSpec
    from volga_spark.operators.packing import curriculum_order, pack_sequences
    from volga_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    spec = CurationSpec(
        stages=[
            {"op": "curriculum_order", "order_col": "n_chars",
             "ascending": False},
            {"op": "pack_sequences", "seq_len": 256},
        ]
    )
    via_spec = sorted(map(tuple, spec.build(spark, docs).collect()))
    direct = sorted(map(tuple, pack_sequences(
        curriculum_order(docs, "n_chars", ascending=False), 256
    ).collect()))
    assert via_spec == direct and len(direct) > 0
