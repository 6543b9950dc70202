"""Physical-plan audits: the plans must be the ones we'd want at 100 TB —
filters/projections pushed to the parquet scan, dims broadcast, partial
aggregation before the shuffle, one shuffle per window partitioning."""

from __future__ import annotations

import pytest

from volga_spark.workloads import load_all

REG = load_all()


def plan(spark, sf_dir, name) -> str:
    import contextlib
    import io

    df = REG[name].fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_and_projection_pushdown(spark, sf_dir):
    p = plan(spark, sf_dir, "q_filter_scan")
    assert "PushedFilters" in p
    assert "l_quantity" in p.split("PushedFilters")[1][:200]
    # projection pruned to the selected + filter columns only
    read = p.split("ReadSchema")[1][:400]
    assert "l_extendedprice" in read and "l_tax" not in read


def test_broadcast_joins_for_dims(spark, sf_dir):
    p = plan(spark, sf_dir, "q_join_multi_broadcast")
    assert p.count("BroadcastHashJoin") >= 3, p[:2000]
    # the fact table never hash-shuffles for the join itself
    assert "SortMergeJoin" not in p or p.count("SortMergeJoin") <= 1


def test_partial_aggregation(spark, sf_dir):
    p = plan(spark, sf_dir, "q_tpch_q1")
    assert "partial_sum" in p and "partial_count" in p  # map-side combine
    assert p.count("hashpartitioning(") == 1  # single group-by shuffle


def test_single_shuffle_for_multi_agg_window(spark, sf_dir):
    p = plan(spark, sf_dir, "q_window_core")
    # one exchange on user_id feeds all three window aggregates
    assert p.count("hashpartitioning(") == 1, p[:3000]


def test_multi_frame_window_shares_partitioning(spark, sf_dir):
    p = plan(spark, sf_dir, "q_window_advanced")
    # frames share the user_id partitioning: ≤2 exchanges for 3 frames
    # (range frames order by unix_micros, the rows frame by (ts, event_id))
    assert p.count("hashpartitioning(") <= 2, p[:3000]


def test_sweep_is_single_pandas_stage(spark, sf_dir):
    p = plan(spark, sf_dir, "q_ml_cate_full")
    assert p.count("MapInPandas (") == 1  # tree occurrence only
    assert p.count("hashpartitioning(") == 1
    # condition/scaling evaluated JVM-side before the Python stage
    assert "round((value" in p


def test_where_family_stays_native(spark, sf_dir):
    p = plan(spark, sf_dir, "q_ml_where_family")
    for marker in ("Python", "Pandas", "BatchEvalPython"):
        assert marker not in p, f"_where family must not leave the JVM: {marker}"


def test_exact_dedup_shuffles_digests_not_text(spark, sf_dir):
    p = plan(spark, sf_dir, "q_dedup_exact")
    assert p.count("HashAggregate") >= 2  # partial agg before shuffle


def test_substring_spans_stays_native(spark, sf_dir):
    """Exact substring dedup: no Python stage anywhere (gram slices hash
    in-transform), partial aggregation before the gram-frequency shuffle."""
    p = plan(spark, sf_dir, "q_dedup_substring_spans")
    for marker in ("Python", "Pandas", "BatchEvalPython"):
        assert marker not in p, marker
    assert p.count("HashAggregate") >= 2


def test_no_dataframe_rdd_probe():
    """DataFrame.rdd finalizes the physical plan under AQE and can silently
    re-execute upstream stages — banned engine-wide (plan-side decisions
    only)."""
    import io
    import pathlib
    import tokenize

    root = pathlib.Path(__file__).resolve().parents[1] / "volga_spark"
    offenders = []
    for path in root.rglob("*.py"):
        toks = list(
            tokenize.generate_tokens(io.StringIO(path.read_text()).readline)
        )
        for i, tok in enumerate(toks):
            # `.rdd` in code = an OP '.' immediately followed by NAME 'rdd';
            # strings/docstrings/comments never tokenize that way. The ban
            # targets the Python DataFrame.rdd PROPERTY — a `.rdd(` METHOD
            # call is JVM-plan introspection (LogicalRDD.rdd() in
            # caching.checkpoint_rdd_id, the r12-advisor checkpoint-id capture)
            # and never touches the Python property.
            if (
                i > 0
                and toks[i - 1].type == tokenize.OP
                and toks[i - 1].string == "."
                and tok.type == tokenize.NAME
                and tok.string == "rdd"
                and not (
                    i + 1 < len(toks)
                    and toks[i + 1].type == tokenize.OP
                    and toks[i + 1].string == "("
                )
            ):
                offenders.append(f"{path}:{tok.start[0]}: {tok.line.strip()}")
    assert not offenders, offenders


def test_python_stage_gets_shuffle_width(spark, sf_dir):
    """widen_for_python must produce an explicit round-robin exchange at the
    session shuffle width feeding the Python stage (AQE must not coalesce)."""
    from volga_spark.partitioning import widen_for_python
    from volga_spark.tables import load_table

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    df = widen_for_python(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    p = df._jdf.queryExecution().executedPlan().toString()
    assert f"RoundRobinPartitioning({n})" in p, p[:1500]


def test_salted_count_distinct_exact_and_two_level(spark, sf_dir):
    """salted_count_distinct must equal the plain countDistinct and show two
    aggregation levels with the salt in the first grouping (the hot-key
    distinct state split across n_salts tasks)."""
    from pyspark.sql import functions as F

    from volga_spark.partitioning import salted_count_distinct
    from volga_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    salted = salted_count_distinct(
        li, ["l_returnflag"], "l_partkey", out="parts", n_salts=16
    )
    plain = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("parts")
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))

    p = salted._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in p
    # two reduce levels: (key, salt) then (key)
    assert p.count("HashAggregate") >= 4, p[:2000]


def test_pipeline_sql_plan_pinned(spark, sf_dir):
    """r07 verdict watch #1: q_pipeline_sql crept 1.32 -> 1.93s with no code
    change. Profiled r08: warm steady state 1.75s under ambient load 5-6
    (vs r06's 1.32 on a quiet host) with the DESIGNED plan shape — host
    noise, not drift. This pins the shape so a real drift (an extra
    exchange from PipelineSpec assembly, a third scan from a new branch)
    fails loudly instead of surfacing as slow bench numbers."""
    p = plan(spark, sf_dir, "q_pipeline_sql")
    # two branches (native windows + cate sweep), each one user_id exchange
    assert p.count("hashpartitioning(user_id") <= 2, p[:3000]
    assert p.count("hashpartitioning(") <= 2
    # one scan per branch, no more (a frame feeding N consumers re-executes
    # upstream per consumer — the query is designed at 2)
    assert p.count("Scan parquet") + p.count("FileScan") <= 2
    # exactly one Arrow sweep stage for the cate UDAF
    assert p.count("MapInPandas") + p.count("FlatMapGroupsInPandas") <= 2


def test_text_analysis_plan_pinned(spark, sf_dir):
    """q_text_analysis must stay ONE scan → ONE widen exchange → ONE
    native Project (r08 verdict watch #1: the query crept round-over-round
    with untouched code; the r09 profile decomposed it to widen ≈0.3s +
    32-thread regex CPU and pinned the shape — any extra exchange, scan,
    or Python stage is a real regression, everything else is host noise)."""
    p = plan(spark, sf_dir, "q_text_analysis")
    # formatted explain lists each node twice (tree + detail): one scan = 2
    assert p.count("Scan parquet") == 2, p[:1500]
    assert p.count("Exchange") == 2  # one widen_for_python round-robin
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in p
    # the scan reads only the columns the query needs
    read = p.split("ReadSchema")[1][:200]
    assert "text" in read and "n_chars" not in read


def test_serving_cover_barrier_is_load_bearing(spark, sf_dir):
    """r10 verdict #7 (pin audit): the CARRY-CHAIN ladder path (the
    fallback for ladders whose phase space is too large for the r12
    precomputed template) persists the cover frame as a MATERIALIZATION
    BARRIER between the carry-chain projection and the explode — measured
    2.7s -> 0.15s per 1k-request batch; a repartition does NOT
    substitute. This pins the plan shape, not the timing: the segment
    explode must read an InMemoryTableScan directly (no exchange/scan
    between), so a Spark upgrade that stops honoring the persist — or a
    refactor that drops it — fails here loudly. Exercised through
    tiled_lookup directly (cover_template=None) since the service now
    prefers the template whenever the ladder is eligible."""
    from pyspark.sql import functions as F

    from volga_spark.operators.tiles import build_tile_ladder, tiled_lookup
    from volga_spark.operators.window import range_frame
    from volga_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    gs = ["1 minute", "1 hour"]
    req = ev.limit(20).select(
        F.monotonically_increasing_id().alias("request_id"), "user_id", "ts"
    ).localCheckpoint()
    sink: list = []
    out = tiled_lookup(
        ev,
        req,
        key_cols="user_id",
        ts_col="ts",
        value_col="value",
        frame=range_frame("25 HOURS"),
        granularity="1 minute",
        tiles=build_tile_ladder(ev, ["user_id"], "ts", "value", gs),
        granularities=gs,
        _barrier_sink=sink,
    )
    out.count()  # materialize so the executed plan is final (AQE)
    p = out._jdf.queryExecution().executedPlan().toString()
    # anchor on the cover explode (NOT the first InMemoryTableScan — the
    # serving state is cached too); its feed must be the cached barrier
    gen_at = p.index("Generate explode(__segs")
    scan_at = p.index("InMemoryTableScan", gen_at)
    between = p[gen_at:scan_at]
    for node in ("Exchange", "Scan parquet", "MapInPandas", "HashAggregate"):
        assert node not in between, (
            f"{node} crept between the cover explode and its barrier:\n"
            + between
        )
    for df in sink:
        df.unpersist()


def test_serving_template_path_has_no_carry_chain(spark, sf_dir):
    """r12: an eligible ladder service answers the interior probe with a
    broadcast join against the precomputed cover template — the executed
    plan must contain NO segment explode (the carry chain), no per-batch
    barrier pin for it, and no Python stage anywhere."""
    from pyspark.sql import functions as F

    from volga_spark.operators.tiles import (
        TiledFeatureService,
        build_tile_ladder,
    )
    from volga_spark.operators.window import range_frame
    from volga_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    gs = ["1 minute", "1 hour"]
    svc = TiledFeatureService(
        ev,
        build_tile_ladder(ev, ["user_id"], "ts", "value", gs),
        key_cols="user_id",
        ts_col="ts",
        value_col="value",
        frame=range_frame("25 HOURS"),
        granularities=gs,
    )
    req = ev.limit(20).select(
        F.monotonically_increasing_id().alias("request_id"), "user_id", "ts"
    ).localCheckpoint()
    out = svc.lookup(req)
    out.count()
    assert svc._cover_template is not None
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode(__segs" not in p, p[:2000]
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in p
    # the template feeds a broadcast join (never a shuffle)
    assert "BroadcastHashJoin" in p
    svc.close()


def test_training_export_checkpoint_pin_is_load_bearing(spark, sf_dir):
    """r10 verdict #7 (pin audit): build_sequences pins its branch point
    with localCheckpoint(eager=False) — `base` feeds BOTH the packing
    pipeline and the bpe_ids span join, and without the pin the BPE
    encode mapInPandas executes once per consumer (r05: 3 full passes
    measured). localCheckpoint TRUNCATES the plan, so the pin being alive
    shows as: zero python-eval nodes in the final optimized plan (the
    encode is behind the checkpoint) and >=2 reads of the checkpointed
    RDD (the two consumers). A Spark upgrade that stops truncating — or
    a refactor that drops the pin — re-surfaces the encode here."""
    from volga_spark.api.training_export import build_sequences
    from volga_spark.operators.bpe import train_bpe
    from volga_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    model = train_bpe(docs.limit(50), num_merges=30)
    out = build_sequences(docs, model, seq_len=128)
    p = out._jdf.queryExecution().optimizedPlan().toString()
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in p, (
            f"{node} above the checkpoint pin — the BPE encode would "
            "re-execute per consumer"
        )
    rdd_reads = p.count("LogicalRDD") + p.count("ExistingRDD")
    assert rdd_reads >= 2, f"expected both consumers to read the pin:\n{p}"
