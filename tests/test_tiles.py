"""Tiled lookup must equal the naive point-in-time scan at every
granularity, including boundary-aligned request timestamps."""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from volga_spark.operators.tiles import tiled_lookup
from volga_spark.operators.window import range_frame
from volga_spark.tables import load_table


def _naive(spark, sf_dir, requests):
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("e_uid"), "ts", "value"
    )
    r = requests.select("request_id", "user_id", F.col("ts").alias("rts"))
    j = r.join(
        ev,
        (F.col("user_id") == F.col("e_uid"))
        & (F.col("ts") >= F.col("rts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("ts") <= F.col("rts")),
        "left",
    )
    return (
        j.groupBy("request_id")
        .agg(
            F.count("value").alias("cnt"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / F.lit(100.0)).alias(
                "sum_value"
            ),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )


@pytest.mark.parametrize("granularity", ["1 minute", "5 minutes", "1 hour"])
def test_tiled_equals_naive(spark, sf_dir, granularity):
    ev = load_table(spark, sf_dir, "events")
    requests = ev.filter(F.col("event_id") % 7 == 0).select(
        F.col("event_id").alias("request_id"),
        "user_id",
        # mix of raw and bucket-aligned request timestamps
        F.when(
            F.col("event_id") % 14 == 0, F.date_trunc("minute", F.col("ts"))
        )
        .otherwise(F.col("ts"))
        .alias("ts"),
    )
    tiled = (
        tiled_lookup(
            ev.select("user_id", "ts", "value"),
            requests,
            key_cols="user_id",
            ts_col="ts",
            value_col="value",
            frame=range_frame("1 hour"),
            granularity=granularity,
        )
        .toPandas()
        .set_index("request_id")
        .sort_index()
    )
    naive = _naive(spark, sf_dir, requests).toPandas().set_index("request_id").sort_index()
    for col in ("cnt", "sum_value", "min_value", "max_value"):
        got = tiled[col]
        want = naive[col]
        # naive left-join yields cnt>=1 always (request row excluded there);
        # align on shared semantics
        pd.testing.assert_series_equal(got, want, check_names=False)


def test_stream_built_tiles_equal_batch(spark, sf_dir):
    """Tiles folded incrementally per micro-batch must be bit-identical to a
    one-shot batch build (merge associativity — reference tiles are likewise
    maintained on ingest, state/tiles.rs:59-118)."""
    from volga_spark.operators.tiles import build_tiles
    from volga_spark.streaming.sources import chunked_file_stream
    from volga_spark.streaming.tile_sink import stream_build_tiles

    stream, _ = chunked_file_stream(spark, sf_dir, "events", "ts", n_chunks=5)
    streamed = (
        stream_build_tiles(
            stream.select("user_id", "ts", "value"),
            key_cols="user_id",
            ts_col="ts",
            value_col="value",
            granularity="1 minute",
        )
        .toPandas()
        .set_index(["user_id", "__b"])
        .sort_index()
    )
    ev = load_table(spark, sf_dir, "events")
    batch = (
        build_tiles(
            ev.select("user_id", "ts", "value"),
            key_cols="user_id",
            ts_col="ts",
            value_col="value",
            granularity="1 minute",
        )
        .toPandas()
        .set_index(["user_id", "__b"])
        .sort_index()
    )
    pd.testing.assert_frame_equal(streamed, batch, check_like=True)


def test_auto_service_picks_by_density_and_answers_match(spark, sf_dir):
    """auto_feature_service: sparse corpus → naive; forced low threshold →
    tiled; both answer identical values for the same points."""
    from volga_spark.operators.tiles import auto_feature_service

    ev = load_table(spark, sf_dir, "events")
    frame = range_frame("1 hour")
    # ~2 events/user/day → far below any sane threshold
    naive = auto_feature_service(ev, "user_id", "ts", "value", frame)
    assert naive.chosen == "naive", naive.est_rows_per_key_window
    tiled = auto_feature_service(
        ev, "user_id", "ts", "value", frame, threshold=0.0
    )
    assert tiled.chosen == "tiled"
    assert naive.est_rows_per_key_window == tiled.est_rows_per_key_window > 0

    pts = [
        (1, int(r["user_id"]), r["ts"])
        for r in ev.orderBy("event_id").limit(3).collect()
    ]
    pts = [(i, u, t) for i, (_, u, t) in enumerate(pts)]
    a = {d["request_id"]: d for d in naive.get_features(spark, pts)}
    b = {d["request_id"]: d for d in tiled.get_features(spark, pts)}
    naive.close(); tiled.close()
    assert set(a) == set(b) and a
    for rid in a:
        assert a[rid]["cnt"] == b[rid]["cnt"]
        assert abs((a[rid]["sum_value"] or 0) - (b[rid]["sum_value"] or 0)) < 1e-9
        assert a[rid]["min_value"] == b[rid]["min_value"]
        assert a[rid]["max_value"] == b[rid]["max_value"]


def test_lookup_never_shuffles_state(spark, sf_dir):
    """r07 serving-path pin: a warm lookup probes the persisted serving
    state with BROADCAST joins only — no SortMergeJoin / ShuffledHashJoin
    (the r05 plan re-shuffled the tile table AND the event log on every
    request batch; at 100 TB that is O(corpus) shuffled per batch)."""
    import contextlib
    import io

    from volga_spark.operators.tiles import TiledFeatureService, build_tiles
    from volga_spark.operators.window import range_frame

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    svc = TiledFeatureService(
        ev,
        build_tiles(ev, ["user_id"], "ts", "value", "1 minute"),
        key_cols=["user_id"],
        ts_col="ts",
        value_col="value",
        frame=range_frame("1 hour"),
        granularity="1 minute",
    )
    pts = [
        (i, int(r["user_id"]), r["ts"])
        for i, r in enumerate(ev.orderBy("event_id").limit(50).collect())
    ]
    req = spark.createDataFrame(
        pts, "request_id bigint, user_id bigint, ts timestamp"
    )
    out = svc.lookup(req)
    out.count()  # finalize the AQE plan of the SAME frame we inspect
    plan = out._jdf.queryExecution().executedPlan().toString()
    svc.close()
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan[:2000]
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]


def _naive_window(spark, sf_dir, requests, window_sql):
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("e_uid"), "ts", "value"
    )
    r = requests.select("request_id", "user_id", F.col("ts").alias("rts"))
    j = r.join(
        ev,
        (F.col("user_id") == F.col("e_uid"))
        & (F.col("ts") >= F.col("rts") - F.expr(f"INTERVAL {window_sql}"))
        & (F.col("ts") <= F.col("rts")),
        "left",
    )
    return j.groupBy("request_id").agg(
        F.count("value").alias("cnt"),
        (F.sum(F.round(F.col("value") * 100).cast("long")) / F.lit(100.0)).alias(
            "sum_value"
        ),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def test_cover_buckets_properties():
    """Canonical ladder cover: disjoint, exact, and tiny vs single-level."""
    import random

    from volga_spark.operators.tiles import cover_buckets

    rng = random.Random(11)
    gs = [1, 6, 60, 720]
    for _ in range(500):
        lo = rng.randrange(0, 3000)
        hi = lo + rng.randrange(0, 5000)
        runs = cover_buckets(lo, hi, gs)
        ivs = sorted((b * g, (b + 1) * g) for g, b in runs)
        cur = lo
        for a, b in ivs:
            assert a == cur
            cur = b
        assert cur == (hi if ivs else lo)
    # a 7-day window at 1-minute fine level: ladder probes ~2 orders of
    # magnitude fewer buckets than the flat explode
    m = 60_000_000
    flat = (7 * 24 * 60 * m) // m
    runs = cover_buckets(13 * m, 13 * m + 7 * 24 * 60 * m, [m, 60 * m, 1440 * m])
    assert len(runs) < flat / 50, (len(runs), flat)


def test_cover_segments_expr_matches_python_walk(spark):
    """The native unrolled cover expression (r10 — the serving path's
    probe build with no Python stage) must reproduce cover_buckets
    exactly, segment order included, across randomized aligned intervals
    on a multi-level ladder and on a degenerate single-level one."""
    import random

    from pyspark.sql import functions as F

    from volga_spark.operators.tiles import (
        add_cover_segments,
        cover_buckets,
    )

    rng = random.Random(23)
    for gs in ([1, 6, 60, 720], [5], [7, 42]):
        cases = []
        for _ in range(200):
            lo = rng.randrange(0, 3000 // gs[0]) * gs[0]
            hi = lo + rng.randrange(0, 5000 // gs[0]) * gs[0]
            cases.append((lo, hi))
        df = add_cover_segments(
            spark.createDataFrame(cases, "lo long, hi long"),
            F.col("lo"),
            F.col("hi"),
            gs,
            out="cov",
        )
        for r in df.collect():
            want = cover_buckets(r["lo"], r["hi"], gs)
            got = [
                (e["g"], b)
                for e in r["cov"]
                if e["hi"] >= e["lo"]  # the empty-segment sentinel
                for b in range(e["lo"], e["hi"] + 1)
            ]
            assert got == want, (gs, r["lo"], r["hi"])


@pytest.mark.parametrize("window", ["25 HOURS", "7 DAYS"])
def test_ladder_lookup_equals_naive_and_flat(spark, sf_dir, window):
    """A ladder-served lookup must equal BOTH the naive scan and the
    single-granularity tiled path, bit for bit, on long windows where the
    ladder actually engages all levels."""
    from volga_spark.operators.tiles import TiledFeatureService, build_tile_ladder

    ev = load_table(spark, sf_dir, "events")
    requests = ev.filter(F.col("event_id") % 11 == 0).limit(60).select(
        F.col("event_id").alias("request_id"),
        "user_id",
        F.when(
            F.col("event_id") % 22 == 0, F.date_trunc("minute", F.col("ts"))
        )
        .otherwise(F.col("ts"))
        .alias("ts"),
    )
    evs = ev.select("user_id", "ts", "value")
    n = {"25 HOURS": "25 hours", "7 DAYS": "7 days"}[window]
    ladder = ["1 minute", "1 hour", "12 hours"]
    svc = TiledFeatureService(
        evs,
        build_tile_ladder(evs, ["user_id"], "ts", "value", ladder),
        key_cols=["user_id"],
        ts_col="ts",
        value_col="value",
        frame=range_frame(n),
        granularities=ladder,
    )
    got = svc.lookup(requests).toPandas().set_index("request_id").sort_index()
    svc.close()
    flat = (
        tiled_lookup(
            evs,
            requests,
            key_cols="user_id",
            ts_col="ts",
            value_col="value",
            frame=range_frame(n),
            granularity="1 minute",
        )
        .toPandas()
        .set_index("request_id")
        .sort_index()
    )
    naive = (
        _naive_window(spark, sf_dir, requests, window)
        .toPandas()
        .set_index("request_id")
        .sort_index()
    )
    for col in ("cnt", "sum_value", "min_value", "max_value"):
        pd.testing.assert_series_equal(got[col], naive[col], check_names=False)
        pd.testing.assert_series_equal(got[col], flat[col], check_names=False)


def test_auto_service_builds_ladder_for_long_windows(spark, sf_dir):
    """A long window over a dense-enough corpus should get a LADDER, and
    the ladder-served answers must equal the naive scan."""
    from volga_spark.operators.tiles import auto_feature_service

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    svc = auto_feature_service(
        ev, "user_id", "ts", "value", range_frame("7 days"),
        granularity="1 minute", threshold=0.0,
    )
    assert svc.chosen == "tiled"
    assert svc.granularities is not None and len(svc.granularities) >= 2
    requests = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 13 == 0)
        .limit(40)
        .select(F.col("event_id").alias("request_id"), "user_id", "ts")
    )
    got = svc.lookup(requests).toPandas().set_index("request_id").sort_index()
    svc.close()
    naive = (
        _naive_window(spark, sf_dir, requests, "7 DAYS")
        .toPandas()
        .set_index("request_id")
        .sort_index()
    )
    for col in ("cnt", "sum_value", "min_value", "max_value"):
        pd.testing.assert_series_equal(got[col], naive[col], check_names=False)
    # a short window keeps the flat level
    short = auto_feature_service(
        ev, "user_id", "ts", "value", range_frame("1 hour"),
        granularity="1 minute", threshold=0.0,
    )
    assert short.chosen == "tiled" and short.granularities is None
    short.close()
    # sub-minute base granularity: ladder levels render in µs, so a x60
    # step below one minute stays a valid non-zero granularity (was a
    # '0 minutes' level -> ZeroDivisionError in the divisibility check)
    sub = auto_feature_service(
        ev, "user_id", "ts", "value", range_frame("1 hour"),
        granularity="500 milliseconds", threshold=0.0,
    )
    assert sub.chosen == "tiled"
    assert sub.granularities == ["500 milliseconds", "30000000 microseconds"]
    sub_got = (
        sub.lookup(requests.limit(5)).toPandas().set_index("request_id").sort_index()
    )
    sub.close()
    for col in ("cnt", "min_value", "max_value"):
        pd.testing.assert_series_equal(
            sub_got[col],
            _naive_window(spark, sf_dir, requests.limit(5), "1 HOURS")
            .toPandas()
            .set_index("request_id")
            .sort_index()[col],
            check_names=False,
        )


def test_stream_maintained_tiles_serve_through_ladder(spark, sf_dir):
    """The streaming-write path closes the loop: fine tiles folded per
    micro-batch (stream_build_tiles) roll up into a serving ladder WITHOUT
    touching events (ladder_from_tiles), and the ladder-served lookups
    equal the naive scan bit for bit."""
    from volga_spark.operators.tiles import TiledFeatureService, ladder_from_tiles
    from volga_spark.streaming.sources import chunked_file_stream
    from volga_spark.streaming.tile_sink import stream_build_tiles

    stream, _ = chunked_file_stream(spark, sf_dir, "events", "ts", n_chunks=5)
    fine = stream_build_tiles(
        stream.select("user_id", "ts", "value"),
        key_cols="user_id",
        ts_col="ts",
        value_col="value",
        granularity="1 minute",
    )
    ladder = ["1 minute", "1 hour", "12 hours"]
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    svc = TiledFeatureService(
        ev,
        ladder_from_tiles(fine, ["user_id"], ladder),
        key_cols=["user_id"],
        ts_col="ts",
        value_col="value",
        frame=range_frame("7 days"),
        granularities=ladder,
    )
    requests = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 17 == 0)
        .limit(40)
        .select(F.col("event_id").alias("request_id"), "user_id", "ts")
    )
    got = svc.lookup(requests).toPandas().set_index("request_id").sort_index()
    svc.close()
    naive = (
        _naive_window(spark, sf_dir, requests, "7 DAYS")
        .toPandas()
        .set_index("request_id")
        .sort_index()
    )
    for col in ("cnt", "sum_value", "min_value", "max_value"):
        pd.testing.assert_series_equal(got[col], naive[col], check_names=False)


def test_interval_parsing_case_and_plural():
    """r10 regression: '7 DAYS' raised (the optional plural 's' in the
    parser regex was case-sensitive, so the unit lowered to 'days')."""
    from volga_spark.operators.window import interval_to_micros

    day = 86_400_000_000
    assert interval_to_micros("7 DAYS") == 7 * day
    assert interval_to_micros("7 days") == 7 * day
    assert interval_to_micros("1 Day") == day
    assert interval_to_micros("25 HOURS") == 25 * 3_600_000_000


def test_ladder_service_releases_batch_pins(spark, sf_dir):
    """r10 review: the ladder lookup pins one cover-barrier frame per
    batch; the service must release the previous batch's pin on every
    lookup so a serving loop cannot accumulate persistent RDD blocks."""
    from volga_spark.operators.tiles import (
        TiledFeatureService,
        build_tile_ladder,
    )

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    gs = ["1 minute", "5 minutes"]
    svc = TiledFeatureService(
        ev,
        build_tile_ladder(ev, ["user_id"], "ts", "value", gs),
        key_cols="user_id",
        ts_col="ts",
        value_col="value",
        frame=range_frame("1 hour"),
        granularities=gs,
    )
    req = ev.limit(20).select(
        F.col("user_id"),
        "ts",
        F.monotonically_increasing_id().alias("request_id"),
    ).select("request_id", "user_id", "ts")

    def n_persistent():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    svc.lookup(req).count()
    after_first = n_persistent()
    for _ in range(3):
        svc.lookup(req).count()
    assert n_persistent() <= after_first  # pins released, no growth
    # exactly the live batch's pins: the request-frame CHECKPOINT pin
    # (r11 determinism fix; r12 made it a localCheckpoint tracked by rdd
    # id). The cover barrier is gone on the template path (r12): the
    # interior probe is a broadcast join against the service-lifetime
    # template, so nothing batch-scoped is pinned for it.
    assert not any(svc._batch_pins.values())
    assert sum(len(v) for v in svc._batch_pin_rdd_ids.values()) == 1
    svc.close()
    assert not svc._batch_pins and not svc._batch_pin_rdd_ids


def test_sharded_lookup_equals_unsharded(spark, sf_dir):
    """shards>1 must be a pure partition-union of the same answers — the
    broadcast-ceiling escape hatch cannot change a single value."""
    from volga_spark.operators.tiles import (
        TiledFeatureService,
        build_tile_ladder,
    )

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
    req = ev.limit(60).select(
        F.monotonically_increasing_id().alias("request_id"), "user_id", "ts"
    ).localCheckpoint()
    base = {r["request_id"]: r for r in svc.lookup(req).collect()}
    sharded = {r["request_id"]: r for r in svc.lookup(req, shards=3).collect()}
    svc.close()
    assert set(base) == set(sharded) and base
    for rid in base:
        assert base[rid].asDict() == sharded[rid].asDict(), rid


def test_probe_bound_dominates_enumerated_cover():
    """max_probe_rows_per_request is an alignment-independent UPPER bound
    on the enumerated cover size (+2 edge buckets) — the auto-shard
    heuristic divides by it, so an under-estimate would under-shard and
    walk a batch back into the broadcast ceiling."""
    import random

    from volga_spark.operators.tiles import (
        cover_buckets,
        max_probe_rows_per_request,
    )

    rng = random.Random(1117)
    ladders = [
        [60],
        [60, 3600],
        [60, 3600, 43200],
        [60, 3600, 86400],
        [1, 60, 360, 720],
    ]
    for gs in ladders:
        for w_mult in (1, 7, 31, 365):
            w = gs[-1] * w_mult + gs[0] * rng.randrange(0, 7)
            bound = max_probe_rows_per_request(w, gs)
            for _ in range(25):
                # a request at arbitrary alignment: interior = the aligned
                # part of [rts - w, rts), at most w wide
                rts = rng.randrange(0, 10 * gs[-1]) * gs[0] + gs[-1] * 400
                lo = -(-(rts - w) // gs[0]) * gs[0]
                hi = (rts // gs[0]) * gs[0]
                if hi <= lo:
                    continue
                n = len(cover_buckets(lo, hi, gs)) + 2
                assert n <= bound, (gs, w, rts, n, bound)


def test_auto_shards_heuristic():
    """Pinned shard selection (r10 verdict #2), calibrated r11: 50k × the
    7d/[1m,1h,12h] ladder (worst-case bound 157/request) must stay
    UNSHARDED — that regime measured 10,243 lookups/s unsharded vs ~40%
    slower at 4 shards — while the reference's 200k scale shards to keep
    each broadcast at the proven size."""
    from volga_spark.operators.tiles import auto_shards

    assert auto_shards(60, 157) == 1
    assert auto_shards(50_000, 157) == 1  # r10-proven regime: no sharding
    assert auto_shards(200_000, 157) == 4  # the reference's bench scale
    assert auto_shards(0, 157) == 1
    for n in (1, 10_000, 50_000, 200_000, 1_000_000):
        k = auto_shards(n, 157)
        assert -(-n // k) * 157 <= 8_000_000 + 157  # per-shard in target


def test_lookup_auto_shards_from_batch_size(spark, sf_dir):
    """lookup(shards=None) derives the shard count from the live batch:
    a small batch stays single-sharded (no filter/union legs in the plan),
    and the heuristic inputs come from the service's own frame/ladder."""
    from volga_spark.operators.tiles import (
        TiledFeatureService,
        auto_shards,
        build_tile_ladder,
    )

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
    ppr = svc.probe_rows_per_request()
    # 25h window on [1m,1h]: ascend ≤59 + stride 26 + descend ≤59 + 2 edges
    assert 26 <= ppr <= 150
    req = ev.limit(40).select(
        F.monotonically_increasing_id().alias("request_id"), "user_id", "ts"
    ).localCheckpoint()
    assert auto_shards(40, ppr) == 1

    def unions(df):
        return df._jdf.queryExecution().optimizedPlan().toString().count("Union")

    out = svc.lookup(req)  # shards=None -> auto
    # consume WITHIN the serving cadence: each lookup releases the
    # previous batch's request-pin checkpoint, after which a stale result
    # frame raises loudly (r12 — better than the persist-era behavior of
    # silently recomputing a possibly non-deterministic batch)
    n_out = out.count()
    u_auto = unions(out)
    # the serving state itself carries Unions (ladder levels + raw rows);
    # the auto plan must match the explicit single-shard plan's shape and
    # not grow the extra top-level legs sharding adds
    assert u_auto == unions(svc.lookup(req, shards=1))
    assert u_auto < unions(svc.lookup(req, shards=3))
    assert n_out == 40
    svc.close()


def test_sharded_lookup_pins_nondeterministic_request_frames(spark, sf_dir):
    """r11 review: the sharded path re-scans the request frame once per
    shard; a NON-deterministic request plan (rand() sampling +
    monotonically_increasing_id, no checkpoint) re-evaluated per shard
    would drop some requests and duplicate others across the
    hash-disjoint filters. lookup() now persists the batch before
    fanning out — every request must come back exactly once."""
    from volga_spark.operators.tiles import (
        TiledFeatureService,
        build_tile_ladder,
    )

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
    # deliberately unstable plan: random order, volatile ids, NO checkpoint
    req = (
        ev.orderBy(F.rand())
        .limit(30)
        .select(
            F.monotonically_increasing_id().alias("request_id"),
            "user_id",
            "ts",
        )
    )
    out = svc.lookup(req, shards=3)
    rows = out.collect()
    assert len(rows) == 30
    assert len({r["request_id"] for r in rows}) == 30
    svc.close()


def test_hint_resolved_single_shard_still_pins_nondeterministic_batch(
    spark, sf_dir
):
    """r13 advisor (medium): an n_requests hint that resolves auto_shards
    to 1 used to SKIP the batch pin, but even a single-shard tiled_lookup
    evaluates the request frame in multiple jobs (broadcast probe build +
    the final left join) — a non-deterministic request plan re-evaluated
    between them yields dropped or NULL-featured rows. The pin is now kept
    on every auto-resolved path; only an explicit shards=1 skips it."""
    from volga_spark.operators.tiles import (
        TiledFeatureService,
        auto_shards,
        build_tile_ladder,
    )

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
    assert auto_shards(30, svc.probe_rows_per_request()) == 1
    for trial in range(3):
        req = (
            ev.orderBy(F.rand())
            .limit(30)
            .select(
                F.monotonically_increasing_id().alias("request_id"),
                "user_id",
                "ts",
            )
        )
        rows = svc.lookup(req, n_requests=30).collect()
        assert len(rows) == 30, trial
        assert len({r["request_id"] for r in rows}) == 30, trial
        # every matched request must carry features: a probe/left-join
        # mismatch from re-evaluation shows up as NULL-featured rows for
        # requests whose key has state
        assert all(r["cnt"] is not None for r in rows), trial
    # pin bookkeeping: exactly one live request pin (this thread's last
    # batch), released on close
    assert sum(len(v) for v in svc._batch_pin_rdd_ids.values()) == 1
    svc.close()
    assert not svc._batch_pin_rdd_ids


def test_cover_template_matches_cover_buckets():
    """r12: the precomputed template must reproduce cover_buckets for
    EVERY reachable (b_first, b_last) — randomized rts/window sweep over
    ladders, resolving buckets through the template exactly as the
    serving join does (phase = b_first mod P, shift = (b_first−phase)·g
    div g_i)."""
    import random

    from volga_spark.operators.tiles import cover_buckets, cover_template_rows

    rng = random.Random(7)
    for gs in ([1, 6, 60, 720], [5, 40], [7, 42, 84]):
        g, p_count = gs[0], gs[-1] // gs[0]
        for w in (g * 3 + 1, g * 17, g * 150 + g // 2 + 1, gs[-1] * 4 + 3):
            tpl = {}
            for ph, length, tg, rel in cover_template_rows(w, gs):
                tpl.setdefault((ph, length), []).append((tg, rel))
            for _ in range(300):
                rts = rng.randrange(-10 * gs[-1], 10**7)
                q_first = (rts - w) // g + 1
                q_last = (rts + 1) // g - 1
                if q_first > q_last:
                    continue
                want = cover_buckets(q_first * g, (q_last + 1) * g, gs)
                ph = q_first % p_count
                length = q_last - q_first + 1
                got = sorted(
                    (tg, rel + (q_first - ph) * g // tg)
                    for tg, rel in tpl.get((ph, length), [])
                )
                assert got == sorted(want), (gs, w, rts)


def test_template_lookup_equals_carry_chain(spark, sf_dir):
    """r12: the service's template path and the carry-chain fallback are
    the same operator — answers must match bit for bit (and the naive
    parity of test_ladder_lookup_equals_naive_and_flat covers ground
    truth)."""
    from volga_spark.operators.tiles import (
        TiledFeatureService,
        build_tile_ladder,
        tiled_lookup,
    )

    ev = load_table(spark, sf_dir, "events")
    requests = ev.filter(F.col("event_id") % 7 == 0).limit(50).select(
        F.col("event_id").alias("request_id"), "user_id", "ts"
    )
    evs = ev.select("user_id", "ts", "value")
    ladder = ["1 minute", "1 hour", "12 hours"]
    tiles = build_tile_ladder(evs, ["user_id"], "ts", "value", ladder)
    svc = TiledFeatureService(
        evs,
        tiles,
        key_cols=["user_id"],
        ts_col="ts",
        value_col="value",
        frame=range_frame("7 days"),
        granularities=ladder,
    )
    got = svc.lookup(requests).toPandas().set_index("request_id").sort_index()
    assert svc._cover_template is not None  # the template path actually ran
    sink = []
    chain = (
        tiled_lookup(
            evs,
            requests,
            key_cols="user_id",
            ts_col="ts",
            value_col="value",
            frame=range_frame("7 days"),
            granularity="1 minute",
            tiles=tiles,
            granularities=ladder,
            _barrier_sink=sink,
        )
        .toPandas()
        .set_index("request_id")
        .sort_index()
    )
    for col in ("cnt", "sum_value", "min_value", "max_value"):
        pd.testing.assert_series_equal(got[col], chain[col], check_names=False)
    svc.close()
    for df in sink:
        df.unpersist()


def test_concurrent_lookups_share_one_service(spark, sf_dir):
    """r11 verdict #7: K concurrent callers against ONE service — the
    shared cached state must serve all of them and the per-batch pin
    release must be scoped per caller thread (a global release would free
    another thread's in-flight request-pin checkpoint mid-query, which
    fails loudly since r12). Each thread runs several sequential batches
    with fresh request ids; every batch must return exactly its rows."""
    import threading

    from volga_spark.operators.tiles import (
        TiledFeatureService,
        build_tile_ladder,
    )

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
    base = ev.limit(25).select("user_id", "ts")
    errors: list = []

    def caller(k: int) -> None:
        try:
            for b in range(3):
                req = base.select(
                    (F.monotonically_increasing_id() + k * 1_000_000 + b * 1_000)
                    .alias("request_id"),
                    "user_id",
                    "ts",
                )
                rows = svc.lookup(req).collect()
                assert len(rows) == 25, (k, b, len(rows))
                assert all(r["cnt"] >= 1 for r in rows)
        except Exception as ex:  # noqa: BLE001 — surfaced to the main thread
            errors.append((k, ex))

    threads = [threading.Thread(target=caller, args=(k,)) for k in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    # all four threads' final pins are live until close, then released
    assert len(svc._batch_pin_rdd_ids) <= 4
    svc.close()
    assert not svc._batch_pin_rdd_ids


@pytest.mark.parametrize("seed", range(int(__import__("os").environ.get("FUZZ_TILE_SEEDS", "4"))))
def test_ladder_serving_fuzz_template_chain_naive(spark, sf_dir, seed):
    """r12 randomized hardening of the serving rewrite: a random
    (divisibility ladder × window × request alignment) must answer
    identically through the PRECOMPUTED TEMPLATE (the serving default),
    the CARRY-CHAIN fallback, and the naive full-scan — bit for bit.
    Ladders are drawn as random divisor chains (2-3 levels) so phase
    spaces, stride counts, and ascend/descend shapes all vary."""
    import random

    from volga_spark.operators.tiles import (
        TiledFeatureService,
        build_tile_ladder,
        tiled_lookup,
    )

    rng = random.Random(31_000 + seed)
    # random divisor chain in minutes: g0 | g1 | g2
    g0 = rng.choice([1, 2, 3, 5])
    g1 = g0 * rng.choice([2, 4, 6, 12])
    levels = [f"{g0} minutes", f"{g1} minutes"]
    if rng.random() < 0.7:
        levels.append(f"{g1 * rng.choice([2, 5, 10])} minutes")
    w_mins = rng.randint(3, 60) * g0 + rng.choice([0, g0 // 2, 1])
    frame = range_frame(f"{w_mins} minutes")

    ev = load_table(spark, sf_dir, "events")
    evs = ev.select("user_id", "ts", "value")
    requests = ev.filter(F.col("event_id") % 9 == seed % 9).limit(40).select(
        F.col("event_id").alias("request_id"),
        "user_id",
        # mix raw and bucket-aligned request timestamps
        F.when(
            F.col("event_id") % 18 == 0, F.date_trunc("minute", F.col("ts"))
        ).otherwise(F.col("ts")).alias("ts"),
    )
    tiles = build_tile_ladder(evs, ["user_id"], "ts", "value", levels)
    svc = TiledFeatureService(
        evs, tiles, key_cols=["user_id"], ts_col="ts", value_col="value",
        frame=frame, granularities=levels,
    )
    got = svc.lookup(requests).toPandas().set_index("request_id").sort_index()
    assert svc._cover_template is not None, (levels, w_mins)
    sink: list = []
    chain = tiled_lookup(
        evs, requests, key_cols="user_id", ts_col="ts", value_col="value",
        frame=frame, granularity=levels[0], tiles=tiles,
        granularities=levels, _barrier_sink=sink,
    ).toPandas().set_index("request_id").sort_index()
    naive = (
        _naive_window(spark, sf_dir, requests, f"{w_mins} MINUTES")
        .toPandas()
        .set_index("request_id")
        .sort_index()
    )
    try:
        for col in ("cnt", "sum_value", "min_value", "max_value"):
            pd.testing.assert_series_equal(
                got[col], chain[col], check_names=False,
                obj=f"seed {seed} template-vs-chain {levels} w={w_mins}m {col}",
            )
            pd.testing.assert_series_equal(
                got[col], naive[col], check_names=False,
                obj=f"seed {seed} template-vs-naive {levels} w={w_mins}m {col}",
            )
    finally:
        svc.close()
        for df in sink:
            df.unpersist()
