"""Tiled (pre-aggregated) point-in-time lookup — the reference's tiling
design re-expressed Spark-first (reference
src/runtime/operators/window/state/tiles.rs:15-118: multi-granularity
pre-aggregated buckets so long windows never rescan raw rows for the window
interior, only the edges).

Here the tile store is a plain DataFrame/table: per (key, time-bucket)
partial aggregates (count, exact cents sum, min, max). A request window
[rts - W, rts] is answered by

  interior: tile buckets fully inside the window — an equi-join on
            (key, bucket id) after exploding each request into its interior
            bucket ids (W/G rows per request);
  edges:    raw rows in the two partial buckets at the window boundaries —
            an equi-join on (key, edge bucket id) + timestamp filter.

Per-request work is O(W/G tiles + edge rows) instead of O(rows in window) —
for a 30-day window at 1-minute granularity that's 43k tile rows vs millions
of raw rows. All combining arithmetic is exact integers, so results are
bit-identical to the unfiltered scan (asserted against the naive
point_in_time_lookup and the DuckDB oracle).

At 100 TB the tile table is maintained incrementally by the streaming write
path (a windowed groupBy — trivially incremental) and is itself partitioned
by key hash; request batches join against it with standard shuffle pruning.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from volga_spark.caching import checkpoint_rdd_id, pin, release_checkpoint_ids
from volga_spark.operators.request import request_frame
from volga_spark.operators.window import RangeFrame, interval_to_micros


def fdiv(x, g: int):
    """Exact integer floor division of a long column by a positive literal
    granularity — THE bucket arithmetic for this module (r11, advisor): the
    old ``floor(x / lit(g))`` round-trips through double, exact only for
    |x| < 2^53 (~year 2255 in µs); ``(x - pmod(x, g)) div g`` stays in long
    arithmetic and keeps floor semantics for negative µs (pmod ≥ 0). Every
    bucket site below uses this one helper so tiles, covers, edge rows and
    serving state can never disagree near the precision boundary."""
    return F.call_function("div", x - F.pmod(x, F.lit(g)), F.lit(g)).cast("long")


def build_tiles(
    events: DataFrame,
    key_cols: str | list[str],
    ts_col: str,
    value_col: str,
    granularity: str = "1 minute",
) -> DataFrame:
    """Tile table: per (key, bucket) → n, cents sum, min, max."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    g = interval_to_micros(granularity)
    return (
        # floor, not cast-truncation: pre-1970 timestamps (negative µs)
        # must land in the same buckets cover_buckets/the ladder compute
        events.withColumn(
            "__b", fdiv(F.unix_micros(F.col(ts_col)), g)
        )
        .groupBy(*keys, "__b")
        .agg(
            F.count(value_col).alias("t_cnt"),
            F.sum(F.round(F.col(value_col) * 100).cast("long")).alias("t_cents"),
            F.min(value_col).alias("t_min"),
            F.max(value_col).alias("t_max"),
        )
    )


def build_tile_ladder(
    events: DataFrame,
    key_cols: str | list[str],
    ts_col: str,
    value_col: str,
    granularities: list[str],
) -> DataFrame:
    """Multi-granularity tile ladder (reference tiles.rs granularity tree):
    per (key, level, bucket) → n, cents sum, min, max, with a ``__g``
    column carrying the level's micros. The finest level aggregates the
    events ONCE; every coarser level rolls up from the level below (exact:
    count/sum add, min/max nest) — k levels cost one event scan plus k-1
    tile-sized aggregations, and the ladder is ≤ Σ 1/ratio ≈ 1.1× the
    finest level's row count."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    ordered = sorted(granularities, key=interval_to_micros)
    fine = build_tiles(events, keys, ts_col, value_col, ordered[0])
    return ladder_from_tiles(fine, keys, ordered)


def ladder_from_tiles(
    fine_tiles: DataFrame,
    key_cols: str | list[str],
    granularities: list[str],
) -> DataFrame:
    """Roll an existing FINEST-level tile table (``build_tiles`` schema,
    buckets at granularities[0]) up into the full ladder — events are
    never touched, so a STREAM-maintained fine tile table
    (`streaming/tile_sink.stream_build_tiles`) becomes a serving ladder
    with k-1 tile-sized aggregations at service-build time."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    ordered = sorted(granularities, key=interval_to_micros)
    gs = [interval_to_micros(g) for g in ordered]
    for a, b in zip(gs, gs[1:]):
        if b % a:
            raise ValueError(
                f"each granularity must divide the next: {a} !| {b}"
            )
    levels = [fine_tiles.withColumn("__g", F.lit(gs[0]))]
    prev, prev_g = fine_tiles, gs[0]
    for g in gs[1:]:
        ratio = g // prev_g
        coarse = (
            prev.groupBy(
                *keys, fdiv(F.col("__b"), ratio).alias("__cb")
            )
            .agg(
                F.sum("t_cnt").alias("t_cnt"),
                F.sum("t_cents").alias("t_cents"),
                F.min("t_min").alias("t_min"),
                F.max("t_max").alias("t_max"),
            )
            .withColumnRenamed("__cb", "__b")
        )
        levels.append(coarse.withColumn("__g", F.lit(g)))
        prev, prev_g = coarse, g
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def cover_buckets(lo: int, hi: int, gs: list[int]) -> list[tuple[int, int]]:
    """Canonical multi-granularity cover of the aligned interior [lo, hi):
    returns (granularity, bucket) pairs — disjoint, exactly covering, using
    the coarsest tiles that fit (the reference's granularity-tree walk,
    tiles.rs:15-118, as pure integer arithmetic).

    `gs` is fine→coarse, each granularity dividing the next; `lo`/`hi`
    must be multiples of gs[0]. Ascend fine→coarse from the left edge,
    stride the middle at the coarsest level, descend coarse→fine to the
    right edge: per request the probe is O(Σ level branching + W/g_max)
    buckets instead of the single-level W/g_fine — a 30-day window on a
    [1m, 1h, 1d] ladder probes ≤ 59+23+30+23+59 ≈ 194 buckets, not 43k.
    """
    if lo % gs[0] or hi % gs[0]:
        raise ValueError("lo/hi must be aligned to the finest granularity")
    for a, b in zip(gs, gs[1:]):
        if b % a:
            raise ValueError(f"granularity {b} is not a multiple of {a}")
    out: list[tuple[int, int]] = []

    def emit(g: int, a: int, b: int) -> None:  # [a, b) in micros, g-aligned
        out.extend((g, x) for x in range(a // g, b // g))

    cur = lo
    # ascend: finish each finer level up to the next coarser alignment
    for g, nxt in zip(gs, gs[1:]):
        aligned = -(-cur // nxt) * nxt
        stop = min(aligned, (hi // g) * g)
        if stop > cur:
            emit(g, cur, stop)
            cur = stop
        if cur % nxt:
            break  # window ends before the next coarser level aligns
    gk = gs[-1]
    if cur % gk == 0:
        stop = (hi // gk) * gk
        if stop > cur:
            emit(gk, cur, stop)
            cur = stop
    # descend: close the right edge with ever finer tiles
    for g in reversed(gs[:-1]):
        if cur % g == 0:
            stop = (hi // g) * g
            if stop > cur:
                emit(g, cur, stop)
                cur = stop
    if cur != hi:
        raise AssertionError(f"cover did not close: {lo}..{hi} stopped {cur}")
    return out


def cover_template_rows(
    frame_micros: int, gs: list[int]
) -> list[tuple[int, int, int, int]]:
    """Precomputed cover TEMPLATE for a fixed frame over a granularity
    ladder (r12, small-batch serving floor): the canonical cover of a
    request interior [b_first, b_last] is a pure function of the interval,
    and it is translation-EQUIVARIANT under shifts of P = g_max/g_fine
    fine buckets (shifting by P·g preserves every level's alignment, so
    each level-gi bucket id shifts by exactly P·g/gi). For a fixed window
    W the interior length L = b_last − b_first + 1 takes only two values
    {m−1, m} (m = W div g, from the floor arithmetic of the bounds), so
    the WHOLE cover space is P × 2 entries, enumerable once per service
    instead of re-deriving the granularity-tree walk per request per
    batch (the carry-chain form paid ~1s of per-batch driver analysis at
    1k requests — profile_serving_floor2.py, in git history at fa9af1b).

    Returns rows (phase, L, g_i, rel_bucket) where phase = b_first mod P
    and rel_bucket is the level-g_i bucket id of the instance with
    b_first = phase. A request resolves absolute buckets as
    rel + (b_first − phase)·g div g_i. Entries with L < 1 (no interior)
    are omitted — they mirror the has-interior filter on the request side.
    Bit-parity with :func:`cover_buckets` is by construction (each entry
    IS a cover_buckets call); the randomized sweep in test_tiles.py pins
    the joined path against both the enumeration and the carry chain."""
    g, g_max = gs[0], gs[-1]
    p_count = g_max // g
    m = frame_micros // g
    rows: list[tuple[int, int, int, int]] = []
    for ph in range(p_count):
        for length in {m - 1, m}:
            if length < 1:
                continue
            for gi, b in cover_buckets(ph * g, (ph + length) * g, gs):
                rows.append((ph, length, gi, b))
    return rows


# broadcast-side budget for the precomputed template: P × 2 shapes ×
# worst-case cover size, in rows (4 longs each ≈ 32 B) — 1M rows ≈ 32 MB,
# inside the 64 MB broadcast threshold. Ladders past it (e.g. 1-second
# finest under a 1-day coarsest) fall back to the native carry chain.
COVER_TEMPLATE_MAX_ROWS = 1_000_000


def cover_template_eligible(frame_micros: int, gs: list[int]) -> bool:
    p_count = gs[-1] // gs[0]
    bound = max_probe_rows_per_request(frame_micros, gs)
    return 2 * p_count * bound <= COVER_TEMPLATE_MAX_ROWS


def build_cover_template(spark, frame_micros: int, gs: list[int]) -> DataFrame:
    """Materialize :func:`cover_template_rows` as a small DataFrame
    (columns __ph/__L/__tg/__rel, all long) — the broadcast side of the
    per-batch interior join. Callers that reuse it across batches (the
    service) should persist it."""
    import pandas as pd

    rows = cover_template_rows(frame_micros, gs)
    pdf = pd.DataFrame(
        rows, columns=["__ph", "__L", "__tg", "__rel"], dtype="int64"
    )
    return spark.createDataFrame(pdf)


def max_probe_rows_per_request(frame_micros: int, gs: list[int]) -> int:
    """Worst-case probe rows one request contributes to the serving-state
    join, from the cover's structure (no data scan): each finer level emits
    at most (next/g − 1) buckets on the ascend AND the descend, the
    coarsest strides ceil(W/g_max)+1, plus the ≤2 raw-edge boundary
    buckets. Alignment-independent upper bound — pinned ≥ the enumerated
    ``cover_buckets`` size over randomized offsets in test_tiles.py."""
    bound = frame_micros // gs[-1] + 1
    for a, b in zip(gs, gs[1:]):
        bound += 2 * (b // a - 1)
    return bound + 2


def auto_shards(
    n_requests: int,
    probe_rows_per_request: int,
    target_rows: int = 8_000_000,
) -> int:
    """Shard count for :meth:`TiledFeatureService.lookup`: smallest k with
    n_requests × probe_rows / k ≤ target_rows. Calibration (r11, measured):
    `probe_rows_per_request` is the alignment-independent WORST case —
    ≈2× the typical cover occupancy (157 vs ~85 on the 7d/[1m,1h,12h]
    ladder) — and 50k requests × ~85 ≈ 4M REAL probe rows measured fine
    unsharded (r10: 10,243 lookups/s) while sharding that same batch 4×
    measured ~40% slower (extra broadcast jobs), so the target keeps the
    r10-proven regime unsharded: 8M bound-rows ≈ the measured-good ~4M
    real rows. 200k requests (the reference's bench scale) lands at 4
    shards, bounding the per-shard broadcast at the proven size."""
    if n_requests <= 0 or probe_rows_per_request <= 0:
        return 1
    return max(1, -(-n_requests * probe_rows_per_request // target_rows))


def add_cover_segments(df: DataFrame, lo, hi, gs: list[int], out: str = "__segs") -> DataFrame:
    """Native twin of :func:`cover_buckets`: appends an
    ``array<struct<g:long,lo:long,hi:long>>`` column — the canonical cover
    of the aligned interior [lo, hi) as CONTIGUOUS BUCKET RANGES (hi
    inclusive), one element per ladder segment, the granularity-tree walk
    unrolled at PLAN TIME over the (static) ladder levels. Each level
    contributes at most one ascend segment, the coarsest one stride, and
    one descend segment (2L−1 elements); the ``break`` of the Python walk
    is equivalent to the per-level ``cur % g == 0`` guard (a cur not
    divisible by level g is not divisible by any coarser multiple either).
    Empty segments carry lo=0, hi=−1 — callers must FILTER ``hi >= lo``
    before ``explode(sequence(lo, hi))`` (a descending sequence counts
    down, it is not empty).

    Two performance constraints shaped this (r10, both measured):
    - NO higher-order functions — transform/aggregate lambdas are
      CodegenFallback (interpreted per row); plain struct/array
      constructors + generators stay inside whole-stage codegen.
    - the sequential ``cur`` carry is projected into a REAL COLUMN per
      level (hence a DataFrame transformer, not a Column factory): each
      carry step references the previous one several times, so inlining
      the chain into one expression grows it ~4× PER LEVEL — the
      inlined form measured 4-15× slower than the Python UDF it was
      meant to beat, while the projected form is linear in ladder depth
      (CollapseProject keeps multiply-referenced non-trivial aliases
      projected). Bit-parity with the Python walk is pinned by
      test_tiles.py's randomized equivalence sweep."""

    # same guards cover_buckets enforces (r10 review: the old UDF path
    # raised per row on a bad ladder; the native path must not silently
    # serve a mis-bucketed cover instead) — levels at plan time, lo/hi
    # alignment at runtime via the assert fold below
    if not gs or sorted(gs) != list(gs):
        raise ValueError("granularities must be ascending and non-empty")
    for a, b in zip(gs, gs[1:]):
        if b % a:
            raise ValueError(f"granularity {b} is not a multiple of {a}")

    # bucket arithmetic via the module-level exact fdiv (r11) — the cover
    # must agree with build_tiles/build_serving_state bucketing bit-for-bit
    zero = F.lit(0).cast("long")
    neg1 = F.lit(-1).cast("long")

    def seg(g, ok, a, b):
        # bucket range [a/g, b/g - 1] when ok, else the empty sentinel
        return F.struct(
            F.lit(g).cast("long").alias("g"),
            F.when(ok, fdiv(a, g)).otherwise(zero).alias("lo"),
            F.when(ok, fdiv(b, g) - 1).otherwise(neg1).alias("hi"),
        )

    # runtime alignment guard, folded into the carry so column pruning
    # cannot drop it: assert_true yields NULL when the predicate holds
    # (coalesce makes it a +0 no-op) and raises on a misaligned interval
    aligned_ok = (lo % gs[0] == 0) & (hi % gs[0] == 0)
    guard = F.coalesce(
        F.assert_true(
            aligned_ok, F.lit("cover: lo/hi must be finest-level aligned")
        ).cast("long"),
        F.lit(0),
    )
    # ONE select per carry step (r12): the serving floor at small batches
    # is dominated by driver-side analysis — every Dataset creation
    # re-analyzes the growing tree, so the old withColumn×3-per-step form
    # paid ~3× the analyzer passes of this fused form for the same
    # physical plan (the carry still lands in a REAL projected column;
    # later steps reference it by name, never by expression).
    d = df.select(
        "*", (lo + guard).alias("__cov_cur"), hi.alias("__cov_hi")
    )
    cur, chi = F.col("__cov_cur"), F.col("__cov_hi")
    seg_cols: list[str] = []
    temp_cols: list[str] = ["__cov_cur", "__cov_hi"]

    def step(i, g, stop):
        nonlocal d, cur
        ok = (cur % g == 0) & (stop > cur)
        sc, cc = f"__cov_s{i}", f"__cov_c{i}"
        d = d.select(
            "*",
            seg(g, ok, cur, stop).alias(sc),
            F.when(ok, stop).otherwise(cur).alias(cc),
        )
        # re-point the carry at the projected column, NOT the expression
        cur = F.col(cc)
        seg_cols.append(sc)
        temp_cols.append(cc)

    i = 0
    for g, nxt in zip(gs, gs[1:]):
        aligned = -fdiv(-cur, nxt) * nxt  # ceil(cur / nxt) * nxt
        step(i, g, F.least(aligned, fdiv(chi, g) * g))
        i += 1
    step(i, gs[-1], fdiv(chi, gs[-1]) * gs[-1])
    i += 1
    for g in reversed(gs[:-1]):
        step(i, g, fdiv(chi, g) * g)
        i += 1
    return d.withColumn(out, F.array(*[F.col(c) for c in seg_cols])).drop(
        *temp_cols, *seg_cols
    )


def build_serving_state(
    events: DataFrame,
    tiles: DataFrame,
    key_cols: str | list[str],
    ts_col: str,
    value_col: str,
    granularity: str = "1 minute",
) -> DataFrame:
    """ONE serving-state table answering both halves of a tiled lookup:
    tile partials (kind 't') for window interiors and per-row partials
    (kind 'r', carrying the raw timestamp) for the boundary buckets. A
    request batch probes it with a single broadcast join on
    (key, level, bucket, kind) — the state is scanned once per batch and
    never shuffled. `tiles` may be a single level (``build_tiles``) or a
    multi-granularity ladder carrying ``__g`` (``build_tile_ladder``);
    `granularity` is the FINEST level, which raw edge rows bucket by.
    Persist the result in a service; rebuild per micro-batch when the
    stream maintains the tiles."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    g = interval_to_micros(granularity)
    if "__g" not in tiles.columns:
        tiles = tiles.withColumn("__g", F.lit(g))
    t = tiles.select(
        *keys,
        "__g",
        "__b",
        F.lit("t").alias("__kind"),
        F.col("t_cnt").alias("__cnt"),
        F.col("t_cents").alias("__cents"),
        F.col("t_min").alias("__min"),
        F.col("t_max").alias("__max"),
        F.lit(None).cast("long").alias("__ets"),
    )
    v = F.col(value_col)
    r = events.select(
        *keys,
        F.lit(g).alias("__g"),
        # floor (not cast) — see build_tiles; keeps raw-edge rows bucketed
        # identically to the tile/cover arithmetic for negative µs
        fdiv(F.unix_micros(F.col(ts_col)), g).alias("__b"),
        F.lit("r").alias("__kind"),
        F.when(v.isNotNull(), 1).otherwise(0).cast("long").alias("__cnt"),
        F.round(v * 100).cast("long").alias("__cents"),
        v.alias("__min"),
        v.alias("__max"),
        F.unix_micros(F.col(ts_col)).alias("__ets"),
    )
    return t.unionByName(r)


class TiledFeatureService:
    """Request-serving over TILED state — the reference's "queryable state"
    loop (README feature list + window_request_operator.rs): the streaming
    write path maintains the tile table (``stream_build_tiles``), and point
    lookups answer from interior tiles + raw edge rows without rescanning
    the window. Duck-typed to ``FeatureService`` (key_cols / ts_col /
    get_features), so ``api.serving.FeatureServer`` serves it over HTTP
    unchanged."""

    def __init__(
        self,
        events: DataFrame,
        tiles: DataFrame,
        key_cols,
        ts_col: str,
        value_col: str,
        frame: RangeFrame,
        granularity: str = "1 minute",
        granularities: list[str] | None = None,
    ):
        if not isinstance(frame, RangeFrame):
            # the reference likewise serves ROWS points WITHOUT tiles —
            # plan_rows_points loads the whole bucket span raw
            # (PointDataPlan::Whole, plain_points.rs:183-262) and ignores
            # tile accumulators; our equivalents are
            # operators.request.point_in_time_lookup / the PipelineSpec
            # request service, both of which serve RowsFrame since r13
            raise ValueError(
                "TiledFeatureService serves RANGE frames only (tiles "
                "pre-aggregate time intervals, not row positions); use "
                "point_in_time_lookup or PipelineSpec.build_request_service "
                "for ROWS-frame lookups"
            )
        self.events = events
        self.tiles = tiles
        self.key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
        self.ts_col = ts_col
        self.value_col = value_col
        self.frame = frame
        # a ladder service: `tiles` from build_tile_ladder, `granularity`
        # the finest level (edge rows bucket by it)
        self.granularities = (
            sorted(granularities, key=interval_to_micros)
            if granularities is not None
            else None
        )
        self.granularity = (
            self.granularities[0] if self.granularities else granularity
        )
        # the pinned serving state and its checkpoint rdd id (close() frees
        # the blocks by it)
        self._state: DataFrame | None = None
        self._state_rdd_id: int | None = None
        self._cover_template: DataFrame | None = None
        # per-THREAD batch pins (r12, concurrency probe): a service is one
        # shared cached state serving many callers; releasing "the
        # previous batch" must mean the previous batch OF THAT CALLER, or
        # concurrent lookups would free each other's in-flight request
        # pins (loud CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND mid-query). The
        # lock also serializes checkpoint-id capture — two concurrent
        # checkpoints diffing getPersistentRDDs unguarded could claim each
        # other's blocks and mis-release them.
        self._pins_lock = threading.Lock()
        self._state_lock = threading.Lock()  # one-time state/template build
        self._batch_pins: dict[int, list] = {}
        self._batch_pin_rdd_ids: dict[int, set[int]] = {}

    def _ensure_cached(self) -> None:
        # serialized: concurrent first lookups must build ONE state/template
        with self._state_lock:
            self._ensure_cached_locked()

    def _ensure_cached_locked(self) -> None:
        # pin the UNIONED serving state (tile partials + bucketed raw rows)
        # once — every request batch after the first probes cached blocks
        # with a single broadcast join instead of re-scanning (and
        # re-aggregating, when tiles were derived) the event log twice.
        #
        # caching.pin's checkpoint also TRUNCATES the state's logical plan
        # to a LogicalRDD (r12 small-batch floor: with plain persist, every
        # per-batch Dataset creation in tiled_lookup re-analyzed the full
        # events→ladder-union tree — ~1.0s of the 1k-batch 2.1s floor), and
        # its coalesce stops a ~100-partition ladder union from launching
        # ~100 near-empty probe tasks per batch. close() releases the
        # blocks by the rdd id the pin returns.
        if self._state is None:
            self._state, self._state_rdd_id = pin(
                build_serving_state(
                    self.events,
                    self.tiles,
                    self.key_cols,
                    self.ts_col,
                    self.value_col,
                    self.granularity,
                )
            )
        if (
            self._cover_template is None
            and self.granularities
            and cover_template_eligible(
                self.frame.micros,
                [interval_to_micros(x) for x in self.granularities],
            )
        ):
            # service-lifetime cover template (see cover_template_rows):
            # replaces the per-batch carry chain + persist barrier with one
            # broadcast join against a table built ONCE — persisted so the
            # per-batch broadcast build re-reads cached blocks, released
            # in close()
            gs = [interval_to_micros(x) for x in self.granularities]
            # a handful of cached partitions, not defaultParallelism: the
            # per-batch broadcast build re-reads every cached partition as
            # one task — 32 near-empty tasks measured 0.067s/batch vs
            # ~0.02s at 4
            tpl = build_cover_template(
                self.events.sparkSession, self.frame.micros, gs
            ).coalesce(4).persist()
            tpl.count()
            self._cover_template = tpl

    def _release_batch_pins(self, all_threads: bool = True) -> None:
        # release the PREVIOUS batch's pins so a long-running serving loop
        # cannot accumulate blocks — persisted frames (the carry-chain
        # cover barrier) via unpersist, checkpointed request pins via the
        # rdd ids captured across the checkpoint. Scoped per CALLER thread
        # by default (all_threads=False from lookup): concurrent callers
        # release only their own previous batch. Safe within a thread: by
        # the time its next lookup is issued, its prior result was
        # consumed (the normal serving cadence).
        tid = threading.get_ident()
        with self._pins_lock:
            if all_threads:
                frames = [f for v in self._batch_pins.values() for f in v]
                ids = set().union(*self._batch_pin_rdd_ids.values(), set())
                self._batch_pins = {}
                self._batch_pin_rdd_ids = {}
            else:
                frames = self._batch_pins.pop(tid, [])
                ids = self._batch_pin_rdd_ids.pop(tid, set())
        for df in frames:
            try:
                df.unpersist()
            except Exception:  # noqa: BLE001 — release must never fail serving
                pass
        release_checkpoint_ids(self.events.sparkSession.sparkContext, ids)

    def close(self) -> None:
        self._release_batch_pins()
        if self._state is not None:
            release_checkpoint_ids(
                self.events.sparkSession.sparkContext, {self._state_rdd_id}
            )
        if self._cover_template is not None:
            try:
                self._cover_template.unpersist()
            except Exception:  # noqa: BLE001
                pass
            self._cover_template = None
        self._state = None

    def probe_rows_per_request(self) -> int:
        """Worst-case probe rows per request for THIS service's frame and
        ladder (single-level services probe W/g interior buckets)."""
        if self.granularities:
            gs = [interval_to_micros(x) for x in self.granularities]
        else:
            gs = [interval_to_micros(self.granularity)]
        return max_probe_rows_per_request(self.frame.micros, gs)

    def lookup(
        self,
        requests: DataFrame,
        request_id_col: str = "request_id",
        shards: int | None = None,
        n_requests: int | None = None,
        materialize: bool = False,
    ):
        """Answer one request batch. ``shards > 1`` splits the batch into
        hash-disjoint sub-lookups unioned back together — the escape hatch
        for the plan's one scale bound: the probe frame (requests ×
        ~cover-size rows) is the BROADCAST side of the state join, so a
        very large batch approaches the broadcast ceiling (measured ~4M
        probe rows at 50k requests × a 7d/[1m,1h,12h] ladder; see
        SCALING.md). ``shards=None`` (r11, default) picks the count
        automatically: ceil(n_requests × worst-case probe rows per request
        / 8M bound-rows) via :func:`auto_shards` — one cheap count() of
        the request batch buys a batch-size-proof plan. Each sub-lookup
        probes the same cached state, so the only added cost is one more
        tiny request-side scan per shard. Whenever the request frame will
        be scanned more than once (auto mode's count, or >1 shard), it is
        persisted for the batch and released with the batch pins: a
        NON-deterministic request plan (monotonically_increasing_id,
        rand() sampling) re-evaluated per shard would otherwise
        drop/duplicate requests across the hash-disjoint filters (r11
        review). NULL request ids are safe either way — xxhash64(NULL)
        folds to the hash seed, landing them all in one shard.

        ``n_requests`` (r12) is a caller-supplied batch-size hint: auto
        mode resolves the shard count from it WITHOUT the per-batch
        ``count()`` job. The batch pin is kept on every auto-resolved
        path — even one shard evaluates the request frame in multiple
        jobs (probe build + final left join), so only an EXPLICIT
        ``shards=1`` (the caller asserting a deterministic request plan)
        skips it (r13 advisor fix), as does a local batch (``isLocal()``,
        the frame ``get_features`` builds) that resolves to one shard:
        deterministic by construction. Online callers know their batch size
        (``get_features`` passes ``len(points)``); the hint only sizes
        the shard split, so an inexact value affects performance, never
        results.

        The multi-scan pin is an eager ``localCheckpoint`` of a DERIVED
        frame, never a ``persist`` of the caller's own DataFrame object
        (r11 advisor): persisting the caller's frame would either raise
        ('cannot change storage level') or silently evict their cache
        entry when the pin is released. The checkpoint also truncates the
        request plan for every downstream analysis/optimizer pass (r12
        floor work); its blocks are released per batch by rdd id.

        ``materialize=True`` (r13) returns a fully-collected
        ``pyarrow.Table`` instead of a live DataFrame and releases this
        batch's pins immediately — no consume-before-next-lookup cadence,
        the ergonomic choice for small online batches (the HTTP path uses
        it). Leave False when the result feeds further Spark plans."""
        self._ensure_cached()
        # release only THIS caller thread's previous batch (concurrent
        # callers each keep their in-flight pins — see __init__ note)
        self._release_batch_pins(all_threads=False)
        tid = threading.get_ident()
        auto = shards is None
        if auto and n_requests is not None:
            shards = auto_shards(n_requests, self.probe_rows_per_request())
        # a one-shard local batch is deterministic and already a leaf
        # plan: neither reason for the pin below applies
        if (auto or shards > 1) and not (shards == 1 and requests.isLocal()):
            # pin the batch via an EAGER localCheckpoint: it materializes
            # the batch ONCE before anything scans it — the determinism
            # guarantee — AND truncates the caller's request plan to a
            # LogicalRDD, so the dozen downstream Dataset creations and
            # every per-job optimizer pass stop re-walking it (measured:
            # the request-frame subtree was a visible slice of the
            # 1k-batch driver floor). Pinned on EVERY auto-resolved path,
            # including an n_requests hint that resolves to one shard
            # (r13 advisor): even a single-shard tiled_lookup evaluates
            # the request frame in multiple jobs (broadcast probe build +
            # final left join), so an unpinned non-deterministic request
            # plan (rand()/sampling) could drop or NULL rows between
            # them. Only an EXPLICIT shards=1 skips the pin — that caller
            # asserts a deterministic plan. The checkpoint never touches
            # the caller's own DataFrame or cache entry; blocks are
            # released per batch by rdd id (DataFrame.unpersist cannot
            # release checkpoint blocks).
            requests = requests.localCheckpoint(eager=True)
            with self._pins_lock:
                self._batch_pin_rdd_ids.setdefault(tid, set()).add(
                    checkpoint_rdd_id(requests)
                )
            if shards is None:
                n = requests.count()
                shards = auto_shards(n, self.probe_rows_per_request())

        sink: list = []

        def one(req: DataFrame) -> DataFrame:
            return tiled_lookup(
                self.events,
                req,
                key_cols=self.key_cols,
                ts_col=self.ts_col,
                value_col=self.value_col,
                frame=self.frame,
                granularity=self.granularity,
                request_id_col=request_id_col,
                tiles=self.tiles,
                state=self._state,
                granularities=self.granularities,
                cover_template=self._cover_template,
                _barrier_sink=sink,
            )

        if shards <= 1:
            out = one(requests)
        else:
            parts = [
                one(
                    requests.filter(
                        F.pmod(F.xxhash64(request_id_col), F.lit(shards)) == i
                    )
                )
                for i in range(shards)
            ]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        if sink:
            with self._pins_lock:
                self._batch_pins.setdefault(tid, []).extend(sink)
        if not materialize:
            return out
        # materialize=True (r13, VERDICT #3): collect to an Arrow table and
        # release THIS batch's pins immediately — the caller holds data,
        # not a live plan, so the eager-pin cadence ("consume before your
        # next lookup or fail loudly") no longer applies to them. The HTTP
        # path materializes anyway; this skips its extra collect round trip.
        tbl = out.toArrow()
        self._release_batch_pins(all_threads=False)
        return tbl

    def get_features(self, spark, points: list[tuple]) -> list[dict]:
        """points = [(request_id, key..., ts)] → list of feature dicts."""
        if not points:
            return []
        cols = ["request_id", *self.key_cols, self.ts_col]
        req = request_frame(spark, points, cols)
        # the online caller knows its batch size — skip the count job
        return self.lookup(
            req, n_requests=len(points), materialize=True
        ).to_pylist()


def tiled_lookup(
    events: DataFrame,
    requests: DataFrame,
    key_cols: str | list[str],
    ts_col: str,
    value_col: str,
    frame: RangeFrame,
    granularity: str = "1 minute",
    request_id_col: str = "request_id",
    tiles: DataFrame | None = None,
    state: DataFrame | None = None,
    granularities: list[str] | None = None,
    cover_template: DataFrame | None = None,
    _barrier_sink: list | None = None,
) -> DataFrame:
    """COUNT/SUM(cents)/MIN/MAX over [rts - W, rts] per request, via tiles +
    edge rows. Returns request_id, keys, cnt/sum/min/max columns.

    The ladder path pins one tiny persisted frame per call (the cover
    barrier, see inline note). Pass ``_barrier_sink`` (a list) to receive
    the pinned frame for explicit release — ``TiledFeatureService`` does
    this and unpersists the previous batch's pin on every lookup, so a
    long-running serving loop cannot accumulate blocks; one-shot callers
    can rely on session teardown or ``caching.release_cached_blocks``.
    Retention caveat: consume a batch's result before issuing the next
    lookup (the normal serving cadence). The service releases the
    previous batch's request-pin checkpoint on every lookup; a stale
    result frame re-materialized afterwards raises
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND — loud by design (r12): the
    persist-era behavior silently recomputed through the pin, which for
    a non-deterministic request plan means silently WRONG rows, not just
    wasted work. Carry-chain barrier pins (persisted frames) still
    recompute on re-materialization and re-cache outside the sink's
    tracking (released only at close/session teardown).

    Serving-path plan shape (r07 rework of the r05 5-stage version): the
    request batch is the BOUNDED side — it explodes into interior-bucket
    probes (kind 't') plus boundary-bucket probes (kind 'r', ≤2 per
    request, carrying the window bounds), and the union probes the SINGLE
    serving-state table (:func:`build_serving_state`) with ONE broadcast
    join on (key, level, bucket, kind). The state is scanned once per
    batch, in place, and never shuffled; matched partials then feed one
    small per-request aggregation. Per batch: one broadcast join + one
    tiny shuffle, vs the old two sort-merge joins (re-shuffling tile AND
    event state every batch) + two aggs + a 3-way combine.

    With ``granularities`` (a divisibility ladder, e.g. ``["1 minute",
    "1 hour", "1 day"]``; `tiles`/`state` from :func:`build_tile_ladder`),
    the interior probe is the canonical multi-granularity cover
    (:func:`cover_buckets`): O(Σ level branching + W/g_max) probe rows per
    request instead of W/g_fine — a 30-day window probes ~200 buckets on a
    [1m, 1h, 1d] ladder, not 43k. The cover is a native unrolled
    expression (:func:`add_cover_segments`, r10) — the probe build is
    native JVM work with no Python stage anywhere in the serving path."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    g = interval_to_micros(granularity)
    w = frame.micros
    if state is None:
        if tiles is None:
            tiles = (
                build_tiles(events, keys, ts_col, value_col, granularity)
                if granularities is None
                else build_tile_ladder(
                    events, keys, ts_col, value_col, granularities
                )
            )
        state = build_serving_state(
            events, tiles, keys, ts_col, value_col, granularity
        )

    # Hot-path projections are SQL expression STRINGS, not Column algebra
    # (r12): in classic PySpark every Column operation is one py4j round
    # trip — the old Column-built plan cost ~1,300 JVM calls ≈ 0.5s of the
    # per-batch serving floor (cProfile: 0.43s in socket recv); the
    # selectExpr form is one call per projection and parses JVM-side.
    # Semantics are identical: `_fs` is textual fdiv (exact long floor
    # division), literals are µs ints inlined, identifiers backquoted.
    def _q(c: str) -> str:
        return f"`{c}`"

    def _fs(x: str, d: int) -> str:
        return f"(({x} - pmod({x}, {d})) div {d})"

    rid_q = _q(request_id_col)
    keys_q = [_q(k) for k in keys]
    rts_s = f"unix_micros({_q(ts_col)})"
    req = requests.selectExpr(
        rid_q,
        *keys_q,
        f"{rts_s} as __rts",
        f"({rts_s} - {w}) as __lo",
        # interior bucket range: bG > lo and (b+1)G <= rts + 1
        f"({_fs(f'({rts_s} - {w})', g)} + 1) as __b_first",
        f"({_fs(f'({rts_s} + 1)', g)} - 1) as __b_last",
    )

    # probe columns shared by the interior variants (kind 't')
    _t_exprs = (
        "'t' as __kind",
        "CAST(NULL AS BIGINT) as __lo",
        "CAST(NULL AS BIGINT) as __rts",
    )
    has_interior = req.filter("__b_first <= __b_last")
    if granularities is None:
        interior_req = has_interior.selectExpr(
            rid_q,
            *keys_q,
            f"CAST({g} AS BIGINT) as __g",
            "explode(sequence(__b_first, __b_last)) as __b",
            *_t_exprs,
        )
    elif cover_template is not None:
        # precomputed-template path (r12, see cover_template_rows): the
        # interior probe is ONE broadcast join on (phase, interior length)
        # — no per-batch carry chain, no persist barrier, no segment
        # explode. Absolute bucket = rel + (b_first − phase)·g div g_i
        # (exact: b_first − phase is a multiple of g_max/g, so the product
        # is a multiple of every g_i).
        gs = sorted(interval_to_micros(x) for x in granularities)
        if gs[0] != g:
            raise ValueError(
                "granularity must be the ladder's finest level "
                f"({gs[0]} µs); got {g} µs"
            )
        p_count = gs[-1] // g
        jreq = has_interior.selectExpr(
            rid_q,
            *keys_q,
            "__b_first",
            f"pmod(__b_first, {p_count}) as __ph",
            "(__b_last - __b_first + 1) as __L",
        )
        interior_req = jreq.join(
            F.broadcast(cover_template), ["__ph", "__L"]
        ).selectExpr(
            rid_q,
            *keys_q,
            "__tg as __g",
            # abs bucket = rel + (b_first − phase)·g div g_i (exact: the
            # difference is a multiple of g_max/g, so the product divides)
            f"CAST(__rel + (__b_first - __ph) * {g} div __tg AS BIGINT) as __b",
            *_t_exprs,
        )
    else:
        gs = sorted(interval_to_micros(x) for x in granularities)
        if gs[0] != g:
            raise ValueError(
                "granularity must be the ladder's finest level "
                f"({gs[0]} µs); got {g} µs"
            )
        seg_src = add_cover_segments(
            has_interior.select(request_id_col, *keys, "__b_first", "__b_last"),
            F.col("__b_first") * F.lit(g),
            (F.col("__b_last") + 1) * F.lit(g),
            gs,
        ).select(request_id_col, *keys, "__segs")
        # barrier before the explode: fed straight (or via a repartition —
        # measured, it does NOT help) into the Generate, the carry chain's
        # evaluation degrades ~10x (2.7s vs 0.15s per 1000-request batch);
        # a materialization barrier fixes it. persist() over
        # localCheckpoint: same speed measured, but releasable at the
        # DataFrame level, so a serving loop can unpersist the previous
        # batch's pin (localCheckpoint blocks have no public release short
        # of dropping every persistent RDD). The pinned frame is 2L-1
        # segment structs per request — request-bounded, never corpus data.
        seg_src = seg_src.persist()
        if _barrier_sink is not None:
            _barrier_sink.append(seg_src)
        interior_req = (
            seg_src.select(
                request_id_col, *keys, F.explode("__segs").alias("__seg")
            )
            # empty-segment sentinel is lo=0, hi=-1; filter BEFORE the
            # sequence explode (a descending sequence counts down)
            .filter(F.col("__seg.hi") >= F.col("__seg.lo"))
            .select(
                request_id_col,
                *keys,
                F.col("__seg.g").alias("__g"),
                F.explode(
                    F.sequence(F.col("__seg.lo"), F.col("__seg.hi"))
                ).alias("__b"),
                F.lit("t").alias("__kind"),
                F.lit(None).cast("long").alias("__lo"),
                F.lit(None).cast("long").alias("__rts"),
            )
        )
    # edge buckets: the (≤2) partially-covered FINE buckets at the bounds.
    # Interior-covered edges are masked BEFORE the explode (when → null,
    # array_distinct collapses a kept duplicate, array_compact drops the
    # nulls, exploding an empty array emits no row) — one Dataset creation
    # instead of the old select→filter→select chain (r12: driver-side
    # analysis is the small-batch serving floor).
    def _edge(e: str) -> str:
        return f"CASE WHEN {e} < __b_first OR {e} > __b_last THEN {e} END"

    edge_req = req.selectExpr(
        rid_q,
        *keys_q,
        f"CAST({g} AS BIGINT) as __g",
        "explode(array_compact(array_distinct(array("
        f"{_edge(_fs('__lo', g))}, {_edge(_fs('__rts', g))}"
        ")))) as __b",
        "'r' as __kind",
        "__lo",
        "__rts",
    )
    probe = interior_req.unionByName(edge_req)

    contrib = state.join(
        F.broadcast(probe), keys + ["__g", "__b", "__kind"]
    ).filter("__kind = 't' OR (__ets >= __lo AND __ets <= __rts)")
    agg = contrib.groupBy(request_id_col).agg(
        F.sum("__cnt").alias("cnt"),
        F.sum("__cents").alias("cents"),
        F.min("__min").alias("vmin"),
        F.max("__max").alias("vmax"),
    )
    # a broadcast left join re-attaches zero-match requests; measured
    # FASTER than the union-a-zero-row-per-request alternative (the union
    # widens the agg input to the full shuffle width and defeats the
    # small-exchange coalesce)
    combined = req.selectExpr(rid_q, *keys_q).join(
        F.broadcast(agg), request_id_col, "left"
    )
    return combined.selectExpr(
        rid_q,
        *keys_q,
        "coalesce(cnt, 0) as cnt",
        # 100.0D: a bare 100.0 literal is DECIMAL in Spark SQL — the result
        # must stay DOUBLE to match the Column-algebra form bit-for-bit
        "CASE WHEN coalesce(cnt, 0) > 0 THEN coalesce(cents, 0) END / 100.0D"
        " as sum_value",
        "vmin as min_value",
        "vmax as max_value",
    )


def estimate_rows_per_key_window(
    events: DataFrame, key_cols: str | list[str], ts_col: str, frame: RangeFrame
) -> float:
    """Expected raw rows inside one (key, window) — the quantity that
    decides naive vs tiled serving. ONE aggregation pass: total rows,
    approx distinct keys (one-pass HLL — never a distinct shuffle), event-
    time span; density ≈ rows/keys × window/span."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    row = events.agg(
        F.count("*").alias("n"),
        F.approx_count_distinct(F.struct(*keys)).alias("k"),
        F.min(ts_col).alias("lo"),
        F.max(ts_col).alias("hi"),
    ).collect()[0]
    if not row["n"] or row["lo"] is None:
        return 0.0
    span = max((row["hi"] - row["lo"]).total_seconds() * 1_000_000, 1.0)
    w = min(float(frame.micros), span)
    return (row["n"] / max(row["k"], 1)) * (w / span)


def auto_feature_service(
    events: DataFrame,
    key_cols: str | list[str],
    ts_col: str,
    value_col: str,
    frame: RangeFrame,
    granularity: str = "1 minute",
    threshold: float = 512.0,
):
    """Pick the serving plan by MEASURED key density (SCALING.md's request-
    serving table): below ``threshold`` expected rows per key-window the
    naive union+window plan wins (one shuffle, per-key sorts over few rows);
    above it the tiled plan's O(window/granularity + edges) per-request cost
    beats the naive path's O(rows-in-window) sort. Returns a duck-typed
    service (``lookup``/``get_features``) answering COUNT / SUM / MIN / MAX
    over [ts - W, ts]; both plans are exact and bit-identical
    (tests/test_tiles.py), so the choice is purely a cost call — inspect it
    via ``.chosen`` / ``.est_rows_per_key_window``.

    When the tiled plan wins AND the window spans many fine buckets
    (window/granularity > ``ladder_threshold``), the service builds a tile
    LADDER instead of a flat level — successive ×60-ish steps up to the
    window scale — so the per-request probe stays O(Σ level branching +
    W/g_max) no matter how long the window (`cover_buckets`); inspect the
    chosen levels via ``.granularities``.
    """
    from volga_spark.operators.request import FeatureService, masked

    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    density = estimate_rows_per_key_window(events, keys, ts_col, frame)
    ladder_threshold = 256
    if density >= threshold:
        g = interval_to_micros(granularity)
        levels = [granularity]
        gm = g
        # climb in ×60 steps (minute→hour→2.5d…) while a level still spans
        # ≥4 buckets of the window — the classic time-hierarchy ladder
        while frame.micros // gm > ladder_threshold:
            gm *= 60
            if frame.micros // gm >= 4:
                # render in µs: exact for ANY base granularity (a
                # sub-minute base × 60 is not a whole minute — rounding
                # to minutes built a '0 minutes' level and div-by-zero'd
                # the ladder's divisibility check)
                levels.append(f"{gm} microseconds")
        ladder = levels if len(levels) > 1 else None
        svc = TiledFeatureService(
            events.select(*keys, ts_col, value_col),
            (
                build_tiles(events, keys, ts_col, value_col, granularity)
                if ladder is None
                else build_tile_ladder(events, keys, ts_col, value_col, ladder)
            ),
            key_cols=keys,
            ts_col=ts_col,
            value_col=value_col,
            frame=frame,
            granularity=granularity,
            granularities=ladder,
        )
        svc.chosen = "tiled"
    else:

        def agg_builder(w):
            mv = masked(value_col)
            return {
                "cnt": F.count(mv).over(w),
                "sum_value": (
                    F.sum(F.round(mv * 100).cast("long")).over(w) / F.lit(100.0)
                ),
                "min_value": F.min(mv).over(w),
                "max_value": F.max(mv).over(w),
            }

        svc = FeatureService(
            events.select(*keys, ts_col, value_col),
            key_cols=keys,
            ts_col=ts_col,
            frame=frame,
            agg_builder=agg_builder,
        )
        svc.chosen = "naive"
    svc.est_rows_per_key_window = density
    return svc
