"""ROWS-frame request serving from a block-decomposed position index —
the scale path for the reference's own request-benchmark shape
(``ROWS 10000 PRECEDING``, plain MIN/MAX, ExecutionMode::Request —
reference src/runtime/tests/window_operator_benchmark.rs:609-612).

Why not a plain Spark window: Spark's sliding-frame evaluation rebuilds
the aggregate buffer over the whole frame for every row (no retraction),
so ``RANGE BETWEEN -(N-1) AND 0`` over the position axis costs O(n·N) —
measured 4.4s per 200k-row batch at N=10000 vs 0.26s at N=10 (r13,
profile_rows_serving.py, in git history at fa9af1b). The reference
instead PLANS each virtual point against per-bucket row counts
(``bucket_span_for_rows_window``, src/storage/index/bucket_index.rs:297-327)
and loads just enough raw buckets. The Spark-first equivalent
pre-computes, once per (state, N), for each value column:

  - ``rn``: the (ts, tiebreak) row position per key (the reference's
    ``__seq_no`` cursor order),
  - running count (and, for the sum-bearing single-column API, a running
    cents sum) — GROWING frames, which Spark accumulates in O(n),
  - block id ``blk = (rn-1) div N`` and per-(key, block) PREFIX min/max
    (from block start) plus SUFFIX min/max (to block end) — also growing
    frames after a per-block sort.

A trailing window of N rows ending at position p starts at l = max(1,
p-N+1) and, with block size exactly N, either starts AT a block boundary
(then ``prefix[p]`` covers [l, p] alone) or spans exactly one boundary
(then the answer is ``least(suffix[l], prefix[p])``) — the classic
two-block sliding-RMQ decomposition. Sums/counts are cumulative
differences: ``cum[p] - cum[l-1]``. Every per-request aggregate is
therefore O(1) after an as-of position assignment, and the whole lookup
is native JVM: one union-window pass for the as-of (requests never
consume positions — they ride the (ts, flag, rn) sort after co-timestamped
state, matching the reference's Cursor(ts, u64::MAX) seek), one
broadcast-probed equi-join fetching the l-row, one re-attach join.

At 100 TB the index build is the same one hash shuffle the write-path
window does; lookups scale with (index + batch) like the RANGE tile
path, not with N.

SUM semantics note: the index sums via the engine-wide cents rule (exact
for 2-decimal feature values, the same contract as the RANGE tile path).
Cumulative-difference float sums are NOT the same floating-point object as
a per-frame sum, so the SQL front end (``PipelineSpec``'s request mode)
serves every frame through the virtual-point sweep instead.

Keys join NULL-safe everywhere (``eqNullSafe`` in the probes,
``partitionBy`` in the build and the union as-of): a NULL-key request reads
the NULL-key state, like the sweep and the write path's ``PARTITION BY``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from volga_spark.caching import pin, release_checkpoint_ids
from volga_spark.operators.request import request_frame
from volga_spark.operators.window import RowsFrame

# ops the generic index lookup can answer; "sum" reads the cents columns
INDEX_OPS = ("count", "sum", "min", "max")

# the auto bucket granularity splits the state's time span into this many
# buckets (the carry summary is keys × buckets rows)
TARGET_BUCKETS = 1024


def _st_cols(n_cols: int) -> list[str]:
    """The per-column cumulative/prefix columns a position p's answer needs."""
    parts = ("__ccnt", "__csum", "__pmin", "__pmax")
    return [f"{c}{i}" for i in range(n_cols) for c in parts]


def _bucket_micros(bucket: int | str | None) -> int | None:
    """``"auto"`` → None (builder picks from the state span), interval
    string → micros, int → micros as-is."""
    if bucket is None or bucket == "auto":
        return None
    if isinstance(bucket, str):
        from volga_spark.operators.window import interval_to_micros

        return interval_to_micros(bucket)
    return int(bucket)


def _null_safe_on(keys: list[str], prefix: str, pos: str, probe_pos: str):
    """Join condition of an index-side frame (``keys``, ``pos``) with a
    probe frame carrying ``prefix``-renamed keys and ``probe_pos``: keys
    compare with ``eqNullSafe``, so NULL keys match each other as they
    group under ``partitionBy``. Still a hash equi-join for the planner."""
    cond = F.col(pos) == F.col(probe_pos)
    for k in keys:
        cond = cond & F.col(k).eqNullSafe(F.col(f"{prefix}{k}"))
    return cond


def _bkt(ts_col: str, bucket_micros: int):
    """Time bucket id with exact FLOOR division (negative-epoch safe)."""
    from volga_spark.operators.tiles import fdiv

    return fdiv(F.unix_micros(F.col(ts_col).cast("timestamp")), bucket_micros)


def _ts_bounds(df: DataFrame, ts_col: str) -> tuple[int | None, int | None]:
    """(min, max) event time in micros — one 1-row aggregate job; both None
    for an empty frame."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    mm = df.agg(F.min(us).alias("lo"), F.max(us).alias("hi")).collect()[0]
    return mm["lo"], mm["hi"]


def _auto_bucket_micros(lo: int | None, hi: int | None, target_buckets: int) -> int:
    return max((hi - lo) // target_buckets, 1) if lo is not None else 1


def build_rows_bucket_summary(
    index: DataFrame,
    key_cols: str | list[str],
    ts_col: str,
    value_cols: str | list[str],
    bucket_micros: int | None = None,
    target_buckets: int = TARGET_BUCKETS,
    max_buckets: int = 1 << 20,
) -> tuple[DataFrame, int, int]:
    """Dense per-(key, bucket) carry summary over a rows index — the
    Spark-first analogue of the reference's bucket index with per-bucket
    row counts (``bucket_span_for_rows_window``,
    src/storage/index/bucket_index.rs:297-327). For every key and every
    time bucket from the key's first state row to the GLOBAL last bucket,
    one row carries the newest position at-or-before the bucket's end (rn
    + its cumulative/prefix values). The bucketed lookup strategy then
    answers any as-of with two EQUALITY joins (no per-batch global sort):
    an in-bucket edge probe plus this summary at bucket-1.

    Returns ``(summary, bucket_micros, gmax)``; pass the tuple as
    ``summary=`` to :func:`rows_index_lookup`. Summary size is
    keys × buckets — ``target_buckets`` sizes the auto granularity;
    ``max_buckets`` guards a too-fine explicit ``bucket_micros``.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    cols = [value_cols] if isinstance(value_cols, str) else list(value_cols)
    lo, hi = _ts_bounds(index, ts_col)
    if bucket_micros is None:
        bucket_micros = _auto_bucket_micros(lo, hi, target_buckets)
    return _bucket_summary(
        index, keys, ts_col, _st_cols(len(cols)), lo, hi, bucket_micros,
        max_buckets,
    )


def _bucket_summary(
    index: DataFrame,
    keys: list[str],
    ts_col: str,
    stc: list[str],
    lo: int | None,
    hi: int | None,
    bucket_micros: int,
    max_buckets: int = 1 << 20,
) -> tuple[DataFrame, int, int]:
    """:func:`build_rows_bucket_summary` over known state time bounds."""
    if lo is None:  # empty state: any request resolves to p=0
        empty = (
            index.limit(0)
            .select(*keys, F.lit(0).cast("long").alias("__bkt"), "__rn", *stc)
        )
        return empty, bucket_micros, 0
    span = hi - lo
    if span // bucket_micros + 1 > max_buckets:
        raise ValueError(
            f"rows bucket summary would span {span // bucket_micros + 1} "
            f"buckets (> {max_buckets}); coarsen bucket_micros"
        )
    gmax = hi // bucket_micros  # Python // floors, negative-safe
    per = (
        index.withColumn("__bkt", _bkt(ts_col, bucket_micros))
        .groupBy(*keys, "__bkt")
        .agg(
            F.max_by(F.struct("__rn", *stc), F.col("__rn")).alias("__sm")
        )
    )
    lead_w = W.partitionBy(*keys).orderBy("__bkt")
    dense = (
        per.withColumn(
            "__next", F.coalesce(F.lead("__bkt").over(lead_w), F.lit(gmax + 1))
        )
        .select(
            *keys,
            F.col("__sm"),
            F.explode(
                F.sequence(F.col("__bkt"), F.col("__next") - 1)
            ).alias("__bkt"),
        )
        .select(
            *keys,
            "__bkt",
            F.col("__sm.__rn").alias("__rn"),
            *[F.col(f"__sm.{c}").alias(c) for c in stc],
        )
    )
    return dense, bucket_micros, gmax


def build_rows_index(
    events: DataFrame,
    key_cols: str | list[str],
    ts_col: str,
    value_cols: str | list[str],
    preceding: int,
    tiebreak: str | list[str] | None = None,
) -> DataFrame:
    """Positioned + block-decomposed state for trailing-``preceding``-row
    lookups over one or more value columns. One hash shuffle on the key;
    three in-partition sorted window passes shared by every column, all
    GROWING frames (O(n)). The block size equals ``preceding`` — the index
    is frame-specific, like the reference's per-window state.
    """
    if preceding < 1:
        raise ValueError("rows index needs preceding >= 1")
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    ties = [tiebreak] if isinstance(tiebreak, str) else list(tiebreak or [])
    cols = [value_cols] if isinstance(value_cols, str) else list(value_cols)
    w_rn = W.partitionBy(*keys).orderBy(F.col(ts_col), *[F.col(t) for t in ties])
    base_sel = [
        *keys,
        ts_col,
        *cols,
        # the block decomposition is only valid for THIS preceding count;
        # the metadata lets lookups fail loudly on a mismatched index
        F.row_number()
        .over(w_rn)
        .alias("__rn", metadata={"rows_index_preceding": preceding}),
    ]
    df = events.select(*base_sel).withColumn(
        "__blk", F.expr(f"(__rn - 1) div {preceding}")
    )
    grow = W.partitionBy(*keys).orderBy("__rn").rowsBetween(W.unboundedPreceding, 0)
    pref = (
        W.partitionBy(*keys, "__blk")
        .orderBy("__rn")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    suff = (
        W.partitionBy(*keys, "__blk")
        .orderBy(F.col("__rn").desc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    out = [*keys, ts_col, F.col("__rn")]
    for i, c in enumerate(cols):
        v = F.col(c)
        # __nn: the row's own count contribution — used at lookup to turn
        # cum(l) into cum(l-1). A float NaN state value fails LOUDLY in
        # the cents cast below (ANSI overflow) — the same posture as every
        # other cents path (tiles.py) and the native masked() sum.
        out.append(v.isNotNull().cast("int").alias(f"__nn{i}"))
        out.append(F.count(c).over(grow).alias(f"__ccnt{i}"))
        cents = F.round(v * 100).cast("long")
        out.append(cents.alias(f"__cents{i}"))
        out.append(F.sum(cents).over(grow).alias(f"__csum{i}"))
        out.append(F.min(c).over(pref).alias(f"__pmin{i}"))
        out.append(F.max(c).over(pref).alias(f"__pmax{i}"))
        out.append(F.min(c).over(suff).alias(f"__smin{i}"))
        out.append(F.max(c).over(suff).alias(f"__smax{i}"))
    return df.select(*out)


def rows_index_lookup(
    index: DataFrame,
    requests: DataFrame,
    key_cols: str | list[str],
    ts_col: str,
    value_cols: str | list[str],
    frame: RowsFrame,
    outputs: list[tuple[str, str, str | None]],
    request_id_col: str = "request_id",
    summary: tuple[DataFrame, int, int] | None = None,
) -> DataFrame:
    """Generic index probe: each ``(alias, op, column)`` in ``outputs``
    (op in :data:`INDEX_OPS`) is answered over the last ``frame.preceding``
    state rows at-or-before each request's (ts, tiebreak) cursor — the
    virtual point consuming the current-row slot, never a stored position
    (reference plain_points.rs:345-370).

    Two as-of strategies: without ``summary``, one union-window pass sorts
    state ∪ batch per lookup (simple, O((S+B)·log) per batch); with a
    :func:`build_rows_bucket_summary` tuple, the as-of is two EQUALITY
    joins (in-bucket edge probe + previous-bucket carry summary — the
    reference's bucket-index seek), so no per-batch global sort of state
    and per-batch join work is O(B × bucket occupancy)."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    cols = [value_cols] if isinstance(value_cols, str) else list(value_cols)
    n = frame.preceding
    for alias, op, c in outputs:
        if op not in INDEX_OPS:
            raise ValueError(f"rows index cannot answer {op!r} ({alias})")
    try:
        built_n = index.schema["__rn"].metadata.get("rows_index_preceding")
    except Exception:  # noqa: BLE001 — metadata is best-effort (old indexes)
        built_n = None
    if built_n is not None and built_n != n:
        raise ValueError(
            f"index was built for ROWS {built_n} PRECEDING, lookup asked for "
            f"{n} — the block decomposition is frame-specific; rebuild"
        )
    st_cols = _st_cols(len(cols))

    if summary is None:
        # --- as-of over the (ts, flag, rn)-sorted union --------------------
        # The p-row's index values ride ONE struct that is non-null exactly
        # on state rows: carrying the columns separately through
        # last(ignorenulls=True) is WRONG — __pmin/__pmax are legitimately
        # NULL on a state row whose block-prefix is all null VALUES, and the
        # null-skip would land on an older row's prefix (possibly a previous
        # block), silently widening the frame (r13 fuzzer find, seed 24).
        dt = dict(index.dtypes)
        st_fields = []
        for c in st_cols:
            st_fields.append(f"{c}:{dt[c]}")
        st_type = "struct<" + ",".join(st_fields) + ">"
        s = index.select(
            *keys,
            ts_col,
            "__rn",
            F.struct(*st_cols).alias("__st"),
            F.lit(0).alias("__flag"),
            F.lit(None).cast("long").alias(request_id_col),
        )
        r = requests.select(
            *keys,
            ts_col,
            F.lit(None).cast("int").alias("__rn"),
            F.lit(None).cast(st_type).alias("__st"),
            F.lit(1).alias("__flag"),
            F.col(request_id_col).cast("long"),
        )
        asof = (
            W.partitionBy(*keys)
            .orderBy(F.col(ts_col), F.col("__flag"), F.col("__rn"))
            .rowsBetween(W.unboundedPreceding, 0)
        )
        # max(rn) = the newest state position at-or-before; the struct rides
        # the same frame, and the sort's rn tiebreak makes "last state row"
        # == "row at max rn"
        reqp = (
            s.unionByName(r)
            .select(
                *keys,
                ts_col,
                F.col(request_id_col),
                F.col("__flag"),
                F.coalesce(F.max("__rn").over(asof), F.lit(0)).alias("__p"),
                F.last("__st", ignorenulls=True).over(asof).alias("__stp"),
            )
            .filter(F.col("__flag") == 1)
            .drop("__flag")
        )
    else:
        # --- bucketed as-of: two equality joins, no per-batch state sort ---
        # part A seeks the request's own (high-clamped) bucket and takes the
        # newest at-or-before row in it; part B reads the dense carry
        # summary at bucket-1. A wins whenever it matches (its positions
        # are strictly newer); requests before a key's first bucket miss
        # both joins and resolve to the empty frame.
        sm, g_micros, gmax = summary
        rq = requests.select(
            F.col(request_id_col).cast("long"), *keys, ts_col
        ).withColumn(
            "__abkt", F.least(_bkt(ts_col, g_micros), F.lit(gmax))
        )
        # a pinned index that already carries __bkt (service builds at a
        # known granularity) skips the per-row timestamp arithmetic on the
        # per-batch scan
        ib = (
            index
            if "__bkt" in index.columns
            else index.withColumn("__bkt", _bkt(ts_col, g_micros))
        )
        prq = rq.select(
            request_id_col,
            *[F.col(k).alias(f"__rk_{k}") for k in keys],
            F.col(ts_col).alias("__rts"),
            "__abkt",
        )
        cond = _null_safe_on(keys, "__rk_", "__bkt", "__abkt") & (
            F.col(ts_col) <= F.col("__rts")
        )
        pa = (
            ib.join(F.broadcast(prq), cond)
            .groupBy(request_id_col)
            .agg(
                F.max("__rn").alias("__pa"),
                F.max_by(F.struct(*st_cols), F.col("__rn")).alias("__sta"),
            )
        )
        pb = sm.join(
            F.broadcast(
                rq.select(
                    request_id_col,
                    *[F.col(k).alias(f"__rk_{k}") for k in keys],
                    (F.col("__abkt") - 1).alias("__rbkt"),
                )
            ),
            _null_safe_on(keys, "__rk_", "__bkt", "__rbkt"),
        ).select(
            request_id_col,
            F.col("__rn").alias("__pb"),
            F.struct(*st_cols).alias("__stb"),
        )
        reqp = (
            rq.drop("__abkt")
            .join(F.broadcast(pa), request_id_col, "left")
            .join(F.broadcast(pb), request_id_col, "left")
            .select(
                *keys,
                ts_col,
                F.col(request_id_col),
                F.coalesce("__pa", "__pb", F.lit(0)).alias("__p"),
                F.when(F.col("__pa").isNotNull(), F.col("__sta"))
                .otherwise(F.col("__stb"))
                .alias("__stp"),
            )
        )

    reqp = reqp.select(
        "*",
        *[F.col(f"__stp.{c}").alias(f"{c}_p") for c in st_cols],
    ).drop("__stp")

    # --- ONE l-row probe carries the p-side fields through ---------------
    # The frame-start (l-row) fetch broadcasts the WHOLE request-position
    # frame (batch-sized) into one index equi-join; every p-side value
    # rides the probe, and requests with an empty frame are recovered by a
    # left join from the RAW request input. reqp therefore has exactly ONE
    # consumer — the earlier shape (probe + a second reqp ⋈ lrow join)
    # re-executed the entire as-of (the union window, or part A's index
    # probe + part B) once per consumer (r13 plan audit).
    # A p>0 request always matches exactly one l-row (positions are dense
    # 1..max per key, l ≤ p); a p=0 request either matches the key's first
    # row spuriously (gated by `empty` below) or, for a key with no state,
    # misses and is recovered with NULL fields by the left join.
    probe = reqp.select(
        request_id_col,
        *[F.col(k).alias(f"__rk_{k}") for k in keys],
        (F.greatest(F.col("__p") - n, F.lit(0)) + 1).alias("__l"),
        "__p",
        *[f"{c}_p" for c in st_cols],
    )
    fsel = [
        F.col(request_id_col),
        F.col("__p"),
        F.col("__l"),
        *[F.col(f"{c}_p") for c in st_cols],
    ]
    for i in range(len(cols)):
        fsel.append(F.col(f"__smin{i}").alias(f"__smin{i}_l"))
        fsel.append(F.col(f"__smax{i}").alias(f"__smax{i}_l"))
        # cum at l-1 = cum at l minus the l-row's own contribution
        fsel.append((F.col(f"__ccnt{i}") - F.col(f"__nn{i}")).alias(f"__cntl1_{i}"))
        fsel.append(
            (
                F.col(f"__csum{i}") - F.coalesce(F.col(f"__cents{i}"), F.lit(0))
            ).alias(f"__csuml1_{i}")
        )
    fetched = index.join(
        F.broadcast(probe), _null_safe_on(keys, "__rk_", "__rn", "__l")
    ).select(*fsel)
    base_req = requests.select(
        F.col(request_id_col).cast("long"), *keys, ts_col
    )
    out = base_req.join(F.broadcast(fetched), request_id_col, "left")

    same_blk = F.expr(f"((__l - 1) div {n}) = ((__p - 1) div {n})")
    empty = F.col("__p").isNull() | (F.col("__p") == 0)
    exprs = []
    for alias, op, c in outputs:
        i = cols.index(c)
        cnt = F.when(empty, F.lit(0)).otherwise(
            F.col(f"__ccnt{i}_p") - F.coalesce(F.col(f"__cntl1_{i}"), F.lit(0))
        )
        if op == "count":
            exprs.append(cnt.cast("long").alias(alias))
        elif op == "sum":
            cents = F.col(f"__csum{i}_p") - F.coalesce(
                F.col(f"__csuml1_{i}"), F.lit(0)
            )
            exprs.append((F.when(cnt > 0, cents) / F.lit(100.0)).alias(alias))
        elif op == "min":
            mn = F.when(same_blk, F.col(f"__pmin{i}_p")).otherwise(
                F.least(F.col(f"__smin{i}_l"), F.col(f"__pmin{i}_p"))
            )
            exprs.append(F.when(~empty & (cnt > 0), mn).alias(alias))
        else:  # max
            mx = F.when(same_blk, F.col(f"__pmax{i}_p")).otherwise(
                F.greatest(F.col(f"__smax{i}_l"), F.col(f"__pmax{i}_p"))
            )
            exprs.append(F.when(~empty & (cnt > 0), mx).alias(alias))
    return out.select(request_id_col, *keys, *exprs)


def rows_lookup(
    events: DataFrame,
    requests: DataFrame,
    key_cols: str | list[str],
    ts_col: str,
    value_col: str,
    frame: RowsFrame,
    request_id_col: str = "request_id",
    tiebreak: str | list[str] | None = None,
    index: DataFrame | None = None,
    bucket: int | str | None = None,
) -> DataFrame:
    """COUNT/SUM(cents)/MIN/MAX over the last ``frame.preceding`` state
    rows at-or-before each request's (ts, tiebreak) cursor. Same output
    contract as the RANGE ``tiled_lookup``: request_id, keys, cnt /
    sum_value / min_value / max_value. Pass a prebuilt ``index`` (see
    :class:`RowsFeatureService`) to skip the per-call index build;
    ``bucket`` ("auto", an interval string, or micros) switches the as-of
    to the bucketed two-join strategy (summary built per call — prefer the
    service for repeated lookups)."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if index is None:
        index = build_rows_index(
            events, keys, ts_col, value_col, frame.preceding, tiebreak=tiebreak
        )
    summary = None
    if bucket is not None:
        summary = build_rows_bucket_summary(
            index, keys, ts_col, [value_col], bucket_micros=_bucket_micros(bucket)
        )
    return rows_index_lookup(
        index,
        requests,
        keys,
        ts_col,
        [value_col],
        frame,
        outputs=[
            ("cnt", "count", value_col),
            ("sum_value", "sum", value_col),
            ("min_value", "min", value_col),
            ("max_value", "max", value_col),
        ],
        request_id_col=request_id_col,
        summary=summary,
    )


def pin_rows_index(
    events: DataFrame,
    key_cols: str | list[str],
    ts_col: str,
    value_cols: str | list[str],
    preceding: int,
    tiebreak: str | list[str] | None = None,
    bucket: int | str | None = None,
) -> tuple[DataFrame, tuple[DataFrame, int, int] | None, set[int]]:
    """Build and pin a serving index: :func:`build_rows_index`, plus — when
    ``bucket`` is set ("auto", an interval string, or micros) — the bucket
    id baked into the pinned index (the per-batch in-bucket probe then
    scans without timestamp arithmetic) and its pinned
    :func:`build_rows_bucket_summary`. The state's time bounds are read in
    ONE aggregate over ``events`` and shared by the auto granularity and
    the summary. Returns ``(index, summary or None, pin rdd ids)``; release
    the ids with ``caching.release_checkpoint_ids``."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    cols = [value_cols] if isinstance(value_cols, str) else list(value_cols)
    index = build_rows_index(events, keys, ts_col, cols, preceding, tiebreak)
    if bucket is None:
        index, rid = pin(index)
        return index, None, {rid}
    lo, hi = _ts_bounds(events, ts_col)
    g = _bucket_micros(bucket)
    if g is None:
        g = _auto_bucket_micros(lo, hi, TARGET_BUCKETS)
    index, rid = pin(index.withColumn("__bkt", _bkt(ts_col, g)))
    sm, g, gmax = _bucket_summary(
        index, keys, ts_col, _st_cols(len(cols)), lo, hi, g
    )
    sm, sid = pin(sm)
    return index, (sm, g, gmax), {rid, sid}


class RowsFeatureService:
    """Request serving over a pinned ROWS-frame position index — the
    counterpart of :class:`~volga_spark.operators.tiles.TiledFeatureService`
    for ``ROWS N PRECEDING`` lookups (the reference request benchmark's
    frame). Builds and pins the index once (:func:`pin_rows_index`: plan
    truncation + block-cache pin, the r12 serving-floor recipe), and
    answers batches through :func:`rows_index_lookup`. Duck-typed to
    ``FeatureService`` (lookup / get_features / key_cols / ts_col), so the
    HTTP ``FeatureServer`` serves it unchanged."""

    def __init__(
        self,
        events: DataFrame,
        key_cols,
        ts_col: str,
        value_col: str,
        frame: RowsFrame,
        tiebreak: str | list[str] | None = None,
        bucket: int | str | None = None,
    ):
        if not isinstance(frame, RowsFrame):
            raise ValueError(
                "RowsFeatureService serves ROWS frames; use "
                "TiledFeatureService / FeatureService for RANGE lookups"
            )
        self.key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
        self.ts_col = ts_col
        self.value_col = value_col
        self.frame = frame
        self._tiebreak = tiebreak
        self._bucket = bucket
        self._build(events)

    def _build(self, events: DataFrame) -> None:
        self._index, self._summary, self._ckpt_ids = pin_rows_index(
            events,
            self.key_cols,
            self.ts_col,
            self.value_col,
            self.frame.preceding,
            self._tiebreak,
            bucket=self._bucket,
        )

    def refresh(self, events: DataFrame) -> None:
        """Swap in a new state snapshot (the streaming write path's latest
        upsert) without replacing the service object — the HTTP
        ``FeatureServer`` keeps serving through the swap. Rebuilds and
        pins the index (+ summary), then releases the OLD pins: callers
        holding LIVE DataFrames from pre-refresh lookups fail loudly
        (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND), the engine-wide eager-pin
        contract; ``materialize=True`` results are data and stay valid."""
        old = self._ckpt_ids
        self._build(events)
        self._release(old)

    def _release(self, ids: set[int]) -> None:
        release_checkpoint_ids(self._index.sparkSession.sparkContext, ids)

    def lookup(
        self,
        requests: DataFrame,
        request_id_col: str = "request_id",
        materialize: bool = False,
    ):
        c = self.value_col
        out = rows_index_lookup(
            self._index,
            requests,
            self.key_cols,
            self.ts_col,
            [c],
            self.frame,
            outputs=[
                ("cnt", "count", c),
                ("sum_value", "sum", c),
                ("min_value", "min", c),
                ("max_value", "max", c),
            ],
            request_id_col=request_id_col,
            summary=self._summary,
        )
        return out.toArrow() if materialize else out

    def get_features(self, spark, points: list[tuple]) -> list[dict]:
        if not points:
            return []
        cols = ["request_id", *self.key_cols, self.ts_col]
        req = request_frame(spark, points, cols)
        return self.lookup(req, materialize=True).to_pylist()

    def close(self) -> None:
        self._release(self._ckpt_ids)
        self._ckpt_ids = set()
