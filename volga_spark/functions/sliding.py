"""Per-key sliding sweep for cate/top window UDAFs (batch path).

The reference evaluates these UDAFs inside its WindowOperator with
retractable accumulators advanced along the (ts, seq_no) cursor (reference
src/runtime/operators/window/exec/advance.rs). The idiomatic Spark batch
equivalent for UDAFs Catalyst can't express is ``applyInPandas`` per
partition key: each group arrives as one Arrow batch, we sort by event time
and run a two-pointer sweep — every row added once and retracted once, so a
group of n rows costs O(n · cost(acc)) regardless of window length (same
incremental property as the reference's retractable design, without its
tiling because nothing is ever rescanned).

Scale notes:
- The shuffle is the same hash-partition-by-key a groupBy would do.
- A single hot key must fit in one task's memory; for 100 TB skewed keys,
  pre-split by (key, coarse time bucket) with window-length overlap, sweep
  each bucket, and drop the warm-up rows — the operator below accepts
  pre-bucketed input via ``partition_by`` for exactly that.
- Condition/category expressions are evaluated JVM-side *before* the sweep
  (they arrive as materialized columns), so Python only does accumulator
  arithmetic on Arrow-transferred columns.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from volga_spark._pickle import register_by_value
from volga_spark.operators.window import Frame, RangeFrame, interval_to_micros


def _self_contained_udfs() -> None:
    """Pickle our accumulator/format modules by value so executor Python
    workers don't need volga_spark on their sys.path (the driver may import
    this repo from an arbitrary location)."""
    import volga_spark.formatting
    import volga_spark.functions.accumulators
    import volga_spark.functions.cate_top
    import volga_spark.functions.sliding

    register_by_value(volga_spark.formatting, volga_spark.functions.accumulators,
                      volga_spark.functions.cate_top, volga_spark.functions.sliding)


def quote(name: str) -> str:
    """``name`` as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


# SlidingSpec.out_type -> the pandas dtype its sweep column is built with
_PANDAS_DTYPES = {"double": "float64", "bigint": "Int64"}


@dataclass
class SlidingSpec:
    """One output column: an accumulator factory + its input column names.

    ``inputs`` name columns of the prepared DataFrame; the accumulator's
    add/retract receive them positionally. ``out_type`` is a Spark SQL type
    string ("string" or "double").
    """

    name: str
    factory: Callable[[], object]
    inputs: list[str]
    out_type: str = "string"
    # result() by default; override e.g. lambda acc: acc.top1_ratio()
    finish: Callable[[object], object] | None = None


def apply_sliding_aggs(
    df: DataFrame,
    partition_by: str | list[str],
    order_by: str,
    frame: Frame | None = None,
    specs: list[SlidingSpec] | None = None,
    *,
    passthrough: list[str],
    prepared: dict[str, Column] | None = None,
    tiebreak: str | list[str] | None = None,
    bucket_by: str | None = None,
    assume_partitioned: bool = False,
    request_col: str | None = None,
    n_parts: int | None = None,
    groups: list[tuple[Frame, list[SlidingSpec]]] | None = None,
) -> DataFrame:
    """Compute all ``specs`` over the sliding frame, one row per input row.

    ``prepared`` maps extra input column names to Spark expressions (e.g.
    cond booleans, integer-scaled values) evaluated JVM-side first.
    Returns ``passthrough`` columns + one column per spec.

    ``groups``: several ``(frame, specs)`` pairs over the same
    ``(partition_by, order_by)``, instead of ``frame``/``specs``. They share
    one repartition, one sort and one Python pass: each key group's columns
    reach numpy once and every frame sweeps those same arrays (the
    reference's WindowRequestOperator likewise evaluates all of a window's
    aggregates in one pass over the shared state). Output columns follow
    the groups' order.

    ``assume_partitioned``: skip the hash repartition when the caller knows
    the input is already hash-partitioned by exactly ``partition_by`` (e.g.
    a native Window on the same keys ran just upstream) — saves a full
    shuffle of the working set; rows are still sorted within partitions.

    ``bucket_by`` (RANGE frames only, e.g. "1 day", must be ≥ the frame
    length): the hot-key splitter for 100 TB scale. Each key's timeline is
    cut into time buckets processed as independent groups; rows within one
    frame-length before a bucket boundary are replicated into the next bucket
    as warm-up context (swept but not emitted). A single hot key then
    parallelizes across buckets and no task ever holds more than one bucket
    of rows — the batch analogue of the reference's time-bucketed state
    (reference src/storage/batch_store.rs:18-24).

    ``request_col``: request-mode evaluation at virtual points (reference
    window_request_operator.rs:110-120,
    aggregates/point_request_merge.rs). Rows where the column is 1 are
    *requests*: emitted but never added/retracted into the accumulators;
    rows where it is 0 are *state*: swept through the accumulators but not
    emitted. The result is each UDAF evaluated against the trailing window
    of state as of each request timestamp — same one-shuffle plan as the
    write path. For ROWS frames the request occupies the frame's
    current-row slot (no stored position), so its frame is the last
    ``preceding`` state rows at-or-before its cursor (reference
    plain_points.rs:345-370); pass ``tiebreak`` starting with the request
    flag so requests sort after state rows at equal ts.
    """
    _self_contained_udfs()
    if groups is None:
        if frame is None or specs is None:
            raise ValueError("apply_sliding_aggs needs frame and specs, or groups")
        groups = [(frame, specs)]
    elif frame is not None or specs is not None:
        raise ValueError("pass either frame/specs or groups, not both")
    specs = [s for _, g in groups for s in g]
    keys = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    ties = [tiebreak] if isinstance(tiebreak, str) else list(tiebreak or [])
    work = df
    for name, expr in (prepared or {}).items():
        work = work.withColumn(name, expr)

    # request_col + ROWS frames (r13): a virtual point consumes the frame's
    # CURRENT ROW slot but no stored position — the frame at a request is
    # the last ``preceding`` STATE rows at-or-before its (ts, tiebreak)
    # cursor (reference plan_rows_points / produce_aggregates_from_ranges,
    # plain_points.rs:183-262,345-370: stored_rows = window_size - 1 with
    # window_size = preceding + 1, bucket_index.rs:485-499). Handled by the
    # state-position ring in run_sweep_arrays; callers must tiebreak the
    # sort so request rows land AFTER state rows at equal ts (the
    # reference's last_row_le_ts_in_range seeks Cursor(ts, u64::MAX)).

    input_cols = sorted({c for s in specs for c in s.inputs})
    ts_col = "__ts_micros"
    extra = [request_col] if request_col is not None else []
    cols = list(dict.fromkeys(keys + passthrough + ties + input_cols + extra))
    # SQL text: no per-column py4j Column calls (request planning is per call)
    work = work.selectExpr(
        *map(quote, cols), f"unix_micros({quote(order_by)}) AS {ts_col}"
    )

    warm_col = "__warm"
    if bucket_by is not None:
        if not all(isinstance(f, RangeFrame) for f, _ in groups):
            raise ValueError("bucket_by requires a RANGE frame")
        # the longest frame's warm-up covers every shorter one
        wlen = max(f.micros for f, _ in groups)
        blen = interval_to_micros(bucket_by)
        if blen < wlen:
            raise ValueError("bucket_by must be >= the frame length")
        bucket = (F.col(ts_col) / F.lit(blen)).cast("long")
        main = work.withColumn("__bucket", bucket).withColumn(warm_col, F.lit(0))
        dup = (
            work.filter(F.col(ts_col) % F.lit(blen) >= F.lit(blen - wlen))
            .withColumn("__bucket", bucket + 1)
            .withColumn(warm_col, F.lit(1))
        )
        work = main.unionByName(dup)
        keys = keys + ["__bucket"]

    out_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in work.schema.fields
        if f.name in passthrough
    )
    spec_fields = ", ".join(f"`{s.name}` {s.out_type}" for s in specs)
    out_schema = f"{out_fields}, {spec_fields}"

    # per frame: (is_range, length, [(name, factory, inputs, finish)])
    sweeps = [
        (
            isinstance(f, RangeFrame),
            f.micros if isinstance(f, RangeFrame) else f.preceding,
            [(s.name, s.factory, s.inputs, s.finish) for s in g],
        )
        for f, g in groups
    ]
    array_cols = [ts_col, *input_cols]

    bucketed = bucket_by is not None
    # pandas dtype per spec column: a part whose values are all None would
    # otherwise infer object and make pd.concat warn (and, in a future
    # pandas, change the concatenated dtype)
    spec_dtypes = {
        s.name: _PANDAS_DTYPES.get(s.out_type, object) for s in specs
    }

    def sweep_one(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.reset_index(drop=True)
        emit = None
        add_mask = None
        if bucketed:
            emit = (pdf[warm_col] == 0).to_numpy()
        if request_col is not None:
            req = (pdf[request_col] == 1).to_numpy()
            add_mask = ~req
            emit = req if emit is None else (emit & req)
        cols = {c: pdf[c].to_numpy() for c in array_cols}
        outs = [
            vals
            for is_range, length, spec_data in sweeps
            for vals in run_sweep_arrays(
                cols, len(pdf), ts_col, is_range, length, spec_data,
                emit_mask=emit, add_mask=add_mask,
            )
        ]
        if emit is not None:
            pdf = pdf[emit]
            outs = [[v for v, m in zip(vals, emit) if m] for vals in outs]
        res = pdf[passthrough].copy()
        for spec, vals in zip(specs, outs):
            res[spec.name] = pd.Series(
                vals, index=res.index, dtype=spec_dtypes[spec.name]
            )
        return res

    # mapInPandas over key-sorted partitions instead of per-group
    # applyInPandas: one Python call per partition (not per key), which
    # matters when keys are many and small. Groups never span partitions
    # (hash repartition on keys); they can span Arrow batches, so incomplete
    # trailing groups are carried into the next batch.
    def gen(batches):
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                carry = None
                continue
            last_key = tuple(pdf.iloc[-1][k] for k in keys)
            mask_last = pd.Series(True, index=pdf.index)
            for k, v in zip(keys, last_key):
                # null-safe: NaN != NaN would split a null-key group
                mask_last &= (pdf[k] == v) if not pd.isna(v) else pdf[k].isna()
            carry = pdf[mask_last]
            done = pdf[~mask_last]
            if len(done):
                # request mode: groups without requests emit no rows
                parts = [
                    part
                    for _, g in done.groupby(keys, sort=False, dropna=False)
                    if len(part := sweep_one(g))
                ]
                if parts:
                    yield pd.concat(parts, ignore_index=True)
        if carry is not None and len(carry):
            yield sweep_one(carry)

    if not assume_partitioned:
        # explicit partition count: AQE's byte-based coalescing would fold a
        # "small" shuffle (100k rows ≈ a few MB) down to 1-2 partitions and
        # serialize the Python sweep on 2 cores — its 64MB advisory size
        # assumes JVM-speed consumers. Python-heavy stages need width ~ the
        # configured shuffle parallelism regardless of bytes. ``n_parts``
        # overrides per query (PipelineSpec.parallelism plumbs through here).
        if n_parts is None:
            n_parts = int(work.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        work = work.repartition(n_parts, *keys)
    work = work.sortWithinPartitions(*keys, ts_col, *ties)
    return work.mapInPandas(gen, schema=out_schema)


def run_sweep_arrays(
    cols: dict,
    n: int,
    ts_col: str,
    is_range: bool,
    length: int,
    spec_data: list[tuple],
    emit_mask=None,
    add_mask=None,
) -> list[list]:
    """Core two-pointer sweep over one key's already-sorted columns.

    ``cols`` maps column names to arrays of ``n`` rows; ``spec_data`` =
    [(name, factory, input_cols, finish)]. Returns one output list per
    spec, aligned with the rows. Shared by the batch sweep (once per frame
    over the same arrays) and the streaming stateful handler.

    ``emit_mask`` (bool array aligned with rows): rows with False are swept
    through the accumulators (they're window context) but their outputs are
    not materialized — result() formatting dominates sweep cost, so skipping
    it for warm-up/already-emitted rows matters.

    ``add_mask`` (bool array aligned with rows): rows with False never enter
    the accumulators (request-mode virtual points — they still anchor a
    window position and can emit).
    """
    ts = cols[ts_col]
    accs = [factory() for _, factory, _, _ in spec_data]
    arg_arrays = [[cols[c] for c in inputs] for _, _, inputs, _ in spec_data]
    outs: list[list] = [[None] * n for _ in spec_data]

    # arity-specialized row appliers: a genexpr `*(arr[i] for arr in arrs)`
    # allocates a generator per row per spec — at 100k rows x 3 specs that
    # is pure interpreter overhead (~30% of sweep time profiled)
    def _applier(fn, arrs):
        if len(arrs) == 1:
            a0 = arrs[0]
            return lambda i: fn(a0[i])
        if len(arrs) == 2:
            a0, a1 = arrs
            return lambda i: fn(a0[i], a1[i])
        if len(arrs) == 3:
            a0, a1, a2 = arrs
            return lambda i: fn(a0[i], a1[i], a2[i])
        return lambda i: fn(*(arr[i] for arr in arrs))

    adders = [_applier(a.add, arrs) for a, arrs in zip(accs, arg_arrays)]
    retractors = [_applier(a.retract, arrs) for a, arrs in zip(accs, arg_arrays)]

    def add(i):
        if add_mask is not None and not add_mask[i]:
            return
        for f in adders:
            f(i)

    def retract(i):
        if add_mask is not None and not add_mask[i]:
            return
        for f in retractors:
            f(i)

    def emit(i):
        if emit_mask is not None and not emit_mask[i]:
            return
        for k, (_, _, _, finish) in enumerate(spec_data):
            a = accs[k]
            outs[k][i] = finish(a) if finish else a.result()

    if is_range:
        lo = 0
        hi = 0
        for i in range(n):
            while hi < n and ts[hi] <= ts[i]:
                add(hi)
                hi += 1
            bound = ts[i] - length
            while lo < hi and ts[lo] < bound:
                retract(lo)
                lo += 1
            emit(i)
    elif add_mask is None:
        for i in range(n):
            add(i)
            if i - length - 1 >= 0:
                retract(i - length - 1)
            emit(i)
    else:
        # request-mode ROWS sweep: only state rows (add_mask True) occupy
        # frame positions; the virtual point takes the current-row slot, so
        # the accumulators hold the last ``length`` state rows when a
        # request emits (reference plain_points.rs:345-370 — stored_rows =
        # window_size - 1 at a virtual point). State rows older than the
        # last ``length`` can never re-enter a later request's frame, so a
        # ring of positions keeps the sweep O(n) like the write path.
        cap = length
        ring: list[int] = [0] * (cap + 1)
        head = tail = 0  # ring holds state indices in [tail, head)
        for i in range(n):
            if add_mask[i]:
                add(i)
                ring[head % (cap + 1)] = i
                head += 1
                if head - tail > cap:
                    retract(ring[tail % (cap + 1)])
                    tail += 1
            emit(i)
    return outs
