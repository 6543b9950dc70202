"""Stateful per-row sliding windows over a stream (SURVEY §2.8 streaming
path, §7 phase 4).

Reproduces the reference WindowOperator's streaming semantics (reference
src/runtime/operators/window/window_operator.rs:292-390):

- rows buffer per key; **emission is watermark-driven**: a row's window
  result is emitted once the watermark passes its event time;
- late rows at/before the per-key processed position are dropped on ingest
  (reference drop rule window_operator.rs:308-336 — cutoff is
  max(processed_pos, wm - lateness); Spark's watermark delay supplies the
  lateness term, the ``max_emitted`` cursor supplies processed_pos);
- one output row per input row, input passthrough + one column per agg;
- end-of-stream flush (MAX_WATERMARK) = flush-punctuation rows from
  ``chunked_file_stream(flush=True)`` or a final batch query.

Implementation: ``applyInPandasWithState`` keyed by a **hash bucket** of the
logical key, not the key itself. The reference partitions state by key hash
(src/common/key.rs:11-41) and iterates keys inside each partition; here each
bucket's state holds every resident key's (ts, inputs, passthrough) buffers
flattened into parallel arrays plus a per-key processed cursor. Per batch the
handler ingests, sorts once, then runs the same two-pointer add/retract sweep
as the batch path (functions/sliding.run_sweep_arrays) per key slice.

Why buckets: Spark invokes the Python handler once per KEY per micro-batch —
with K keys that is K Arrow round-trips and K state (de)serializations per
batch, and at K≈1500 that fixed cost dominated the actual sweep ~5:1. With
B=64 buckets the framework cost drops to B calls/batch while the sweep work
is unchanged; state size per bucket stays O(K/B · window). Skewed keys spread
over buckets by hash exactly as the reference's key-hash exchange does.

Scale: state lives in the state store (HDFS/RocksDB-backed on a cluster),
partitioned by bucket hash; bucket count bounds handler-call overhead, and
state per bucket is bounded by the window horizon pruning below.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from volga_spark._pickle import register_by_value
from volga_spark.functions.sliding import (
    SlidingSpec,
    _self_contained_udfs,
    run_sweep_arrays,
)
from volga_spark.operators.window import Frame, RangeFrame

TS = "__ts_us"
BKT = "__bkt"

_NEG_INF = -(1 << 62)


def sliding_window_stream(
    df: DataFrame,
    key_cols: str | list[str],
    ts_col: str,
    frame: Frame,
    specs: list[SlidingSpec],
    passthrough: list[str],
    lateness: str = "10 minutes",
    prepared: dict | None = None,
    n_buckets: int = 64,
) -> DataFrame:
    """Streaming per-row sliding-window aggregation.

    ``df`` is a streaming DataFrame with event-time column ``ts_col``.
    Returns a streaming DataFrame: key cols + ``ts_col`` + ``passthrough`` +
    one column per spec. Output mode: append.
    """
    _self_contained_udfs()
    import volga_spark.functions.sliding as _sl
    import volga_spark.streaming.stateful_window as _self

    register_by_value(_self, _sl)

    from pyspark.sql.streaming.state import GroupStateTimeout

    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    work = df
    for name, expr in (prepared or {}).items():
        work = work.withColumn(name, expr)
    work = work.withColumn(TS, F.unix_micros(F.col(ts_col)))
    work = work.withColumn(
        BKT, F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast("int")
    )
    work = work.withWatermark(ts_col, lateness)

    input_cols = sorted({c for s in specs for c in s.inputs})
    out_pass = [c for c in passthrough if c not in keys and c != ts_col]
    stored = list(dict.fromkeys(out_pass + input_cols))
    schema = {f.name: f.dataType.simpleString() for f in work.schema.fields}

    key_fields = ", ".join(f"`{k}` {schema[k]}" for k in keys)
    pass_fields = "".join(f", `{c}` {schema[c]}" for c in out_pass)
    spec_fields = "".join(f", `{s.name}` {s.out_type}" for s in specs)
    out_schema = f"{key_fields}, {TS} bigint{pass_fields}{spec_fields}"

    # bucket state: flattened row-store (key cols + ts + stored cols, sorted
    # by (key, ts)) plus a per-key processed cursor (key cols + max_emitted)
    state_fields = (
        [f"k{i} array<{schema[k]}>" for i, k in enumerate(keys)]
        + ["ts array<bigint>"]
        + [f"c{i} array<{schema[c]}>" for i, c in enumerate(stored)]
        + [f"ck{i} array<{schema[k]}>" for i, k in enumerate(keys)]
        + ["cmax array<bigint>"]
    )
    state_schema = ", ".join(state_fields)
    n_keys = len(keys)
    n_stored = len(stored)

    is_range = isinstance(frame, RangeFrame)
    length = frame.micros if is_range else frame.preceding
    spec_data = [(s.name, s.factory, s.inputs, s.finish) for s in specs]

    def handler(bucket, pdfs, state):
        import numpy as np

        new = pd.concat(list(pdfs), ignore_index=True)
        wm_us = state.getCurrentWatermarkMs() * 1000

        if state.exists:
            st = state.get
            buf = {k: np.asarray(st[i]) for i, k in enumerate(keys)}
            buf[TS] = np.asarray(st[n_keys], dtype=np.int64)
            for i, c in enumerate(stored):
                buf[c] = np.asarray(st[n_keys + 1 + i])
            cur_keys = list(
                zip(*[st[n_keys + 1 + n_stored + i] for i in range(n_keys)])
            )
            cursors = dict(zip(cur_keys, st[-1]))
        else:
            buf = None
            cursors = {}

        # ingest drop rule (reference window_operator.rs:308-336):
        # cutoff = max(processed_pos(key), wm - lateness); Spark's watermark
        # value already has the delay subtracted.
        new_ts = new[TS].to_numpy()
        new_keys = list(zip(*[new[k] for k in keys]))
        thr = np.fromiter(
            (max(cursors.get(kt, _NEG_INF), wm_us) for kt in new_keys),
            dtype=np.int64,
            count=len(new_keys),
        )
        ingest = new_ts > thr
        cols = {k: new[k].to_numpy()[ingest] for k in keys}
        cols[TS] = new_ts[ingest]
        for c in stored:
            cols[c] = new[c].to_numpy()[ingest]
        if buf is not None:
            for c in cols:
                cols[c] = np.concatenate([buf[c], cols[c]])

        # one stable sort per bucket: (key..., ts) — existing buffer rows
        # precede same-ts new rows (matches the per-key implementation)
        order = np.lexsort(tuple([cols[TS]] + [cols[k] for k in keys[::-1]]))
        cols = {c: a[order] for c, a in cols.items()}
        n = len(cols[TS])
        ts_arr = cols[TS]

        # per-key slices: boundaries where any key column changes
        if n:
            change = np.zeros(n, dtype=bool)
            change[0] = True
            for k in keys:
                a = cols[k]
                change[1:] |= a[1:] != a[:-1]
            starts = np.flatnonzero(change)
            ends = np.append(starts[1:], n)
        else:
            starts = ends = np.empty(0, dtype=np.int64)

        results = []
        keep_mask = np.zeros(n, dtype=bool)
        for s0, s1 in zip(starts, ends):
            # plain-python key tuple: numpy scalars would leak into the
            # state arrays (Spark's state serializer wants native types)
            kt = tuple(
                v.item() if hasattr(v, "item") else v
                for v in (cols[k][s0] for k in keys)
            )
            max_emitted = cursors.get(kt, _NEG_INF)
            seg_ts = ts_arr[s0:s1]
            emit_mask = (seg_ts <= wm_us) & (seg_ts > max_emitted)
            seg_cols = {c: a[s0:s1] for c, a in cols.items()}
            outs = run_sweep_arrays(
                seg_cols, s1 - s0, TS, is_range, length, spec_data,
                emit_mask=emit_mask,
            )
            if emit_mask.any():
                n_emit = int(emit_mask.sum())
                res = {k: [kv] * n_emit for k, kv in zip(keys, kt)}
                res[TS] = seg_ts[emit_mask]
                for c in out_pass:
                    res[c] = seg_cols[c][emit_mask]
                for (name, _, _, _), vals in zip(spec_data, outs):
                    res[name] = [v for v, m in zip(vals, emit_mask) if m]
                results.append(res)
                cursors[kt] = int(seg_ts[emit_mask].max())

            # prune: keep unemitted rows + window context behind the watermark
            if is_range:
                keep = seg_ts > wm_us - length
            else:
                n_unemitted = int((seg_ts > wm_us).sum())
                keep = np.zeros(s1 - s0, dtype=bool)
                keep[max(0, (s1 - s0) - (length + n_unemitted)) :] = True
            keep_mask[s0:s1] = keep

        cur_items = list(cursors.items())
        state.update(
            (
                *[cols[k][keep_mask].tolist() for k in keys],
                cols[TS][keep_mask].tolist(),
                *[cols[c][keep_mask].tolist() for c in stored],
                *[[kt[i] for kt, _ in cur_items] for i in range(n_keys)],
                [v for _, v in cur_items],
            )
        )
        # one output frame per batch (a DataFrame per key + concat was a
        # measured hot spot in the tiled sibling; same shape here)
        if results:
            out_cols = {}
            for c in results[0]:
                pieces = [r[c] for r in results]
                if isinstance(pieces[0], np.ndarray):
                    out_cols[c] = np.concatenate(pieces)
                else:
                    flat = []
                    for p in pieces:
                        flat.extend(p)
                    out_cols[c] = flat
            yield pd.DataFrame(out_cols)

    out = work.groupBy(BKT).applyInPandasWithState(
        handler,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = out.withColumn(ts_col, F.timestamp_micros(F.col(TS))).drop(TS)
    return out.select(*keys, ts_col, *out_pass, *[s.name for s in specs])
