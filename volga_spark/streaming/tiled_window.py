"""Tiled stateful sliding windows — long-window streaming state in
O(tiles + edge rows), not O(window rows).

The reference folds multi-granularity pre-aggregated tiles into the window
operator's state (reference src/runtime/operators/window/state/tiles.rs:59-118)
and keeps raw rows in a disk-tiered batch store (reference
src/storage/batch_store.rs:18-24, dump-to-store tasks
window_operator_state.rs:92-95), so hot per-key state for a months-long window
never holds the window interior at row resolution. This module is the Spark
restatement of that design for ``applyInPandasWithState``:

- The **state column** (what the state store serializes per micro-batch) holds
  per-key: cursors, raw rows of *open* time buckets (the head), and one
  pre-aggregated partial per *closed* bucket — (n, sum, sum², min, max) per
  input column. For a window of length L at granularity g that is
  O(L/g + head) instead of O(rows in window).
- Raw rows of closed buckets move to a **spilled row store** (parquet files
  per (state bucket, time bucket) under ``spill_root``) — the Spark analog of
  the reference BatchStore's ``Stored`` tier. On a cluster, point
  ``spill_root`` at shared storage (HDFS/S3 — the same class of location as
  the checkpoint dir) so the store survives executor loss and state-bucket
  re-placement; the default /tmp path is for local mode. They are re-read only when the
  window's *start edge* sweeps through their bucket (at most ~1-2 buckets per
  micro-batch), exactly the reference's "edge gap scan"
  (aggregates/plain_points.rs raw_gaps_excluding_tiles).
- Per emission the window [t-L, t] is evaluated as
  ``merge(partials of tiles fully inside) ⊕ sweep(raw edge rows)`` — the
  tile-interior + raw-edge decomposition of tiles.rs, with exact integer
  arithmetic where the caller pre-scales (cents), so results are
  bit-identical to the untiled path and the DuckDB oracle.

Granularity: single (default L/256, min 1s — right for a per-query store on
sparse keys) or a MULTI-GRANULARITY LADDER (pass ``granularity`` as a list,
fine→coarse, each level a multiple of the finer — the reference's 1m/5m/1h/1d
tree, tiles.rs:15-118). With a ladder, rows close/spill at the finest level,
closed coarse buckets roll up by merging child tiles, the interior cover is
greedy coarse→fine, and raw edge reads stay at the finest level — fewer tile
merges than fine-only AND fewer edge rows than coarse-only, bit-equal to both.

Supported aggregates: count / sum / avg / min / max / var_pop / var_samp /
stddev_pop / stddev_samp — the reference's RetractableAccumulator set plus the
tiled plain MIN/MAX (aggregates/mod.rs:88-140). The cate/top UDAF families
keep the untiled handler (their tile partials are category maps, not scalars —
out of scope for the scalar tile store; same restriction the reference's
``Evaluator`` slot documents).

Retry/rollback: a spill file's content is a deterministic function of its
closed bucket (closed buckets are immutable — the ingest rule drops rows at or
before the watermark, and a bucket only closes once the watermark passes its
end), and writes go via tmp + atomic rename, so micro-batch retries and
checkpoint-rollback replays converge on identical files. GC deletes files only
once the watermark is a full window plus two buckets past their end.
"""

from __future__ import annotations

import math
import os
import uuid
from bisect import bisect_left, insort
from collections import Counter
from dataclasses import dataclass

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from volga_spark._pickle import register_by_value

# module-scope so cloudpickle's register_pickle_by_value captures the class
# itself into the handler closure (executors don't have the repo on sys.path)
from volga_spark.formatting import format_float, join_csv, scalar_to_string
from volga_spark.functions.accumulators import MinMaxAcc, SubAcc
from volga_spark.operators.window import RangeFrame, interval_to_micros

TS = "__ts_us"
BKT = "__bkt"

# sweep render cache sentinel: "no output rendered yet for this spec"
_UNSET = object()

_NEG_INF = -(1 << 62)

_OPS = (
    "count", "sum", "avg", "min", "max",
    "var_pop", "var_samp", "stddev_pop", "stddev_samp",
)


@dataclass
class TiledSpec:
    """One output column: a tile-mergeable aggregate over one input column.

    ``op`` is one of count/sum/avg/min/max/var_pop/var_samp/stddev_pop/
    stddev_samp. ``finish`` post-processes the scalar (e.g. de-scale cents).
    """

    name: str
    op: str
    col: str
    out_type: str = "double"
    finish: object | None = None

    def __post_init__(self):
        if self.op not in _OPS:
            raise ValueError(f"unsupported tiled op {self.op!r}; one of {_OPS}")


@dataclass
class TiledCateSpec:
    """One ML `_cate[_where]` UDAF output column with TILED state — the
    category→sub-accumulator maps the reference tiles via
    merge_accumulator_state (reference tiles.rs add_batch /
    state/window_operator_state.rs AccumulatorState) become per-bucket
    per-category (n, Σ, min, max) partials here. Interior tiles merge
    category-wise; the raw edge sweep runs the same SubAcc arithmetic as the
    untiled CateAccumulator, and the final map renders through the shared
    CSV formatting (sorted "cat:val" parts) for bit parity with the batch
    path and the DuckDB oracle.

    ``op``: sum/avg/count/min/max. ``cond_col``: optional boolean column
    (the `_where` variant — rows with false/null never enter tiles or the
    sweep). ``scale``: integer pre-scaling divisor for CSV float parity
    (100.0 for cents).

    ``order``/``k``: when set, renders the ``top_n_{key,value}_{op}_cate_where``
    form instead — categories ordered by category desc ("key") or metric desc
    with category-desc tiebreak ("value"), limited to k (GroupedAggTopK
    semantics, reference top/accumulators/grouped_agg.rs).
    """

    name: str
    op: str
    col: str
    cat_col: str
    cond_col: str | None = None
    scale: float = 1.0
    out_type: str = "string"
    order: str | None = None
    k: int | None = None

    def __post_init__(self):
        if self.op not in ("sum", "avg", "count", "min", "max"):
            raise ValueError(f"unsupported cate op {self.op!r}")
        if self.order not in (None, "key", "value"):
            raise ValueError("order must be None, 'key' or 'value'")
        if (self.order is None) != (self.k is None):
            raise ValueError("order and k come together (top_n form)")


@dataclass
class TiledTopSpec:
    """``top(col, k)`` / ``topn_frequency(col, k)`` / ``top1_ratio(col)`` /
    ``count_distinct(col)`` with tiled state: the value→count multiset those
    accumulators maintain is mergeable, so each closed bucket stores its
    per-key value-count map and the window merges interior maps with the
    raw-edge Counter. Rendering delegates to the untiled accumulators for
    bit parity.

    ``count_distinct`` (beyond the reference's aggregate set) is the size of
    the same merged multiset — the multiset is the minimal retractable
    distinct-count state, so it rides the existing partials for free. An
    HLL-sketch partial would bound tile size for ultra-high-cardinality
    columns but cannot retract, and the per-row emission cadence sweeps the
    window edge with add/retract — the exact multiset is the correct
    default; state is O(distinct values in window) per key either way
    because the edge sweep needs the raw values."""

    name: str
    op: str  # top | topn_frequency | top1_ratio | count_distinct | quantile
    col: str
    k: int | None = None
    out_type: str = "string"
    q: float | None = None

    def __post_init__(self):
        if self.op not in (
            "top", "topn_frequency", "top1_ratio", "count_distinct",
            "quantile",
        ):
            raise ValueError(f"unsupported top op {self.op!r}")
        if self.op in ("top", "topn_frequency") and self.k is None:
            raise ValueError(f"{self.op} needs k")
        if self.op == "quantile":
            # exact sliding-window discrete quantile over the SAME merged
            # multiset (values sort numerically; rank = ceil(q·n), the
            # percentile_disc / DuckDB quantile_disc rule — the result is an
            # actual data value, so oracle parity needs no float scaling).
            # Set out_type to the input column's type.
            if self.q is None or not (0.0 < self.q <= 1.0):
                raise ValueError("quantile needs q in (0, 1]")


@dataclass
class TiledRatioSpec:
    """``top_n_{key,value}_ratio_cate(col, cond, cat, k)`` with tiled state:
    per-bucket per-category (rows, cond-true rows) pairs merge additively
    (RatioTopK semantics, reference top/accumulators/ratio.rs)."""

    name: str
    order: str  # key | value
    k: int
    col: str
    cond_col: str
    cat_col: str
    out_type: str = "string"

    def __post_init__(self):
        if self.order not in ("key", "value"):
            raise ValueError("order must be 'key' or 'value'")


def _auto_granularity_us(window_us: int, target_tiles: int = 256) -> int:
    g = max(1_000_000, window_us // target_tiles)
    # round down to whole seconds so tile boundaries are human-legible
    return max(1_000_000, (g // 1_000_000) * 1_000_000)


class _GroupCore:
    """Pure-python per-group state machine (one Spark state bucket). Kept
    Spark-free so tests can drive batches directly and measure state size."""

    def __init__(
        self,
        keys,
        inputs,
        out_pass,
        length_us,
        gran_us,
        specs,
        spill_path,
        cate_specs=(),
        top_specs=(),
        ratio_specs=(),
        int_inputs=frozenset(),
    ):
        self.keys = keys
        self.inputs = inputs  # scalar input columns (5 comps tiled each)
        self.out_pass = out_pass  # passthrough (stored in head only)
        self.cate_specs = list(cate_specs)
        self.top_specs = list(top_specs)
        self.ratio_specs = list(ratio_specs)
        cate_cols = [
            c
            for s in self.cate_specs
            for c in (s.col, s.cat_col, s.cond_col)
            if c is not None
        ]
        cate_cols += [s.col for s in self.top_specs]
        cate_cols += [
            c for s in self.ratio_specs for c in (s.col, s.cond_col, s.cat_col)
        ]
        self.stored = list(dict.fromkeys(out_pass + inputs + cate_cols))
        self.spill_cols = list(dict.fromkeys(inputs + cate_cols))
        self.int_inputs = frozenset(int_inputs)
        self.L = length_us
        # granularity ladder (reference tiles.rs:15-118): ascending
        # fine→coarse, each coarser level an integer multiple of the finer.
        # Rows spill and close at the FINEST level; closed coarse buckets
        # roll up by merging their child tiles. A single int keeps the
        # single-granularity behavior byte-for-byte.
        grans = [gran_us] if isinstance(gran_us, int) else list(gran_us)
        if sorted(grans) != grans or len(set(grans)) != len(grans):
            raise ValueError(f"granularities must be ascending: {grans}")
        for fine, coarse in zip(grans, grans[1:]):
            if coarse % fine != 0:
                raise ValueError(
                    f"ladder level {coarse} is not a multiple of {fine}"
                )
        self.grans = grans
        self.g = grans[0]
        self.specs = specs
        self.spill_path = spill_path
        self._spill_cache: dict[int, pd.DataFrame] = {}
        # observability (tests/SCALING): cumulative raw rows pulled back from
        # the spill tier for edge sweeps, and interior tiles merged
        self.edge_rows_read = 0
        self.tiles_merged = 0

    # --- state (de)serialization to a flat tuple of lists ------------------

    def empty_state(self) -> dict:
        import numpy as np

        st = {
            "head": {c: np.empty(0, dtype=object) for c in self.keys + self.stored},
            "cursors": {},
            "tiles": {},  # (key_tuple, b0) -> per-input (n, s, s2, mn, mx)
            "su": _NEG_INF,
        }
        st["head"][TS] = np.empty(0, dtype="int64")
        return st

    def state_fields(self, schema: dict) -> str:
        def sum_t(c):
            return "bigint" if schema[c] in ("bigint", "int", "smallint", "tinyint") else "double"

        fields = (
            [f"k{i} array<{schema[k]}>" for i, k in enumerate(self.keys)]
            + ["ts array<bigint>"]
            + [f"c{i} array<{schema[c]}>" for i, c in enumerate(self.stored)]
            + [f"ck{i} array<{schema[k]}>" for i, k in enumerate(self.keys)]
            + ["cmax array<bigint>"]
            + [f"tk{i} array<{schema[k]}>" for i, k in enumerate(self.keys)]
            + ["tb array<bigint>", "tl array<bigint>"]
        )
        for j, c in enumerate(self.inputs):
            fields += [
                f"tn{j} array<bigint>",
                f"tsm{j} array<{sum_t(c)}>",
                f"ts2{j} array<double>",
                f"tmn{j} array<{schema[c]}>",
                f"tmx{j} array<{schema[c]}>",
            ]
        # per cate spec: per-tile parallel arrays of per-category partials
        for j, s in enumerate(self.cate_specs):
            fields += [
                f"gc{j} array<array<{schema[s.cat_col]}>>",
                f"gn{j} array<array<bigint>>",
                f"gs{j} array<array<{sum_t(s.col)}>>",
                f"gm{j} array<array<{schema[s.col]}>>",
                f"gx{j} array<array<{schema[s.col]}>>",
            ]
        for j, s in enumerate(self.top_specs):
            fields += [
                f"hv{j} array<array<{schema[s.col]}>>",
                f"hc{j} array<array<bigint>>",
            ]
        for j, s in enumerate(self.ratio_specs):
            fields += [
                f"rc{j} array<array<{schema[s.cat_col]}>>",
                f"rd{j} array<array<bigint>>",
                f"rn{j} array<array<bigint>>",
            ]
        fields += ["su bigint"]
        return ", ".join(fields)

    def load(self, row: tuple) -> dict:
        import numpy as np

        nk, ns, ni = len(self.keys), len(self.stored), len(self.inputs)
        st = self.empty_state()
        pos = 0
        for i, k in enumerate(self.keys):
            st["head"][k] = np.asarray(row[pos + i])
        pos += nk
        st["head"][TS] = np.asarray(row[pos], dtype="int64")
        pos += 1
        for i, c in enumerate(self.stored):
            st["head"][c] = np.asarray(row[pos + i])
        pos += ns
        ck = [row[pos + i] for i in range(nk)]
        pos += nk
        st["cursors"] = dict(zip(zip(*ck), row[pos])) if ck and len(ck[0]) else {}
        pos += 1
        tk = [row[pos + i] for i in range(nk)]
        pos += nk
        tb = row[pos]
        pos += 1
        tl = row[pos]
        pos += 1
        comps = []
        for _ in range(ni):
            comps.append(tuple(row[pos + i] for i in range(5)))
            pos += 5
        gcomps = []
        for _ in range(len(self.cate_specs)):
            gcomps.append(tuple(row[pos + i] for i in range(5)))
            pos += 5
        hcomps = []
        for _ in range(len(self.top_specs)):
            hcomps.append((row[pos], row[pos + 1]))
            pos += 2
        rcomps = []
        for _ in range(len(self.ratio_specs)):
            rcomps.append((row[pos], row[pos + 1], row[pos + 2]))
            pos += 3
        tiles = {}
        from collections import Counter

        for idx in range(len(tb)):
            kt = tuple(a[idx] for a in tk)
            cate = []
            for gc, gn, gs, gm, gx in gcomps:
                cate.append(
                    {
                        c: (gn[idx][i], gs[idx][i], gm[idx][i], gx[idx][i])
                        for i, c in enumerate(gc[idx])
                    }
                )
            tops = [
                Counter(dict(zip(hv[idx], hc[idx]))) for hv, hc in hcomps
            ]
            ratios = [
                {
                    c: (rd[idx][i], rn[idx][i])
                    for i, c in enumerate(rc[idx])
                }
                for rc, rd, rn in rcomps
            ]
            tiles[(kt, tl[idx], tb[idx])] = {
                "sc": [tuple(comp[i][idx] for i in range(5)) for comp in comps],
                "cate": cate,
                "top": tops,
                "ratio": ratios,
            }
        st["tiles"] = tiles
        st["su"] = row[pos]
        return st

    def dump(self, st: dict) -> tuple:
        cur_items = list(st["cursors"].items())
        tile_items = list(st["tiles"].items())
        out = (
            *[st["head"][k].tolist() for k in self.keys],
            st["head"][TS].tolist(),
            *[st["head"][c].tolist() for c in self.stored],
            *[[kt[i] for kt, _ in cur_items] for i in range(len(self.keys))],
            [v for _, v in cur_items],
            *[[kt[i] for (kt, _, _), _ in tile_items] for i in range(len(self.keys))],
            [b0 for (_, _, b0), _ in tile_items],
            [lvl for (_, lvl, _), _ in tile_items],
        )
        for j in range(len(self.inputs)):
            for i in range(5):
                out = out + ([t["sc"][j][i] for _, t in tile_items],)
        for j in range(len(self.cate_specs)):
            cats_per_tile = [sorted(t["cate"][j]) for _, t in tile_items]
            out = out + (cats_per_tile,)
            for i in range(4):
                out = out + (
                    [
                        [t["cate"][j][c][i] for c in cats]
                        for cats, (_, t) in zip(cats_per_tile, tile_items)
                    ],
                )
        for j in range(len(self.top_specs)):
            vals_per_tile = [sorted(t["top"][j]) for _, t in tile_items]
            out = out + (
                vals_per_tile,
                [
                    [t["top"][j][v] for v in vals]
                    for vals, (_, t) in zip(vals_per_tile, tile_items)
                ],
            )
        for j in range(len(self.ratio_specs)):
            cats_per_tile = [sorted(t["ratio"][j]) for _, t in tile_items]
            out = out + (cats_per_tile,)
            for i in range(2):
                out = out + (
                    [
                        [t["ratio"][j][c][i] for c in cats]
                        for cats, (_, t) in zip(cats_per_tile, tile_items)
                    ],
                )
        return out + (st["su"],)

    # --- spill tier ---------------------------------------------------------
    # One file per micro-batch per group covering every bucket that closed in
    # that batch (replay can close hundreds of buckets in one trigger — a
    # file per bucket would be a tiny-file flood). File names carry the
    # covered bucket range `t{b_lo}_{b_hi}.parquet`; ranges are disjoint
    # across batches because a bucket closes exactly once, and a retried
    # batch regenerates the identical file (closed buckets are immutable).

    def _write_spill(self, b_lo: int, b_hi: int, pdf: pd.DataFrame) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(self.spill_path, exist_ok=True)
        path = os.path.join(self.spill_path, f"t{b_lo}_{b_hi}.parquet")
        tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), tmp)
        os.replace(tmp, path)
        self._spill_cache.pop("__index", None)  # index is stale now

    def _spill_index(self) -> list[tuple[int, int, str]]:
        if "__index" in self._spill_cache:
            return self._spill_cache["__index"]
        idx = []
        if os.path.isdir(self.spill_path):
            for f in os.listdir(self.spill_path):
                if f.startswith("t") and f.endswith(".parquet"):
                    try:
                        lo, hi = f[1:-8].split("_")
                        idx.append((int(lo), int(hi), f))
                    except ValueError:
                        continue
        self._spill_cache["__index"] = idx
        return idx

    def _read_spill_buckets(self, b0_lo: int, b0_hi: int) -> pd.DataFrame | None:
        """Raw rows of buckets [b0_lo, b0_hi] (by bucket start) from the
        spill tier; parquet row-group pruning keeps ranged reads cheap."""
        import pyarrow.parquet as pq

        parts = []
        for lo, hi, f in self._spill_index():
            if hi < b0_lo or lo > b0_hi:
                continue
            if f not in self._spill_cache:
                self._spill_cache[f] = pq.read_table(
                    os.path.join(self.spill_path, f)
                ).to_pandas()
            pdf = self._spill_cache[f]
            ts = pdf[TS]
            parts.append(pdf[(ts >= b0_lo) & (ts < b0_hi + self.g)])
        if not parts:
            return None
        return pd.concat(parts, ignore_index=True)

    def _gc_spill(self, wm_us: int) -> None:
        horizon = wm_us - self.L - 2 * self.g
        if horizon <= 0:
            return
        for lo, hi, f in self._spill_index():
            if hi + self.g <= horizon:
                try:
                    os.remove(os.path.join(self.spill_path, f))
                except OSError:
                    pass

    # --- the per-batch transition -------------------------------------------

    def _typed_inputs(self, cols, force_int):
        """(null-mask, typed values, is-int) per scalar input column, for
        the vectorized sweep. The int path keeps exact int64 arithmetic and
        integer-typed min/max; columns that arrived float (Arrow
        nullable-int NaN upcast, or true doubles) take the NaN-aware float
        path. ``force_int`` pins the decision per column — edge arrays must
        take the SAME path as the segment arrays they concatenate with."""
        import numpy as np

        out = {}
        for c in self.inputs:
            ser = pd.Series(cols[c])
            mask = ser.notna().to_numpy()
            num = pd.to_numeric(ser, errors="coerce")
            arr = num.to_numpy()
            int_path = (
                force_int[c]
                if force_int is not None
                else c in self.int_inputs or arr.dtype.kind in "iu"
            )
            if int_path:
                vals = num.fillna(0).to_numpy(np.int64)
            else:
                vals = arr.astype(np.float64, copy=False)
            out[c] = (mask, vals, int_path)
        return out

    def advance(self, st: dict, new: pd.DataFrame, wm_us: int):
        """Ingest ``new``, emit rows now behind the watermark, close buckets.
        Returns (output DataFrame or None, new state dict)."""
        import numpy as np

        self._spill_cache.clear()
        head = st["head"]
        cursors = st["cursors"]

        # ingest drop rule (reference window_operator.rs:308-336)
        if len(new):
            new_ts = new[TS].to_numpy()
            new_keys = list(zip(*[new[k] for k in self.keys]))
            thr = np.fromiter(
                (max(cursors.get(kt, _NEG_INF), wm_us) for kt in new_keys),
                dtype=np.int64,
                count=len(new_keys),
            )
            ingest = new_ts > thr
            cols = {k: new[k].to_numpy()[ingest] for k in self.keys}
            cols[TS] = new_ts[ingest]
            for c in self.stored:
                cols[c] = new[c].to_numpy()[ingest]
            if len(head[TS]):
                for c in cols:
                    cols[c] = np.concatenate([head[c], cols[c]])
        else:
            cols = dict(head)

        order = np.lexsort(tuple([cols[TS]] + [cols[k] for k in self.keys[::-1]]))
        cols = {c: a[order] for c, a in cols.items()}
        n = len(cols[TS])
        ts_arr = cols[TS]

        # typed (null-mask, values, is-int) views of the scalar inputs, built
        # ONCE per batch — per-key pandas conversions inside the sweep were a
        # measured regression (thousands of tiny Series builds per batch)
        seg_typed = self._typed_inputs(cols, None)

        if n:
            change = np.zeros(n, dtype=bool)
            change[0] = True
            for k in self.keys:
                a = cols[k]
                change[1:] |= a[1:] != a[:-1]
            starts = np.flatnonzero(change)
            ends = np.append(starts[1:], n)
        else:
            starts = ends = np.empty(0, dtype=np.int64)

        # per-key tile index: one pass over the tile map instead of a full
        # scan per swept key (a state bucket holds many keys — without this
        # the sweep is O(keys × tiles-in-bucket) per batch)
        tiles_by_key: dict = {}
        for (tkt, lvl, b0), tile in st["tiles"].items():
            tiles_by_key.setdefault(tkt, []).append((lvl, b0, tile))

        # phase 1: plan the per-key sweeps (which keys emit, and each key's
        # start-edge bucket range)
        plans = []
        for s0, s1 in zip(starts, ends):
            kt = tuple(
                v.item() if hasattr(v, "item") else v
                for v in (cols[k][s0] for k in self.keys)
            )
            max_emitted = cursors.get(kt, _NEG_INF)
            seg_ts = ts_arr[s0:s1]
            emit_mask = (seg_ts <= wm_us) & (seg_ts > max_emitted)
            if not emit_mask.any():
                continue
            emit_idx = np.flatnonzero(emit_mask)
            first_start = int(seg_ts[emit_idx[0]]) - self.L
            last_start = int(seg_ts[emit_idx[-1]]) - self.L
            b_lo = (first_start // self.g) * self.g  # // floors negatives too
            b_hi = (last_start // self.g) * self.g
            plans.append((s0, s1, kt, seg_ts, emit_mask, first_start, b_lo, b_hi))

        # phase 2: batched spill prefetch — ONE ranged read + ONE groupby for
        # every key's start-edge range this batch (a per-key filtered read
        # was the sweep's measured hot spot), plus the restart-coverage guard
        edge_by_key: dict = {}
        if plans:
            union_lo = min(p[6] for p in plans)
            union_hi = max(p[7] for p in plans)
            idx = self._spill_index()
            for _, _, kt, _, _, _, b_lo, b_hi in plans:
                # every closed level-0 bucket this key has a tile for in its
                # edge range MUST be covered by a spill file — a restart
                # pointed at a fresh/misconfigured spill_root would otherwise
                # silently compute edge windows without their spilled rows
                for lvl, b0, _tile in tiles_by_key.get(kt, ()):
                    if lvl == 0 and b_lo <= b0 <= b_hi and not any(
                        lo <= b0 <= hi for lo, hi, _ in idx
                    ):
                        raise RuntimeError(
                            f"tiled window spill tier at {self.spill_path!r} "
                            f"has no file covering closed bucket {b0} required "
                            f"by an edge window — on restart, spill_root must "
                            f"resolve to the SAME durable path the original "
                            f"run wrote (pass spill_root explicitly or keep "
                            f"the default, which derives from the stable "
                            f"streaming query id)"
                        )
            pdf = self._read_spill_buckets(union_lo, union_hi)
            if pdf is not None and len(pdf):
                # per-group order; reset_index so positions index the typed
                # views built below
                pdf = pdf.sort_values(TS, kind="stable").reset_index(drop=True)
                etyped = self._typed_inputs(
                    pdf, {c: seg_typed[c][2] for c in self.inputs}
                )
                # plain numpy views per column — per-key pandas indexing
                # (Series cmp + __getitem__ in the clip below) measured ~2s
                # per bucket at 100×
                ecols = {
                    c: pdf[c].to_numpy()
                    for c in [TS] + self.spill_cols
                }
                for gk, g_pdf in pdf.groupby(self.keys, sort=False):
                    if not isinstance(gk, tuple):
                        gk = (gk,)
                    gk = tuple(v.item() if hasattr(v, "item") else v for v in gk)
                    pos = g_pdf.index.to_numpy()
                    edge_by_key[gk] = (
                        {c: a[pos] for c, a in ecols.items()},
                        {c: (m[pos], v[pos], ip) for c, (m, v, ip) in
                         etyped.items()},
                    )

        results = []
        for s0, s1, kt, seg_ts, emit_mask, first_start, b_lo, b_hi in plans:
            edge = edge_t = None
            hit = edge_by_key.get(kt)
            if hit is not None and b_hi >= b_lo:
                g_cols, g_typed = hit
                ets = g_cols[TS]
                # clip to THIS key's edge range: rows past b_hi+g are covered
                # by interior tile partials and must not double-count
                sel = (ets >= first_start) & (ets < b_hi + self.g)
                n_sel = int(sel.sum())
                if n_sel:
                    edge = {c: a[sel] for c, a in g_cols.items()}
                    edge_t = {c: (m[sel], v[sel], ip)
                              for c, (m, v, ip) in g_typed.items()}
                self.edge_rows_read += n_sel
            seg_cols = {c: a[s0:s1] for c, a in cols.items()}
            seg_t = {c: (m[s0:s1], v[s0:s1], ip)
                     for c, (m, v, ip) in seg_typed.items()}
            res = self._sweep_key(
                kt, seg_ts, seg_cols, emit_mask, tiles_by_key.get(kt, ()),
                edge, seg_t, edge_t,
            )
            results.append(res)
            cursors[kt] = int(seg_ts[emit_mask].max())

        # one output frame per batch (was: one DataFrame per key + concat)
        out_frames = []
        if results:
            out_cols = {}
            for c in results[0]:
                pieces = [r[c] for r in results]
                if isinstance(pieces[0], np.ndarray):
                    out_cols[c] = np.concatenate(pieces)
                else:
                    flat: list = []
                    for p in pieces:
                        flat.extend(p)
                    out_cols[c] = flat
            out_frames.append(pd.DataFrame(out_cols))

        # close buckets fully behind the watermark: spill raw rows, fold
        # per-key partials into the level-0 tile map, roll closed coarse
        # buckets up the ladder, drop from the head
        close_end = (wm_us // self.g) * self.g  # close buckets with b_end <= this
        closing = ts_arr < close_end
        if closing.any():
            self._close_buckets(cols, closing, st)
            keep = ~closing
            cols = {c: a[keep] for c, a in cols.items()}
        if len(self.grans) > 1:
            self._rollup_tiles(st, wm_us)

        # tiles a full window behind the horizon can never be touched again
        horizon = wm_us - self.L
        st["tiles"] = {
            (kt, lvl, b0): comps
            for (kt, lvl, b0), comps in st["tiles"].items()
            if b0 + self.grans[lvl] > horizon
        }
        self._gc_spill(wm_us)

        st["head"] = cols
        st["su"] = max(st["su"], wm_us)
        out = pd.concat(out_frames, ignore_index=True) if out_frames else None
        return out, st

    def _close_buckets(self, cols, closing, st) -> None:
        """Fold the closing rows into level-0 tiles. Rows arrive sorted by
        (keys…, ts) from advance()'s lexsort and bucket start is monotone in
        ts within a key, so (key, bucket) groups are CONTIGUOUS RUNS —
        partials are run-boundary ``reduceat`` reductions, not a pandas
        groupby (the named-agg machinery plus per-cell ``.item()`` was the
        handler's measured hot spot: ~40% of advance CPU at sf0.1)."""
        import numpy as np

        sub = {c: cols[c][closing] for c in self.keys + [TS] + self.spill_cols}
        ts = sub[TS]
        b0s = (ts // self.g) * self.g
        self._write_spill(int(b0s.min()), int(b0s.max()), pd.DataFrame(sub))

        n = len(ts)
        change = np.zeros(n, dtype=bool)
        change[0] = True
        for k in self.keys:
            a = sub[k]
            change[1:] |= a[1:] != a[:-1]
        change[1:] |= b0s[1:] != b0s[:-1]
        starts = np.flatnonzero(change)
        ends = np.append(starts[1:], n)
        ngrp = len(starts)
        gidx = np.repeat(np.arange(ngrp), ends - starts)  # row -> group

        # scalar partials per input: null-aware count/sum/s2/min/max via
        # masked reduceat. Int columns reduce in int64 (exact sums, and a
        # float in an array<bigint> state slot silently nulls out on the
        # state round-trip); count==0 canonicalizes to the EMPTY partial
        # (pandas-skipna semantics, same as the old groupby path).
        per_input = []
        for j, c in enumerate(self.inputs):
            s = pd.Series(sub[c])
            mask = s.notna().to_numpy()
            cnt = np.add.reduceat(mask.astype(np.int64), starts)
            if c in self.int_inputs:
                filled = s.fillna(0).to_numpy(dtype=np.int64)
                sm = np.add.reduceat(np.where(mask, filled, 0), starts)
                mn = np.minimum.reduceat(
                    np.where(mask, filled, np.iinfo(np.int64).max), starts
                )
                mx = np.maximum.reduceat(
                    np.where(mask, filled, np.iinfo(np.int64).min), starts
                )
                fl = filled.astype(np.float64)
            else:
                fl = pd.to_numeric(s, errors="coerce").to_numpy(np.float64)
                filled0 = np.where(mask, fl, 0.0)
                sm = np.add.reduceat(filled0, starts)
                # fmin/fmax skip NaN operands — nulls never win the extreme
                mn = np.fmin.reduceat(np.where(mask, fl, np.nan), starts)
                mx = np.fmax.reduceat(np.where(mask, fl, np.nan), starts)
            s2 = np.add.reduceat(np.where(mask, fl * fl, 0.0), starts)
            per_input.append(
                (cnt.tolist(), sm.tolist(), s2.tolist(), mn.tolist(),
                 mx.tolist())
            )

        # .tolist() yields python scalars (a numpy scalar in a tuple would
        # upcast on the state round-trip, the old _py concern)
        key_cols = [sub[k][starts].tolist() for k in self.keys]
        b0_list = b0s[starts].tolist()
        tiles = st["tiles"]
        tile_refs = []
        for g in range(ngrp):
            comps = []
            for cnt, sm, s2, mn, mx in per_input:
                n_j = cnt[g]
                if n_j == 0:
                    comps.append((0, 0, 0.0, None, None))
                else:
                    comps.append((n_j, sm[g], s2[g], mn[g], mx[g]))
            tile = {
                "sc": comps,
                "cate": [{} for _ in self.cate_specs],
                "top": [Counter() for _ in self.top_specs],
                "ratio": [{} for _ in self.ratio_specs],
            }
            tiles[(tuple(kc[g] for kc in key_cols), 0, b0_list[g])] = tile
            tile_refs.append(tile)

        def _cat_scatter(rows, cat_vals):
            """(group, category-code) ids for the masked rows — partials
            land via bincount/scatter on the dense ngrp×ncat grid."""
            codes, uniq = pd.factorize(cat_vals, use_na_sentinel=False)
            return gidx[rows] * len(uniq) + codes, len(uniq), uniq.tolist()

        # per-cate-spec partials: (key, bucket, category) with the _where
        # condition applied; same (n, Σ, min, max) shape per category
        for j, s in enumerate(self.cate_specs):
            m = (
                pd.Series(sub[s.cat_col]).notna()
                & pd.Series(sub[s.col]).notna()
            ).to_numpy()
            if s.cond_col is not None:
                m &= pd.Series(sub[s.cond_col]).astype(bool).to_numpy()
            rows = np.flatnonzero(m)
            if not len(rows):
                continue
            comb, ncat, cats = _cat_scatter(rows, sub[s.cat_col][rows])
            size = ngrp * ncat
            cnts = np.bincount(comb, minlength=size)
            if s.col in self.int_inputs:
                vals = pd.Series(sub[s.col][rows]).to_numpy(dtype=np.int64)
                sums = np.zeros(size, dtype=np.int64)
                np.add.at(sums, comb, vals)
                mns = np.full(size, np.iinfo(np.int64).max)
                mxs = np.full(size, np.iinfo(np.int64).min)
            else:
                vals = pd.to_numeric(
                    pd.Series(sub[s.col][rows]), errors="coerce"
                ).to_numpy(np.float64)
                sums = np.bincount(comb, weights=vals, minlength=size)
                mns = np.full(size, np.inf)
                mxs = np.full(size, -np.inf)
            np.minimum.at(mns, comb, vals)
            np.maximum.at(mxs, comb, vals)
            cl, sl = cnts.tolist(), sums.tolist()
            ml, xl = mns.tolist(), mxs.tolist()
            for e in np.flatnonzero(cnts).tolist():
                g, cc = divmod(e, ncat)
                tile_refs[g]["cate"][j][cats[cc]] = (cl[e], sl[e], ml[e], xl[e])

        # top-family partials: per (key, bucket) value→count multiset
        for j, s in enumerate(self.top_specs):
            rows = np.flatnonzero(pd.Series(sub[s.col]).notna().to_numpy())
            if not len(rows):
                continue
            comb, ncat, vals = _cat_scatter(rows, sub[s.col][rows])
            cnts = np.bincount(comb, minlength=ngrp * ncat)
            cl = cnts.tolist()
            for e in np.flatnonzero(cnts).tolist():
                g, cc = divmod(e, ncat)
                tile_refs[g]["top"][j][vals[cc]] = cl[e]

        # ratio partials: per (key, bucket, category) (rows, cond-true rows)
        for j, s in enumerate(self.ratio_specs):
            m = (
                pd.Series(sub[s.col]).notna()
                & pd.Series(sub[s.cat_col]).notna()
            ).to_numpy()
            rows = np.flatnonzero(m)
            if not len(rows):
                continue
            comb, ncat, cats = _cat_scatter(rows, sub[s.cat_col][rows])
            ct = (
                pd.Series(sub[s.cond_col][rows])
                .fillna(False)
                .astype(bool)
                .to_numpy()
                .astype(np.int64)
            )
            size = ngrp * ncat
            dens = np.bincount(comb, minlength=size)
            nums = np.zeros(size, dtype=np.int64)
            np.add.at(nums, comb, ct)
            dl, nl = dens.tolist(), nums.tolist()
            for e in np.flatnonzero(dens).tolist():
                g, cc = divmod(e, ncat)
                tile_refs[g]["ratio"][j][cats[cc]] = (dl[e], nl[e])

    def _rollup_tiles(self, st: dict, wm_us: int) -> None:
        """Roll closed coarse buckets up the granularity ladder: a level-l
        bucket whose end the watermark has passed absorbs (a merge of) its
        level-(l-1) child tiles — the reference's multi-granularity tree
        maintenance (tiles.rs:15-118). Children stay in the map (the sweep's
        greedy cover uses them where a coarse tile only partially fits);
        idempotent on retries via the presence check."""
        for lvl in range(1, len(self.grans)):
            G = self.grans[lvl]
            boundary = (wm_us // G) * G  # coarse buckets ending here closed
            children: dict = {}
            for (kt, clvl, b0) in st["tiles"]:
                if clvl != lvl - 1:
                    continue
                parent = (b0 // G) * G
                if parent + G <= boundary and (kt, lvl, parent) not in st["tiles"]:
                    children.setdefault((kt, parent), []).append(
                        st["tiles"][(kt, clvl, b0)]
                    )
            for (kt, parent), tiles in children.items():
                st["tiles"][(kt, lvl, parent)] = self._merge_tiles(tiles)

    def _merge_tiles(self, tiles: list[dict]) -> dict:
        """Merge tile partials (all families are mergeable by construction)."""
        ni = len(self.inputs)
        sc = []
        for j in range(ni):
            n = 0
            s = 0
            s2 = 0.0
            mn = mx = None
            for t in tiles:
                tn, ts_, ts2, tmn, tmx = t["sc"][j]
                n += tn
                if ts_ is not None:
                    s += ts_
                if ts2 is not None:
                    s2 += ts2
                if tmn is not None:
                    mn = tmn if mn is None else min(mn, tmn)
                if tmx is not None:
                    mx = tmx if mx is None else max(mx, tmx)
            sc.append((n, s, s2, mn, mx) if n else (0, 0, 0.0, None, None))
        cate = []
        for j in range(len(self.cate_specs)):
            acc: dict = {}
            for t in tiles:
                for cat, (n_, s_, mn_, mx_) in t["cate"][j].items():
                    cur = acc.get(cat)
                    if cur is None:
                        acc[cat] = (n_, s_, mn_, mx_)
                    else:
                        acc[cat] = (
                            cur[0] + n_,
                            cur[1] + s_,
                            min(cur[2], mn_),
                            max(cur[3], mx_),
                        )
            cate.append(acc)
        tops = []
        for j in range(len(self.top_specs)):
            c = Counter()
            for t in tiles:
                c.update(t["top"][j])
            tops.append(c)
        ratios = []
        for j in range(len(self.ratio_specs)):
            acc = {}
            for t in tiles:
                for cat, (d_, n_) in t["ratio"][j].items():
                    cur = acc.get(cat)
                    acc[cat] = (d_ , n_) if cur is None else (cur[0] + d_, cur[1] + n_)
            ratios.append(acc)
        return {"sc": sc, "cate": cate, "top": tops, "ratio": ratios}

    def _cover_tiles(self, key_tiles, last_start):
        """Greedy multi-granularity interior cover: coarsest tiles fully
        inside every emitted window first (b0 > last_start — the start edge
        never enters them this batch; the head side is always covered
        because closed tiles end at/before the previous watermark), then
        finer tiles filling the remainder toward the start edge. With a
        single granularity this degrades to the plain b0 > last_start scan."""
        if len(self.grans) == 1:
            return [t for _lvl, b0, t in key_tiles if b0 > last_start]
        selected: list = []
        chosen: list[set] = [set() for _ in self.grans]
        for lvl in range(len(self.grans) - 1, -1, -1):
            G = self.grans[lvl]
            for tlvl, b0, tile in key_tiles:
                if tlvl != lvl or b0 <= last_start:
                    continue
                covered = any(
                    ((b0 // self.grans[cl]) * self.grans[cl]) in chosen[cl]
                    for cl in range(lvl + 1, len(self.grans))
                )
                if covered:
                    continue
                chosen[lvl].add(b0)
                selected.append(tile)
        return selected

    def _sweep_key(self, kt, seg_ts, seg_cols, emit_mask, key_tiles, edge,
                   seg_typed=None, edge_typed=None):
        """Evaluate every spec at the emitted rows of one key: tile partials
        fully inside the window merge statically (greedy coarse→fine ladder
        cover); the start-edge buckets come pre-sliced from the batch's
        spill prefetch (``edge``, ts-sorted) at row resolution; head rows
        sweep with the usual add/retract two-pointer. ``key_tiles`` is this
        key's [(level, bucket_start, tile)] slice of the tile map. Returns
        a dict of output columns."""
        import numpy as np

        emit_idx = np.flatnonzero(emit_mask)
        last_emit = int(seg_ts[emit_idx[-1]])
        last_start = last_emit - self.L

        from collections import Counter

        ni = len(self.inputs)
        nc = len(self.cate_specs)
        nt = len(self.top_specs)
        nrt = len(self.ratio_specs)
        static = [[0, 0, 0.0, None, None] for _ in range(ni)]
        cstatic: list[dict] = [{} for _ in range(nc)]
        hstatic: list[Counter] = [Counter() for _ in range(nt)]
        rstatic: list[dict] = [{} for _ in range(nrt)]
        cover = self._cover_tiles(key_tiles, last_start)
        self.tiles_merged += len(cover)
        for tile in cover:
            for j in range(ni):
                n_, s_, s2_, mn_, mx_ = tile["sc"][j]
                agg = static[j]
                agg[0] += n_
                # an all-null bucket stores n=0 with null sum/min/max
                # (pandas skipna partials) — merge as the empty partial
                if s_ is not None:
                    agg[1] += s_
                if s2_ is not None:
                    agg[2] += s2_
                if mn_ is not None:
                    agg[3] = mn_ if agg[3] is None else min(agg[3], mn_)
                if mx_ is not None:
                    agg[4] = mx_ if agg[4] is None else max(agg[4], mx_)
            for j in range(nc):
                acc = cstatic[j]
                for cat, (n_, s_, mn_, mx_) in tile["cate"][j].items():
                    cur = acc.get(cat)
                    if cur is None:
                        acc[cat] = [n_, s_, mn_, mx_]
                    else:
                        cur[0] += n_
                        cur[1] += s_
                        cur[2] = min(cur[2], mn_)
                        cur[3] = max(cur[3], mx_)
            for j in range(nt):
                hstatic[j].update(tile["top"][j])
            for j in range(nrt):
                acc = rstatic[j]
                for cat, (d_, n_) in tile["ratio"][j].items():
                    cur = acc.get(cat)
                    if cur is None:
                        acc[cat] = [d_, n_]
                    else:
                        cur[0] += d_
                        cur[1] += n_

        def _col(c):
            if edge is not None:
                return np.concatenate([edge[c], seg_cols[c]])
            return seg_cols[c]

        if edge is not None:
            raw_ts = np.concatenate([edge[TS], seg_ts])
        else:
            raw_ts = seg_ts
        # .tolist() once per sweep: the add/retract step loop reads these
        # per element, and numpy scalar extraction (+ the .item() hashable
        # conversion it forces) is ~3x a plain list index. tolist preserves
        # None in object arrays and yields float nan for float arrays —
        # the same None-check semantics as element access (r10).
        def _lcol(c):
            return _col(c).tolist()

        craw = [
            (
                _lcol(s.col),
                _lcol(s.cat_col),
                _lcol(s.cond_col) if s.cond_col is not None else None,
            )
            for s in self.cate_specs
        ]
        hraw = [_lcol(s.col) for s in self.top_specs]
        rraw = [
            (_lcol(s.col), _lcol(s.cond_col), _lcol(s.cat_col))
            for s in self.ratio_specs
        ]

        # --- scalar specs: vectorized across emissions. The dynamic window
        # of emission t is raw rows [searchsorted(t-L), searchsorted(t)) —
        # count/sum/s2 are cumsum diffs, min/max are sparse-table range
        # queries, all numpy (the per-row add/retract loop below now runs
        # only for the category/top/ratio families; it was the measured
        # dominant handler cost at 100×, 88% of handler CPU in SCALING.md).
        emit_t = seg_ts[emit_idx]
        E = len(emit_idx)
        his = np.searchsorted(raw_ts, emit_t, side="right")
        los = np.searchsorted(raw_ts, emit_t - self.L, side="left")
        width = his - los

        def _range_reduce(vals, op, fill):
            """Range ``op`` over [los, his) per emission via a sparse table
            (O(n log n) build, O(1) vectorized query per emission)."""
            out = np.full(E, fill, dtype=vals.dtype)
            pos = width > 0
            if not pos.any():
                return out
            w, lo, hi = width[pos], los[pos], his[pos]
            k = (np.frexp(w.astype(np.float64))[1] - 1).astype(np.int64)
            levels = [vals]
            for m in range(1, int(k.max()) + 1):
                prev = levels[-1]
                half = 1 << (m - 1)
                levels.append(op(prev[: len(prev) - half], prev[half:]))
            res = np.empty(len(w), dtype=vals.dtype)
            for kv in np.unique(k).tolist():
                rows = k == kv
                lvl = levels[kv]
                res[rows] = op(lvl[lo[rows]], lvl[hi[rows] - (1 << kv)])
            out[pos] = res
            return out

        _MOMENT_OPS = ("stddev_samp", "stddev_pop", "var_samp", "var_pop")
        need_mm = [any(s.op in ("min", "max") and s.col == c for s in self.specs) for c in self.inputs]
        need_s2 = [
            any(s.op in _MOMENT_OPS and s.col == c for s in self.specs)
            for c in self.inputs
        ]
        I64_MAX, I64_MIN = np.iinfo(np.int64).max, np.iinfo(np.int64).min
        if seg_typed is None:  # direct callers without the batch-level views
            seg_typed = self._typed_inputs(seg_cols, None)
            edge_typed = (
                self._typed_inputs(
                    edge, {c: seg_typed[c][2] for c in self.inputs}
                )
                if edge is not None
                else None
            )
        dyn = []
        for j, c in enumerate(self.inputs):
            mask, vals, int_path = seg_typed[c]
            if edge_typed is not None:
                em, ev, _ = edge_typed[c]
                mask = np.concatenate([em, mask])
                vals = np.concatenate([ev, vals])
            d: dict = {"int": int_path}
            cc = np.concatenate(
                [[0], np.cumsum(mask.astype(np.int64))]
            )
            d["n"] = cc[his] - cc[los]
            if int_path:
                cs = np.concatenate(
                    [[0], np.cumsum(np.where(mask, vals, 0))]
                )
                d["s"] = cs[his] - cs[los]
                if need_mm[j]:
                    d["mn"] = _range_reduce(
                        np.where(mask, vals, I64_MAX), np.minimum, I64_MAX
                    )
                    d["mx"] = _range_reduce(
                        np.where(mask, vals, I64_MIN), np.maximum, I64_MIN
                    )
                fl = vals.astype(np.float64)
            else:
                fl = vals
                cs = np.concatenate(
                    [[0.0], np.cumsum(np.where(mask, fl, 0.0))]
                )
                d["s"] = cs[his] - cs[los]
                if need_mm[j]:
                    d["mn"] = _range_reduce(fl, np.fmin, np.nan)
                    d["mx"] = _range_reduce(fl, np.fmax, np.nan)
            if need_s2[j]:
                cs2 = np.concatenate(
                    [[0.0], np.cumsum(np.where(mask, fl * fl, 0.0))]
                )
                d["s2"] = cs2[his] - cs2[los]
            dyn.append(d)

        scalar_out: dict[str, list] = {}
        for s in self.specs:
            j = self.inputs.index(s.col)
            d = dyn[j]
            sn, ss, ss2, smn, smx = static[j]
            N = sn + d["n"]
            none_mask = N == 0
            if s.op == "count":
                lst = N.tolist()
                none_mask = None
            elif s.op == "sum":
                lst = (ss + d["s"]).tolist()
            elif s.op == "avg":
                lst = ((ss + d["s"]) / np.maximum(N, 1)).tolist()
            elif s.op in ("min", "max"):
                ext = d["mn"] if s.op == "min" else d["mx"]
                if d["int"]:
                    sent = (I64_MAX, I64_MIN)[s.op == "max"]
                    stat = sent if (smn if s.op == "min" else smx) is None \
                        else (smn if s.op == "min" else smx)
                    V = (np.minimum if s.op == "min" else np.maximum)(
                        ext, stat
                    )
                else:
                    stat = np.nan if (smn if s.op == "min" else smx) is None \
                        else (smn if s.op == "min" else smx)
                    V = (np.fmin if s.op == "min" else np.fmax)(ext, stat)
                    none_mask = none_mask | np.isnan(V)
                lst = V.tolist()
            else:  # var/stddev family
                Sf = (ss + d["s"]).astype(np.float64)
                S2 = ss2 + d["s2"]
                m2 = np.maximum(S2 - Sf * Sf / np.maximum(N, 1), 0.0)
                if s.op in ("var_pop", "stddev_pop"):
                    V = m2 / np.maximum(N, 1)
                else:
                    none_mask = none_mask | (N < 2)
                    V = m2 / np.maximum(N - 1, 1)
                if s.op.startswith("stddev"):
                    V = np.sqrt(V)
                lst = V.tolist()
            if none_mask is not None:
                for i0 in np.flatnonzero(none_mask).tolist():
                    lst[i0] = None
            if s.finish is not None:
                lst = [None if v is None else s.finish(v) for v in lst]
            scalar_out[s.name] = lst
        # dynamic per-category sub-accumulators — the same arithmetic the
        # untiled CateAccumulator runs; rendering caches per-category parts
        # and re-formats only categories a step touched (per-row render cost
        # O(changed), mirroring the untiled CSV cache)
        cdyn: list[dict] = [{} for _ in range(nc)]
        cparts: list[dict] = [{} for _ in range(nc)]
        # prime the render cache with every static-tile category ONCE — every
        # later mutation flows through the dirty set, so the per-emission
        # render never rescans static∪dynamic keys
        cdirty: list[set] = [set(cstatic[j]) for j in range(nc)]
        # top/ratio keep the MERGED structure incrementally (static copy +
        # dynamic steps applied in place) — no per-row Counter re-merge
        hmerged: list[Counter] = [c.copy() for c in hstatic]
        htotal: list[int] = [sum(c.values()) for c in hstatic]
        rmerged: list[dict] = [
            {cat: list(v) for cat, v in m.items()} for m in rstatic
        ]
        # r10 render vectorization: each render family keeps an
        # INCREMENTALLY SORTED view (bisect insert/remove, synced from the
        # dirty set at render time) instead of re-sorting the whole
        # category/value space per emitted row, and a spec whose state no
        # step touched since its last render reuses the previous output
        # string outright. Exactness: the sorted views are pure functions
        # of the same merged state the from-scratch sorts read, and every
        # state mutation passes through a dirty set.
        csorted: list[list] = [[] for _ in range(nc)]
        clast: list = [_UNSET] * nc
        hdirty: list[set] = [set(c) for c in hmerged]
        hview: list[dict] = [{} for _ in range(nt)]
        hvals: list[list] = [[] for _ in range(nt)]
        hcv: list[list] = [[] for _ in range(nt)]
        hlast: list = [_UNSET] * nt
        rdirty: list[set] = [set(m) for m in rmerged]
        rview: list[dict] = [{} for _ in range(nrt)]
        rsorted: list[list] = [[] for _ in range(nrt)]
        rlast: list = [_UNSET] * nrt

        def cate_step(j, idx, sign):
            # raw columns are plain Python lists (tolist'd once above), so
            # values are already native/hashable — no .item() needed.
            # `v != v` drops float NaN like None (r10 review): NaN keys
            # corrupt the bisect-maintained views (all NaN comparisons are
            # False, so removal targets the wrong entry) and NaN dict keys
            # were already identity-chaotic pre-r10 — NaN-as-null is the
            # one well-defined semantic.
            vals, cats, conds = craw[j]
            v, cat = vals[idx], cats[idx]
            if (
                cat is None
                or v is None
                or v != v
                or cat != cat
                or (
                    conds is not None
                    and (
                        conds[idx] is None
                        or conds[idx] != conds[idx]
                        or not conds[idx]
                    )
                )
            ):
                return
            cdirty[j].add(cat)
            acc = cdyn[j].get(cat)
            if sign > 0:
                if acc is None:
                    acc = cdyn[j][cat] = SubAcc(self.cate_specs[j].op)
                acc.add(v)
            elif acc is not None:
                acc.retract(v)
                if acc.empty:
                    del cdyn[j][cat]

        def top_step(j, idx, sign):
            v = hraw[j][idx]
            if v is None or v != v:  # NaN-as-null, see cate_step
                return
            hmerged[j][v] += sign
            htotal[j] += sign
            hdirty[j].add(v)
            if hmerged[j][v] == 0:
                del hmerged[j][v]

        def ratio_step(j, idx, sign):
            vals, conds, cats = rraw[j]
            v, cat = vals[idx], cats[idx]
            if cat is None or v is None or v != v or cat != cat:
                return
            rdirty[j].add(cat)
            cur = rmerged[j].get(cat)
            if cur is None:
                cur = rmerged[j][cat] = [0, 0]
            cur[0] += sign
            c = conds[idx]
            # absent cond counts den-only (r11, advisor): a NaN riding a
            # float cond column is truthy in Python but must mean
            # cond-false, matching SQL WHERE-null and the untiled families
            if c is not None and c == c and c:
                cur[1] += sign

        nr = len(raw_ts)
        rts = raw_ts.tolist()  # list index beats numpy scalar extraction
        out_vals: dict[str, list] = {
            s.name: []
            for s in self.cate_specs + self.top_specs + self.ratio_specs
        }
        if nc or nt or nrt:
            lo = hi = 0
            for i in emit_idx:
                t = int(seg_ts[i])
                while hi < nr and rts[hi] <= t:
                    for j in range(nc):
                        cate_step(j, hi, +1)
                    for j in range(nt):
                        top_step(j, hi, +1)
                    for j in range(nrt):
                        ratio_step(j, hi, +1)
                    hi += 1
                bound = t - self.L
                while lo < hi and rts[lo] < bound:
                    for j in range(nc):
                        cate_step(j, lo, -1)
                    for j in range(nt):
                        top_step(j, lo, -1)
                    for j in range(nrt):
                        ratio_step(j, lo, -1)
                    lo += 1
                for j, s in enumerate(self.cate_specs):
                    if cdirty[j] or clast[j] is _UNSET:
                        clast[j] = self._render_cate(
                            s, cstatic[j], cdyn[j], cparts[j],
                            csorted[j], cdirty[j],
                        )
                        cdirty[j].clear()
                    out_vals[s.name].append(clast[j])
                for j, s in enumerate(self.top_specs):
                    if hdirty[j] or hlast[j] is _UNSET:
                        hlast[j] = self._render_top(
                            s, hmerged[j], htotal[j], hview[j],
                            hvals[j], hcv[j], hdirty[j],
                        )
                        hdirty[j].clear()
                    out_vals[s.name].append(hlast[j])
                for j, s in enumerate(self.ratio_specs):
                    if rdirty[j] or rlast[j] is _UNSET:
                        rlast[j] = self._render_ratio(
                            s, rmerged[j], rview[j], rsorted[j], rdirty[j]
                        )
                        rdirty[j].clear()
                    out_vals[s.name].append(rlast[j])
        out_vals.update(scalar_out)

        n_emit = len(emit_idx)
        res = {k: [kv] * n_emit for k, kv in zip(self.keys, kt)}
        res[TS] = seg_ts[emit_idx]
        for c in self.out_pass:
            res[c] = seg_cols[c][emit_idx]
        res.update(out_vals)
        return res

    @staticmethod
    def _finish_op(op, N, S, S2, smn, smx, mmacc):
        if op == "count":
            return int(N)
        if N == 0:
            return None
        if op == "sum":
            return S
        if op == "avg":
            return S / N
        if op == "min":
            dmn = mmacc.min() if mmacc is not None and not mmacc.empty else None
            vals = [v for v in (smn, dmn) if v is not None]
            return min(vals) if vals else None
        if op == "max":
            dmx = mmacc.max() if mmacc is not None and not mmacc.empty else None
            vals = [v for v in (smx, dmx) if v is not None]
            return max(vals) if vals else None
        m2 = S2 - (float(S) * float(S)) / N
        if op == "var_pop":
            return max(m2, 0.0) / N
        if op == "stddev_pop":
            return math.sqrt(max(m2, 0.0) / N)
        if N < 2:
            return None
        if op == "var_samp":
            return max(m2, 0.0) / (N - 1)
        return math.sqrt(max(m2, 0.0) / (N - 1))

    @staticmethod
    def _render_cate(
        spec, static_map, dyn_map, parts_cache, sorted_view, dirty
    ) -> str:
        """Merge static tile partials with dynamic sub-accumulators per
        category and render the reference CSV — plain form sorts the
        "cat:val" parts (CateAccumulator.result()); the top_n form
        (spec.order set) orders by category desc / metric desc with
        category-desc tiebreak and limits to k (GroupedAggTopK.result()).

        ``parts_cache`` keeps {cat: (metric, part_str)} across emissions of
        one key sweep; only categories a step marked ``dirty`` re-evaluate.
        ``sorted_view`` is the incrementally maintained sorted entry list
        (r10): dirty categories bisect-remove their old entry and
        bisect-insert the new one, so the render never re-sorts the whole
        category space — its cost is O(dirty·log C + output)."""
        op, scale = spec.op, spec.scale

        def _eval(cat):
            sn, ss, smn, smx = static_map.get(cat, (0, 0, None, None))
            acc = dyn_map.get(cat)
            dn = acc.sum.n if acc is not None else 0
            ds = acc.sum.s if acc is not None else 0
            N = sn + dn
            if N == 0:
                return None
            if op == "count":
                metric = N
            elif op == "sum":
                metric = (ss + ds) / scale
            elif op == "avg":
                metric = (ss + ds) / scale / N
            else:
                dmm = None
                if acc is not None and acc.mm is not None:
                    dmm = acc.mm.min() if op == "min" else acc.mm.max()
                s_ext = smn if op == "min" else smx
                cands = [v for v in (s_ext, dmm) if v is not None]
                if not cands:
                    return None
                metric = (min(cands) if op == "min" else max(cands)) / scale
            if metric != metric:  # NaN (e.g. NaN static partials): treat
                return None  # as no-value — a NaN sort key breaks bisect
            cat_s = scalar_to_string(cat)
            m_s = scalar_to_string(metric)
            if cat_s is None or m_s is None:
                return None
            return (metric, f"{cat_s}:{m_s}")

        # only categories a step touched re-evaluate; static categories are
        # marked dirty once at sweep start (no static∪dynamic rescan here).
        # Entry shape in sorted_view: part-string (plain form, lexicographic
        # — CateAccumulator's full-string sort), (cat, part) for order='key',
        # (metric, cat, part) for order='value'; ascending lists rendered
        # back-to-front reproduce the reverse=True sorts exactly (cat is
        # unique per entry, so ties cannot reorder).
        order = spec.order
        for cat in dirty:
            old = parts_cache.get(cat)
            r = _eval(cat)
            if r == old:
                continue
            if old is not None:
                if order is None:
                    entry = old[1]
                elif order == "key":
                    entry = (cat, old[1])
                else:
                    entry = (old[0], cat, old[1])
                del sorted_view[bisect_left(sorted_view, entry)]
                del parts_cache[cat]
            if r is not None:
                parts_cache[cat] = r
                if order is None:
                    insort(sorted_view, r[1])
                elif order == "key":
                    insort(sorted_view, (cat, r[1]))
                else:
                    insort(sorted_view, (r[0], cat, r[1]))

        if order is None:
            return join_csv(sorted_view)
        if spec.k <= 0:
            return ""
        if order == "key":
            return join_csv([e[1] for e in sorted_view[-spec.k:][::-1]])
        return join_csv([e[2] for e in sorted_view[-spec.k:][::-1]])

    @staticmethod
    def _render_top(spec, merged, total, view, vals, cv, dirty):
        """Render the incrementally maintained merged multiset. The
        topn_frequency/top1_ratio forms inline the exact arithmetic of
        FrequencyAccumulator (_ranked: count desc, value desc; top1_ratio:
        max count / total); bit-parity with the untiled accumulators is
        pinned by test_top_ratio_ordered_specs_vs_untiled_accumulators.

        r10: the per-emission from-scratch sorts are replaced by sorted
        views synced from the dirty-value set — ``vals`` (distinct values,
        ascending; top/quantile) and ``cv`` ((count, value) ascending;
        topn_frequency/top1_ratio), with ``view`` holding the count each
        value had when last synced. The views are pure functions of
        ``merged``, so the rendered output is unchanged."""
        op = spec.op
        if dirty and op != "count_distinct":
            if op in ("top", "quantile"):
                for v in dirty:
                    cur = merged.get(v, 0)
                    prev = view.get(v, 0)
                    if (cur > 0) != (prev > 0):
                        if cur > 0:
                            insort(vals, v)
                        else:
                            del vals[bisect_left(vals, v)]
                    if cur:
                        view[v] = cur
                    else:
                        view.pop(v, None)
            else:
                for v in dirty:
                    cur = merged.get(v, 0)
                    prev = view.get(v, 0)
                    if cur == prev:
                        continue
                    if prev:
                        del cv[bisect_left(cv, (prev, v))]
                    if cur:
                        insort(cv, (cur, v))
                        view[v] = cur
                    else:
                        view.pop(v, None)
        if op == "count_distinct":
            return len(merged)
        if op == "quantile":
            if not merged:
                return None
            rank = math.ceil(spec.q * total)  # total == sum(merged.values())
            cum = 0
            for v in vals:
                cum += merged[v]
                if cum >= rank:
                    return v
            return v  # pragma: no cover — rank <= total by construction
        if op == "top":
            # TopValueAccumulator.result() over the maintained value order
            if spec.k <= 0:
                return ""
            parts: list[str] = []
            for v in reversed(vals):
                take = min(spec.k - len(parts), merged[v])
                s = scalar_to_string(v) or ""
                parts.extend([s] * take)
                if len(parts) >= spec.k:
                    break
            return join_csv(parts)
        if op == "top1_ratio":
            if total <= 0 or not merged:
                return 0.0
            return cv[-1][0] / total
        if not spec.k or spec.k <= 0:
            return ""
        return join_csv(
            [scalar_to_string(v) or "" for _, v in cv[-spec.k:][::-1]]
        )

    @staticmethod
    def _render_ratio(spec, merged, view, sorted_view, dirty) -> str:
        """RatioTopK.result() over the incrementally merged (rows,
        cond-true) pairs; entries whose row count hit zero stay in the map
        and are skipped here (same as RatioTopK's deletion).

        r10: ``sorted_view`` keeps (cat, part) [order='key'] or
        (ratio, cat, part) [order='value'] entries ascending, synced from
        the dirty-category set; parts are formatted once per change, not
        once per emission, and the ascending list rendered back-to-front
        reproduces the reverse=True sort (cat unique ⇒ no tie reorder)."""
        bykey = spec.order == "key"
        for cat in dirty:
            e = merged.get(cat)
            entry = None
            if e is not None and e[0] > 0:
                cs = scalar_to_string(cat)
                if cs is not None:
                    r = e[1] / e[0]
                    part = f"{cs}:{format_float(r)}"
                    entry = (cat, part) if bykey else (r, cat, part)
            old = view.get(cat)
            if entry == old:
                continue
            if old is not None:
                del sorted_view[bisect_left(sorted_view, old)]
            if entry is not None:
                insort(sorted_view, entry)
                view[cat] = entry
            else:
                view.pop(cat, None)
        if spec.k <= 0:
            return ""
        return join_csv([e[-1] for e in sorted_view[-spec.k:][::-1]])


def tiled_sliding_window_stream(
    df: DataFrame,
    key_cols: str | list[str],
    ts_col: str,
    frame: RangeFrame,
    specs: list[TiledSpec],
    passthrough: list[str],
    lateness: str = "10 minutes",
    granularity: str | list[str] | None = None,
    prepared: dict | None = None,
    n_buckets: int = 64,
    spill_root: str | None = None,
) -> DataFrame:
    """Streaming per-row sliding windows with tiled state (see module doc).

    Same contract as ``sliding_window_stream`` but per-key state is
    O(window/granularity + open-bucket rows); RANGE frames only.
    """
    if not isinstance(frame, RangeFrame):
        raise ValueError("tiled windows are time-bucketed; use a RANGE frame "
                         "(the untiled handler covers ROWS frames)")
    import volga_spark.formatting as _fmt
    import volga_spark.functions.accumulators as _acc
    import volga_spark.streaming.tiled_window as _self

    register_by_value(_self, _acc, _fmt)

    from pyspark.sql.streaming.state import GroupStateTimeout

    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    L = frame.micros
    if granularity is None:
        g = [_auto_granularity_us(L)]
    elif isinstance(granularity, (list, tuple)):
        # multi-granularity ladder, fine→coarse (reference tiles.rs tree)
        g = [interval_to_micros(x) for x in granularity]
    else:
        g = [interval_to_micros(granularity)]
    # When no spill_root is given, derive it at RUN time from the streaming
    # query id (Spark persists it in the checkpoint metadata and republishes
    # it as a task-local property every micro-batch), so a query restarted
    # from its checkpoint lands on the same row store — a per-plan uuid here
    # would hand the restart a fresh, empty store while the checkpointed
    # state still references closed buckets (the _sweep_key coverage guard
    # would then fail the query instead of silently under-counting). The
    # plan-time token only backstops non-streaming/test invocations.
    plan_token = uuid.uuid4().hex[:12]

    work = df
    for name, expr in (prepared or {}).items():
        work = work.withColumn(name, expr)
    work = work.withColumn(TS, F.unix_micros(F.col(ts_col)))
    work = work.withColumn(
        BKT, F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast("int")
    )
    work = work.withWatermark(ts_col, lateness)

    scalar_specs = [s for s in specs if isinstance(s, TiledSpec)]
    cate_specs = [s for s in specs if isinstance(s, TiledCateSpec)]
    top_specs = [s for s in specs if isinstance(s, TiledTopSpec)]
    ratio_specs = [s for s in specs if isinstance(s, TiledRatioSpec)]
    inputs = sorted({s.col for s in scalar_specs})
    out_pass = [c for c in passthrough if c not in keys and c != ts_col]
    schema = {f.name: f.dataType.simpleString() for f in work.schema.fields}

    core = _GroupCore(
        keys,
        inputs,
        out_pass,
        L,
        g,
        scalar_specs,
        None,  # spill_path resolved per-task in the handler
        cate_specs,
        top_specs,
        ratio_specs,
        # integer-accumulation set: EVERY column whose partials land in a
        # schema-typed numeric state slot — scalar-spec inputs AND cate-spec
        # value columns (r12, found by the tiled-stream fuzzer: a
        # TiledCateSpec over a bigint column with NO scalar spec on the
        # same column used the float partial path, and the floats written
        # into the array<array<bigint>> gs/gm/gx slots were silently
        # NULLED on the state round trip — the r04 mistyped-slot gotcha.
        # Every prior workload happened to pair cate specs with a scalar
        # spec over the same column, which masked it.)
        int_inputs={
            c
            for c in set(inputs) | {s.col for s in cate_specs}
            if schema[c] in ("bigint", "int", "smallint", "tinyint")
        },
    )
    state_schema = core.state_fields(schema)

    key_fields = ", ".join(f"`{k}` {schema[k]}" for k in keys)
    pass_fields = "".join(f", `{c}` {schema[c]}" for c in out_pass)
    all_specs = scalar_specs + cate_specs + top_specs + ratio_specs
    spec_fields = "".join(f", `{s.name}` {s.out_type}" for s in all_specs)
    out_schema = f"{key_fields}, {TS} bigint{pass_fields}{spec_fields}"

    def handler(bucket, pdfs, state):
        root = spill_root
        if root is None:
            from pyspark import TaskContext

            tc = TaskContext.get()
            qid = tc.getLocalProperty("sql.streaming.queryId") if tc else None
            root = os.path.join(
                "/tmp/volga_spark_rowstore",
                f"q{qid}" if qid else f"plan{plan_token}",
            )
        core.spill_path = os.path.join(root, f"b{bucket[0]}")
        new = pd.concat(list(pdfs), ignore_index=True)
        wm_us = state.getCurrentWatermarkMs() * 1000
        st = core.load(tuple(state.get)) if state.exists else core.empty_state()
        out, st = core.advance(st, new, wm_us)
        state.update(core.dump(st))
        if out is not None and len(out):
            yield out

    out = work.groupBy(BKT).applyInPandasWithState(
        handler,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = out.withColumn(ts_col, F.timestamp_micros(F.col(TS))).drop(TS)
    return out.select(*keys, ts_col, *out_pass, *[s.name for s in all_specs])
