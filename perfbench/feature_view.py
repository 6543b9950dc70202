"""The one feature view every feature workload shares, and its independent
DuckDB recomputation.

``w7`` is a 7-day RANGE window holding ``count(*)``, ``sum(value)``,
``sum_cate(value, event_type)`` and ``topn_frequency(event_type, 3)``;
``wr`` is a ``ROWS 1000 PRECEDING`` window holding ``min(value)`` and
``max(value)``. Both are ``PARTITION BY user_id ORDER BY ts``.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

SQL = """
SELECT event_id, user_id, ts, value,
       count(*) OVER w7 AS cnt_7d,
       sum(value) OVER w7 AS sum_7d,
       sum_cate(value, event_type) OVER w7 AS sum_cate_7d,
       topn_frequency(event_type, 3) OVER w7 AS top3_type_7d,
       min(value) OVER wr AS min_r1000,
       max(value) OVER wr AS max_r1000
FROM events
WINDOW w7 AS (PARTITION BY user_id ORDER BY ts
              RANGE BETWEEN INTERVAL '7' DAY PRECEDING AND CURRENT ROW),
       wr AS (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN 1000 PRECEDING AND CURRENT ROW)
"""

W7_COLS = ("cnt_7d", "sum_7d", "sum_cate_7d", "top3_type_7d")
WR_COLS = ("min_r1000", "max_r1000")
FEATURE_COLS = W7_COLS + WR_COLS
ROWS_PRECEDING = 1000


def pipeline_spec(events_path: str):
    from volga_spark.api.pipeline import PipelineSpec, SourceSpec

    return PipelineSpec(sql=SQL, sources=[SourceSpec("events", parquet=events_path)])


def w7_sliding_specs():
    """The ``w7`` ML calls alone, as the sweep layer receives them."""
    from volga_spark.functions.cate_top import sum_cate, topn_frequency

    return [
        sum_cate("sum_cate_7d", "value", "event_type"),
        topn_frequency("top3_type_7d", "event_type", 3),
    ]


NATIVE_SQL = """
SELECT event_id,
       count(*) OVER w7 AS cnt_7d,
       sum(value) OVER w7 AS sum_7d,
       min(value) OVER wr AS min_r1000,
       max(value) OVER wr AS max_r1000
FROM events
WINDOW w7 AS (PARTITION BY user_id ORDER BY ts
              RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW),
       wr AS (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN 1000 PRECEDING AND CURRENT ROW)
"""


def tiled_stream(stream, spill_root: str):
    """``w7`` over a stream with tiled state (RANGE frames only: the tiled
    handler has no ROWS frame, so ``wr`` is not part of the streaming view)."""
    from volga_spark.operators.window import range_frame
    from volga_spark.streaming.tiled_window import (
        TiledCateSpec,
        TiledSpec,
        TiledTopSpec,
        tiled_sliding_window_stream,
    )

    return tiled_sliding_window_stream(
        stream,
        key_cols="user_id",
        ts_col="ts",
        frame=range_frame("7 days"),
        specs=[
            TiledSpec("cnt_7d", "count", "value", "bigint"),
            TiledSpec("sum_7d", "sum", "value", "double"),
            TiledCateSpec("sum_cate_7d", "sum", "value", "event_type"),
            TiledTopSpec("top3_type_7d", "topn_frequency", "event_type", k=3),
        ],
        passthrough=["event_id", "value"],
        lateness="0 seconds",
        spill_root=spill_root,
    )


# -- independent recomputation -------------------------------------------


def expected_at_points(events: pd.DataFrame, points: pd.DataFrame) -> dict[int, dict]:
    """Feature values at ``points(request_id, user_id, ts)`` by brute force.

    ``w7`` covers state rows with ``ts`` in ``[p.ts - 7 days, p.ts]``; at a
    point that is not a stored row, ``wr`` covers the last 1000 state rows at
    or before ``p.ts`` (the point takes the current-row slot)."""
    return _expected(events, points, preceding=ROWS_PRECEDING)


def expected_at_rows(events: pd.DataFrame, rows: pd.DataFrame) -> dict[int, dict]:
    """Feature values at stored rows ``(request_id=event_id, user_id, ts)``:
    the row itself is in both frames, so ``wr`` covers 1001 rows."""
    return _expected(events, rows, preceding=ROWS_PRECEDING + 1)


def _expected(events: pd.DataFrame, points: pd.DataFrame, preceding: int) -> dict[int, dict]:
    """request_id -> expected feature record."""
    # epoch microseconds: integer window bounds, no time-zone arithmetic
    ev = events[["user_id", "event_type", "value"]].assign(ts=_micros(events["ts"]))
    pts = points[["request_id", "user_id"]].assign(ts=_micros(points["ts"]))
    con = duckdb.connect()
    try:
        con.register("events", ev)
        con.register("points", pts)
        per_type = con.execute(
            """
            SELECT p.request_id, e.event_type, count(*) AS n, sum(e.value) AS s
            FROM points p JOIN events e
              ON e.user_id = p.user_id
             AND e.ts BETWEEN p.ts - 604800000000 AND p.ts
            GROUP BY 1, 2
            """
        ).df()
        rows = con.execute(
            f"""
            SELECT request_id, min(value) AS min_r1000, max(value) AS max_r1000
            FROM (
                SELECT p.request_id, e.value,
                       row_number() OVER (PARTITION BY p.request_id
                                          ORDER BY e.ts DESC) AS rn
                FROM points p JOIN events e
                  ON e.user_id = p.user_id AND e.ts <= p.ts
            )
            WHERE rn <= {int(preceding)}
            GROUP BY 1
            """
        ).df()
    finally:
        con.close()
    out = {}
    for rid, g in per_type.groupby("request_id"):
        counts = dict(zip(g["event_type"], g["n"]))
        sums = dict(zip(g["event_type"], g["s"]))
        ranked = sorted(counts.items(), key=lambda kv: (kv[1], kv[0]), reverse=True)
        out[int(rid)] = {
            "cnt_7d": int(sum(counts.values())),
            "sum_7d": float(sum(sums.values())),
            "sum_cate_7d": sums,
            "top3_type_7d": ",".join(k for k, _ in ranked[:3]),
        }
    mm = {
        int(r.request_id): (float(r.min_r1000), float(r.max_r1000))
        for r in rows.itertuples()
    }
    empty = {"cnt_7d": 0, "sum_7d": None, "sum_cate_7d": {}, "top3_type_7d": ""}
    recs = {}
    for rid in points["request_id"]:
        rid = int(rid)
        lo, hi = mm.get(rid, (None, None))
        recs[rid] = {**out.get(rid, empty), "min_r1000": lo, "max_r1000": hi}
    return recs


def _micros(ts: pd.Series):
    return pd.to_datetime(ts, utc=True).astype("datetime64[us, UTC]").astype("int64")


def _missing(x) -> bool:
    return x is None or (isinstance(x, float) and math.isnan(x))


def _same_num(got, want, tol: float) -> bool:
    if _missing(got) or _missing(want):
        return _missing(got) and _missing(want)
    return abs(float(got) - float(want)) <= tol * max(1.0, abs(float(want)))


def _parse_cate(s) -> dict[str, float]:
    if s is None or s == "":
        return {}
    out = {}
    for part in str(s).split(","):
        k, v = part.rsplit(":", 1)
        out[k] = float(v)
    return out


def mismatches(got: dict, want: dict, cols=FEATURE_COLS) -> list[str]:
    """Column names where a served/emitted row differs from the expected row.

    ``sum_7d`` is compared to 1e-9 relative (the engines add in different
    orders); the rendered ``sum_cate`` map to the 6 decimals it is printed
    with; counts, top-3 strings and min/max exactly. An empty window has
    count 0, no sum, an empty map and an empty top-3 string."""
    bad = []
    for c in cols:
        g, w = got.get(c), want.get(c)
        if c == "sum_cate_7d":
            gm = _parse_cate(g)
            ok = set(gm) == set(w) and all(
                abs(gm[k] - w[k]) <= 5e-7 + 1e-12 * abs(w[k]) for k in w
            )
        elif c == "sum_7d":
            ok = _same_num(g, w, 1e-9)
        elif c == "top3_type_7d":
            ok = (g or "") == w
        else:
            ok = _same_num(g, w, 0.0)
        if not ok:
            bad.append(c)
    return bad
