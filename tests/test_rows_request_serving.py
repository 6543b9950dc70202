"""ROWS-frame request serving (r13 — VERDICT #1).

The reference's request benchmark IS this shape: ``ROWS 10000 PRECEDING``,
plain MIN/MAX, ExecutionMode::Request (reference
window_operator_benchmark.rs:609-612), planned by ``plan_rows_points``
(aggregates/plain_points.rs:183-262). Semantics at a virtual point
(plain_points.rs:345-370): window_size = preceding + 1
(bucket_index.rs:485-499); the virtual point takes the current-row slot, so
the frame is the last ``preceding`` STATE rows at-or-before the request
cursor — rows at exactly the request ts count as at-or-before (the
``Cursor(ts, u64::MAX)`` seek), and request rows never consume stored
positions.

Covers: the native two-pass position-axis path (point_in_time_lookup), the
sweep path (point_in_time_ml_lookup), the SQL front end
(build_request_service), and a brute-force pandas oracle for all of them,
including co-timestamped state rows (tiebreak), co-keyed near-time request
flooding (the position-displacement hazard the old unguarded union path
had), requests before any state, and the preceding=0 edge.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pandas as pd
import pytest

from pyspark.sql import functions as F

from volga_spark.operators.request import (
    masked,
    point_in_time_lookup,
    point_in_time_ml_lookup,
)
from volga_spark.operators.window import rows_frame


def _state_pdf() -> pd.DataFrame:
    base = datetime(2024, 5, 1)
    rows = []
    i = 0
    for u in (1, 2):
        for k in range(40):
            # duplicate timestamps every 4th row -> the tiebreak matters
            ts = base + timedelta(seconds=30 * (k - (k % 4 == 3)))
            rows.append(
                {
                    "user_id": u,
                    "ts": ts,
                    "seq": i,
                    "value": float((i * 7) % 50) - 10.0,
                }
            )
            i += 1
    return pd.DataFrame(rows)


def _requests_pdf(state: pd.DataFrame) -> pd.DataFrame:
    base = datetime(2024, 5, 1)
    reqs = []
    rid = 0
    for u in (1, 2, 3):  # user 3 has NO state
        for k in (-2, 0, 3, 7, 15, 39, 80):
            # -2: before any state; 0/3/…: exactly ON a state ts (the
            # at-or-before tie case); 80: after all state
            reqs.append(
                {
                    "request_id": rid,
                    "user_id": u,
                    "ts": base + timedelta(seconds=30 * k),
                }
            )
            rid += 1
    # co-keyed request flood at one shared ts: every one of these must see
    # the SAME frame (requests must not displace state rows)
    for j in range(6):
        reqs.append(
            {
                "request_id": rid,
                "user_id": 1,
                "ts": base + timedelta(seconds=30 * 10),
            }
        )
        rid += 1
    return pd.DataFrame(reqs)


def _oracle(state: pd.DataFrame, reqs: pd.DataFrame, n: int) -> dict[int, dict]:
    """Brute-force reference model: last n state rows at-or-before rts by
    (ts, seq)."""
    out = {}
    for r in reqs.itertuples():
        s = state[(state.user_id == r.user_id) & (state.ts <= r.ts)]
        s = s.sort_values(["ts", "seq"]).tail(n)
        out[r.request_id] = {
            "cnt": len(s),
            "sum": None if s.empty else round(float(s.value.sum()), 6),
            "min": None if s.empty else float(s.value.min()),
            "max": None if s.empty else float(s.value.max()),
        }
    return out


STATE_PDF = _state_pdf()
REQS_PDF = _requests_pdf(STATE_PDF)


@pytest.fixture(scope="module")
def state_df(spark):
    return spark.createDataFrame(STATE_PDF).localCheckpoint()


@pytest.fixture(scope="module")
def reqs_df(spark):
    return spark.createDataFrame(REQS_PDF).localCheckpoint()


@pytest.mark.parametrize("n", [0, 1, 5, 23, 1000])
def test_native_rows_lookup_matches_bruteforce(spark, state_df, reqs_df, n):
    got = point_in_time_lookup(
        state_df.select("user_id", "ts", "seq", "value"),
        reqs_df,
        key_cols="user_id",
        ts_col="ts",
        frame=rows_frame(n),
        tiebreak="seq",
        agg_builder=lambda w: {
            "cnt": F.count(masked("value")).over(w),
            "s": F.sum(masked("value")).over(w),
            "mn": F.min(masked("value")).over(w),
            "mx": F.max(masked("value")).over(w),
        },
    ).collect()
    want = _oracle(STATE_PDF, REQS_PDF, n)
    assert len(got) == len(REQS_PDF)
    for row in got:
        w = want[row["request_id"]]
        assert row["cnt"] == w["cnt"], (n, row)
        if w["cnt"] == 0:
            assert row["s"] is None and row["mn"] is None and row["mx"] is None
        else:
            assert abs(row["s"] - w["sum"]) < 1e-9, (n, row, w)
            assert row["mn"] == w["min"] and row["mx"] == w["max"], (n, row, w)


@pytest.mark.parametrize("n", [1, 5, 23])
def test_sweep_rows_lookup_matches_bruteforce(spark, state_df, reqs_df, n):
    from volga_spark.functions.sliding import SlidingSpec

    class _Sum:  # local class -> cloudpickled by value
        def __init__(self):
            self.s = 0.0
            self.n = 0

        def add(self, v):
            if v is None or v != v:
                return
            self.s += v
            self.n += 1

        def retract(self, v):
            if v is None or v != v:
                return
            self.s -= v
            self.n -= 1

        def result(self):
            return self.s if self.n else None

    specs = [SlidingSpec("s", _Sum, ["__v"], "double")]
    got = point_in_time_ml_lookup(
        state_df.select("user_id", "ts", "seq", "value"),
        reqs_df,
        key_cols="user_id",
        ts_col="ts",
        frame=rows_frame(n),
        specs=specs,
        prepared={"__v": F.col("value")},
        tiebreak="seq",
    ).collect()
    want = _oracle(STATE_PDF, REQS_PDF, n)
    assert len(got) == len(REQS_PDF)
    for row in got:
        w = want[row["request_id"]]
        if w["cnt"] == 0:
            assert row["s"] is None, (n, row)
        else:
            assert abs(float(row["s"]) - w["sum"]) < 1e-9, (n, row, w)


def test_request_service_serves_rows_frames(spark, state_df, reqs_df):
    """The SQL front end compiles a ROWS window (the reference bench shape:
    plain MIN/MAX over ROWS N PRECEDING) into a working service, mixed with
    a RANGE window in the same spec (two sweeps joined on request_id)."""
    from volga_spark.api import PipelineSpec, SourceSpec

    sql = """
        SELECT user_id,
               min(value) OVER wr AS mn_rows,
               max(value) OVER wr AS mx_rows,
               count(value) OVER wr AS cnt_rows,
               sum(value) OVER wt AS sum_5m
        FROM st
        WINDOW wr AS (PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN 7 PRECEDING AND CURRENT ROW),
               wt AS (PARTITION BY user_id ORDER BY ts
                  RANGE BETWEEN INTERVAL '5' MINUTE PRECEDING AND CURRENT ROW)
    """
    spec = PipelineSpec(
        sql=sql,
        sources=[SourceSpec("st", dataframe=state_df)],
        execution_mode="request",
    )
    svc = spec.build_request_service(spark, tiebreak="seq")
    try:
        got = {r["request_id"]: r for r in svc.lookup(reqs_df).collect()}
    finally:
        svc.close()
    want = _oracle(STATE_PDF, REQS_PDF, 7)
    assert len(got) == len(REQS_PDF)
    for rid, row in got.items():
        w = want[rid]
        assert row["cnt_rows"] == w["cnt"], (rid, row, w)
        if w["cnt"]:
            assert row["mn_rows"] == w["min"] and row["mx_rows"] == w["max"]
        else:
            assert row["mn_rows"] is None and row["mx_rows"] is None
        # RANGE leg: trailing 5 minutes of state
        r = REQS_PDF[REQS_PDF.request_id == rid].iloc[0]
        s = STATE_PDF[
            (STATE_PDF.user_id == r.user_id)
            & (STATE_PDF.ts <= r.ts)
            & (STATE_PDF.ts >= r.ts - timedelta(minutes=5))
        ]
        if s.empty:
            assert row["sum_5m"] is None
        else:
            assert abs(float(row["sum_5m"]) - float(s.value.sum())) < 1e-9


def test_rows_flood_requests_share_one_frame(spark, state_df, reqs_df):
    """The six co-keyed co-timestamped flood requests must all return the
    identical frame — the failure mode of a naive union ROWS window is that
    each flood request displaces state rows from its neighbours' frames."""
    got = point_in_time_lookup(
        state_df.select("user_id", "ts", "seq", "value"),
        reqs_df,
        key_cols="user_id",
        ts_col="ts",
        frame=rows_frame(5),
        tiebreak="seq",
        agg_builder=lambda w: {
            "cnt": F.count(masked("value")).over(w),
            "s": F.sum(masked("value")).over(w),
        },
    ).collect()
    flood_ids = REQS_PDF.request_id.tail(6).tolist()
    flood = [r for r in got if r["request_id"] in flood_ids]
    assert len(flood) == 6
    assert len({(r["cnt"], r["s"]) for r in flood}) == 1
    assert flood[0]["cnt"] == 5


@pytest.mark.parametrize("n", [1, 3, 5, 23, 1000])
def test_rows_index_lookup_matches_bruteforce(spark, state_df, reqs_df, n):
    """The block-decomposed position index (the O(1)-per-request scale path
    for the reference's ROWS request-bench shape) must match the
    brute-force model on the same tie/flood/empty-frame cases as the
    two-pass native path — including frames that start exactly at a block
    boundary (same-block prefix case) and frames spanning one boundary."""
    from volga_spark.operators.rows_index import rows_lookup
    from volga_spark.operators.window import rows_frame as rf

    got = rows_lookup(
        state_df.select("user_id", "ts", "seq", "value"),
        reqs_df,
        key_cols="user_id",
        ts_col="ts",
        value_col="value",
        frame=rf(n),
        tiebreak="seq",
    ).collect()
    want = _oracle(STATE_PDF, REQS_PDF, n)
    assert len(got) == len(REQS_PDF)
    for row in got:
        w = want[row["request_id"]]
        assert row["cnt"] == w["cnt"], (n, row, w)
        if w["cnt"] == 0:
            assert row["sum_value"] is None
            assert row["min_value"] is None and row["max_value"] is None
        else:
            assert abs(row["sum_value"] - w["sum"]) < 1e-9, (n, row, w)
            assert row["min_value"] == w["min"], (n, row, w)
            assert row["max_value"] == w["max"], (n, row, w)


def test_rows_feature_service_duck_type(spark, state_df, reqs_df):
    from volga_spark.operators.rows_index import RowsFeatureService
    from volga_spark.operators.window import rows_frame as rf

    svc = RowsFeatureService(
        state_df.select("user_id", "ts", "seq", "value"),
        key_cols="user_id",
        ts_col="ts",
        value_col="value",
        frame=rf(7),
        tiebreak="seq",
    )
    try:
        want = _oracle(STATE_PDF, REQS_PDF, 7)
        tbl = svc.lookup(reqs_df, materialize=True)
        for d in tbl.to_pylist():
            assert d["cnt"] == want[d["request_id"]]["cnt"]
        pts = [
            (int(r.request_id), int(r.user_id), r.ts.to_pydatetime())
            for r in REQS_PDF.itertuples()
        ][:4]
        for d in svc.get_features(spark, pts):
            assert d["cnt"] == want[d["request_id"]]["cnt"]
    finally:
        svc.close()


def test_sql_rows_minmax_group_rides_the_sweep(
    spark, state_df, reqs_df, local_checkpoints
):
    """A ROWS group whose calls are all plain min/max/count (the reference
    request bench's own shape) rides the virtual-point sweep like a ROWS
    group carrying sum: both match the brute-force oracle, and neither
    builds or pins a rows index (no ``localCheckpoint``)."""
    from volga_spark.api import PipelineSpec, SourceSpec

    def _svc(sql):
        spec = PipelineSpec(
            sql=sql,
            sources=[SourceSpec("st", dataframe=state_df)],
            execution_mode="request",
        )
        return spec.build_request_service(spark, tiebreak="seq")

    eligible = _svc(
        """
        SELECT user_id,
               min(value) OVER w AS mn, max(value) OVER w AS mx,
               count(*) OVER w AS n_rows
        FROM st
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
        """
    )
    try:
        got = {r["request_id"]: r for r in eligible.lookup(reqs_df).collect()}
        want = _oracle(STATE_PDF, REQS_PDF, 9)
        for rid, row in got.items():
            w = want[rid]
            assert row["mn"] == w["min"] and row["mx"] == w["max"], (rid, row, w)
            # count(*) counts frame POSITIONS (state rows), not non-null
            # values — with this corpus (no nulls) they coincide
            assert row["n_rows"] == w["cnt"], (rid, row, w)
    finally:
        eligible.close()

    mixed = _svc(
        """
        SELECT user_id, sum(value) OVER w AS s, min(value) OVER w AS mn
        FROM st
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
        """
    )
    try:
        got = {r["request_id"]: r for r in mixed.lookup(reqs_df).collect()}
        want = _oracle(STATE_PDF, REQS_PDF, 9)
        for rid, row in got.items():
            w = want[rid]
            assert row["mn"] == w["min"], (rid, row, w)
            if w["cnt"]:
                assert abs(float(row["s"]) - w["sum"]) < 1e-9, (rid, row, w)
    finally:
        mixed.close()
    assert local_checkpoints == []


@pytest.mark.parametrize(
    "n,bucket",
    [
        (5, "auto"),
        (5, "1 second"),     # many buckets: part-B summary dominates
        (5, "1 hour"),       # one bucket: part-A edge probe dominates
        (1, "2 minutes"),
        (23, "30 seconds"),
        (1000, "auto"),
    ],
)
def test_bucketed_asof_matches_bruteforce(spark, state_df, reqs_df, n, bucket):
    """r13: the bucketed as-of (in-bucket edge probe + dense previous-bucket
    carry summary — the reference's bucket-index seek,
    bucket_span_for_rows_window) must match the brute-force model at every
    granularity: requests before any state miss both joins (p=0), requests
    past the last bucket clamp high, co-timestamped ties resolve by rn."""
    from volga_spark.operators.rows_index import rows_lookup
    from volga_spark.operators.window import rows_frame as rf

    got = rows_lookup(
        state_df.select("user_id", "ts", "seq", "value"),
        reqs_df,
        key_cols="user_id",
        ts_col="ts",
        value_col="value",
        frame=rf(n),
        tiebreak="seq",
        bucket=bucket,
    ).collect()
    want = _oracle(STATE_PDF, REQS_PDF, n)
    assert len(got) == len(REQS_PDF)
    for row in got:
        w = want[row["request_id"]]
        assert row["cnt"] == w["cnt"], (n, bucket, row, w)
        if w["cnt"] == 0:
            assert row["sum_value"] is None
            assert row["min_value"] is None and row["max_value"] is None
        else:
            assert abs(row["sum_value"] - w["sum"]) < 1e-9, (n, bucket, row, w)
            assert row["min_value"] == w["min"], (n, bucket, row, w)
            assert row["max_value"] == w["max"], (n, bucket, row, w)


def test_bucketed_service_pins_and_matches(spark, state_df, reqs_df):
    from volga_spark.operators.rows_index import RowsFeatureService
    from volga_spark.operators.window import rows_frame as rf

    svc = RowsFeatureService(
        state_df.select("user_id", "ts", "seq", "value"),
        key_cols="user_id",
        ts_col="ts",
        value_col="value",
        frame=rf(7),
        tiebreak="seq",
        bucket="auto",
    )
    try:
        assert svc._summary is not None and len(svc._ckpt_ids) == 2
        want = _oracle(STATE_PDF, REQS_PDF, 7)
        for d in svc.lookup(reqs_df, materialize=True).to_pylist():
            w = want[d["request_id"]]
            assert d["cnt"] == w["cnt"]
            if w["cnt"]:
                assert d["min_value"] == w["min"] and d["max_value"] == w["max"]
    finally:
        svc.close()


def test_concurrent_rows_lookups_share_one_service(spark, state_df, reqs_df):
    """K concurrent callers against ONE RowsFeatureService: lookups are
    pure reads over service-level pins (index + summary) — no per-batch
    pin lifecycle at all, so there is no consume-cadence and no
    cross-thread release hazard by construction. Every thread must get
    exact values for its own batch."""
    import threading

    from volga_spark.operators.rows_index import RowsFeatureService
    from volga_spark.operators.window import rows_frame as rf

    svc = RowsFeatureService(
        state_df.select("user_id", "ts", "seq", "value"),
        key_cols="user_id",
        ts_col="ts",
        value_col="value",
        frame=rf(7),
        tiebreak="seq",
        bucket="auto",
    )
    want = _oracle(STATE_PDF, REQS_PDF, 7)
    errors: list = []

    def caller(k: int) -> None:
        try:
            for _ in range(3):
                for d in svc.lookup(reqs_df, materialize=True).to_pylist():
                    w = want[d["request_id"]]
                    assert d["cnt"] == w["cnt"], (k, d, w)
                    if w["cnt"]:
                        assert d["min_value"] == w["min"], (k, d, w)
        except Exception as ex:  # noqa: BLE001 — surfaced to the main thread
            errors.append((k, ex))

    try:
        threads = [threading.Thread(target=caller, args=(k,)) for k in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, errors
    finally:
        svc.close()
    assert not svc._ckpt_ids


def test_http_serves_rows_service(spark, state_df):
    """The HTTP FeatureServer serves the duck-typed RowsFeatureService
    unchanged (lookup/get_features/key_cols/ts_col)."""
    import json
    import urllib.request

    from volga_spark.api.serving import FeatureServer
    from volga_spark.operators.rows_index import RowsFeatureService
    from volga_spark.operators.window import rows_frame as rf

    svc = RowsFeatureService(
        state_df.select("user_id", "ts", "seq", "value"),
        key_cols="user_id",
        ts_col="ts",
        value_col="value",
        frame=rf(5),
        tiebreak="seq",
        bucket="auto",
    )
    want = _oracle(STATE_PDF, REQS_PDF, 5)
    pts = REQS_PDF.head(6)
    try:
        with FeatureServer(spark, svc) as srv:
            req = urllib.request.Request(
                f"http://127.0.0.1:{srv.port}/features",
                data=json.dumps(
                    {
                        "requests": [
                            {
                                "request_id": int(r.request_id),
                                "user_id": int(r.user_id),
                                "ts": r.ts.isoformat(),
                            }
                            for r in pts.itertuples()
                        ]
                    }
                ).encode(),
                headers={"Content-Type": "application/json"},
                method="POST",
            )
            with urllib.request.urlopen(req, timeout=120) as resp:
                assert resp.status == 200
                body = json.loads(resp.read())
        feats = {f["request_id"]: f for f in body["features"]}
        assert len(feats) == len(pts)
        for rid, f in feats.items():
            w = want[rid]
            assert f["cnt"] == w["cnt"], (rid, f, w)
            if w["cnt"]:
                assert f["min_value"] == w["min"] and f["max_value"] == w["max"]
    finally:
        svc.close()


def test_rows_service_refresh_swaps_state(spark, state_df, reqs_df):
    """refresh(new_state) rebuilds + repins index and summary without
    replacing the service object (the HTTP server keeps serving through
    the swap); old pins are released, materialized pre-refresh results
    stay valid data."""
    from volga_spark.operators.rows_index import RowsFeatureService
    from volga_spark.operators.window import rows_frame as rf

    svc = RowsFeatureService(
        state_df.select("user_id", "ts", "seq", "value"),
        key_cols="user_id",
        ts_col="ts",
        value_col="value",
        frame=rf(7),
        tiebreak="seq",
        bucket="auto",
    )
    try:
        before = svc.lookup(reqs_df, materialize=True).to_pylist()
        old_ids = set(svc._ckpt_ids)
        assert len(old_ids) == 2

        # append a late batch: new rows after every existing ts for user 1
        extra = STATE_PDF.copy()
        extra = extra[extra.user_id == 1].tail(3).copy()
        extra["ts"] = extra["ts"] + pd.Timedelta(hours=2)
        extra["seq"] = extra["seq"] + 10_000
        extra["value"] = 999.0
        new_state = pd.concat([STATE_PDF, extra], ignore_index=True)
        svc.refresh(spark.createDataFrame(new_state).localCheckpoint())
        assert svc._ckpt_ids and svc._ckpt_ids.isdisjoint(old_ids)

        want = _oracle(new_state, REQS_PDF, 7)
        after = {
            d["request_id"]: d
            for d in svc.lookup(reqs_df, materialize=True).to_pylist()
        }
        for rid, d in after.items():
            w = want[rid]
            assert d["cnt"] == w["cnt"], (rid, d, w)
            if w["cnt"]:
                assert d["max_value"] == w["max"], (rid, d, w)
        # pre-refresh materialized results are plain data, still readable
        assert {d["request_id"] for d in before} == set(after)
        # a late request sees the appended rows after refresh
        late = spark.createDataFrame(
            [(9_999, 1, (STATE_PDF.ts.max() + pd.Timedelta(hours=3)).to_pydatetime())],
            "request_id long, user_id long, ts timestamp",
        )
        got = svc.lookup(late, materialize=True).to_pylist()[0]
        assert got["max_value"] == 999.0
    finally:
        svc.close()


def test_bucketed_lookup_plan_has_no_window(spark, state_df, reqs_df):
    """r13 plan pin: the bucketed as-of serves a lookup with NO window
    node — the per-batch plan is equality joins + a bounded aggregation
    over the in-bucket matches, never a sort/window over state. (The
    union strategy, by contrast, pays one window pass per batch.)"""
    from volga_spark.operators.rows_index import RowsFeatureService
    from volga_spark.operators.window import rows_frame as rf

    svc = RowsFeatureService(
        state_df.select("user_id", "ts", "seq", "value"),
        key_cols="user_id",
        ts_col="ts",
        value_col="value",
        frame=rf(7),
        tiebreak="seq",
        bucket="auto",
    )
    try:
        out = svc.lookup(reqs_df)
        out.collect()  # finalize the AQE plan before inspecting (r05 rule)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, plan[:2000]
    finally:
        svc.close()
