"""Several window frames in one virtual-point sweep.

``apply_sliding_aggs(groups=...)`` sweeps every ``(frame, specs)`` group of
one ``(partition, order)`` over the same sorted key groups, and a pipeline
request service answers a batch with one such sweep for all its frames,
whatever their frames and aggregates. These tests pin that each column of
the fused lookup equals its own frame's single-frame service row for row,
over a corpus with a NULL key, a key with no state, a request before a
key's first row, a request exactly on a state timestamp and co-timestamped
state rows ordered by ``tiebreak``; and that the rows index
(``RowsFeatureService``, ``rows_lookup``) answers that corpus, NULL-key
requests included, exactly as the sweep does.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from volga_spark.api.pipeline import PipelineSpec, SourceSpec
from volga_spark.functions.cate_top import sum_cate, top, topn_frequency
from volga_spark.functions.sliding import apply_sliding_aggs
from volga_spark.operators.request import request_frame
from volga_spark.operators.rows_index import RowsFeatureService, rows_lookup
from volga_spark.operators.window import range_frame, rows_frame

BASE = datetime(2024, 7, 1, 8, 0, 0)
COLS = ["request_id", "user_id", "ts"]

POINTS = [
    (0, 1, BASE + timedelta(minutes=50, milliseconds=250)),
    (1, 2, BASE + timedelta(minutes=95)),
    (2, None, BASE + timedelta(minutes=70, seconds=3)),
    (3, 99, BASE + timedelta(minutes=30)),  # a key with no state
    (4, 1, BASE + timedelta(minutes=170)),
    (5, 4, BASE + timedelta(minutes=10)),  # before user 4's first row
    (6, 4, BASE + timedelta(minutes=120)),
    (7, 3, BASE + timedelta(minutes=42)),  # exactly on a state timestamp
    (8, 2, BASE + timedelta(minutes=42)),
    (9, None, BASE + timedelta(minutes=179)),
]


@pytest.fixture(scope="module")
def state_df(spark):
    rows = []
    for i in range(160):
        user = [1, 2, 3, None][i % 4]
        # whole minutes only: many (user, ts) pairs repeat, so ROWS frames
        # depend on the seq tiebreak
        rows.append(
            (
                user,
                BASE + timedelta(minutes=(i * 7) % 180 // 3 * 3),
                float(((i * 37) % 200) - 60) / 4.0,
                ["click", "view", "buy"][(i * 5) % 3],
                i,
            )
        )
    for i in range(20):  # user 4's state starts at minute 60
        rows.append(
            (4, BASE + timedelta(minutes=60 + 2 * (i // 2)), float(i), "view", 1000 + i)
        )
    return spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, value double, event_type string, seq bigint"
    )


_W1H = "RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW"

# shape -> [(window name, frame clause, [(call, alias)])]; each window is a
# distinct frame, so each becomes its own group
SHAPES = {
    # q_request_ml_lookup: RANGE 1h ML calls + a conditioned RANGE 10m count
    "range_range": [
        (
            "w1h",
            _W1H,
            [
                ("sum_cate(CAST(round(value * 100) AS BIGINT), event_type)", "sc_1h"),
                ("top(value, 3)", "top3_1h"),
                ("top1_ratio(event_type)", "t1r_1h"),
            ],
        ),
        (
            "w10m",
            "RANGE BETWEEN INTERVAL '10' MINUTE PRECEDING AND CURRENT ROW",
            [("count_where(value, value > 10.0)", "cw_10m")],
        ),
    ],
    # the benchmark feature view: RANGE ML + natives, ROWS min/max/count
    "range_ml_rows_minmax": [
        (
            "w",
            _W1H,
            [
                ("count(*)", "cnt_1h"),
                ("sum(value)", "sum_1h"),
                ("sum_cate(value, event_type)", "sc_1h"),
                ("topn_frequency(event_type, 2)", "top2_1h"),
            ],
        ),
        (
            "wr",
            "ROWS BETWEEN 5 PRECEDING AND CURRENT ROW",
            [("min(value)", "min_r5"), ("max(value)", "max_r5"), ("count(*)", "n_r5")],
        ),
    ],
    # a ROWS sum/min group beside a ROWS max/count group
    "rows_sum_min": [
        (
            "r3",
            "ROWS BETWEEN 3 PRECEDING AND CURRENT ROW",
            [("sum(value)", "sum_r3"), ("min(value)", "min_r3")],
        ),
        (
            "r7",
            "ROWS BETWEEN 7 PRECEDING AND CURRENT ROW",
            [("max(value)", "max_r7"), ("count(*)", "n_r7")],
        ),
    ],
    # ROWS 0 PRECEDING: the virtual point is the whole frame
    "rows_zero": [
        (
            "r0",
            "ROWS BETWEEN 0 PRECEDING AND CURRENT ROW",
            [("count(*)", "n_r0"), ("min(value)", "min_r0")],
        ),
        ("w", _W1H, [("sum(value)", "sum_1h"), ("count(value)", "cnt_1h")]),
    ],
}


def _sql(windows) -> str:
    calls = ",\n       ".join(
        f"{call} OVER {w} AS {alias}" for w, _, cs in windows for call, alias in cs
    )
    defs = ",\n       ".join(
        f"{w} AS (PARTITION BY user_id ORDER BY ts {frame})" for w, frame, _ in windows
    )
    return f"SELECT user_id,\n       {calls}\nFROM st\nWINDOW {defs}"


def _service(spark, state_df, windows):
    spec = PipelineSpec(
        sql=_sql(windows),
        sources=[SourceSpec("st", dataframe=state_df)],
        execution_mode="request",
    )
    return spec.build_request_service(spark, tiebreak="seq")


def _by_id(rows) -> dict:
    return {r["request_id"]: r for r in rows}


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_fused_lookup_equals_each_frame_alone(spark, state_df, shape):
    windows = SHAPES[shape]
    fused = _service(spark, state_df, windows)
    try:
        assert len(fused._groups) == len(windows)
        got = _by_id(fused.get_features(spark, POINTS))
        # a non-local batch takes the unpruned plan: same rows
        got_rdd = _by_id(
            fused.lookup(
                spark.createDataFrame(POINTS, COLS), materialize=True
            ).to_pylist()
        )
    finally:
        fused.close()
    assert sorted(got) == [p[0] for p in POINTS]
    assert got == got_rdd
    for window in windows:
        alone = _service(spark, state_df, [window])
        try:
            want = _by_id(alone.get_features(spark, POINTS))
        finally:
            alone.close()
        for rid, row in want.items():
            for _, alias in window[2]:
                assert got[rid][alias] == row[alias], (shape, rid, alias)
    if shape == "rows_zero":
        # zero stored rows at a virtual point
        assert all(r["n_r0"] == 0 and r["min_r0"] is None for r in got.values())
    if shape == "range_ml_rows_minmax":
        assert got[3]["cnt_1h"] == 0 and got[3]["n_r5"] == 0  # stateless key
        assert got[5]["cnt_1h"] == 0 and got[5]["n_r5"] == 0  # before state
        assert got[2]["cnt_1h"] > 0 and got[2]["n_r5"] == 5  # NULL key


def test_rows_only_multi_frame_service_is_one_sweep(
    spark, state_df, local_checkpoints
):
    """Every frame ROWS min/max/count: the frames still ride the one sweep
    (no rows index is built or pinned, so no ``localCheckpoint`` runs),
    each column equals its frame alone, and a NULL-key request reads the
    NULL-key state."""
    windows = SHAPES["rows_sum_min"][1:] + [
        ("r2", "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW", [("min(value)", "min_r2")])
    ]
    svc = _service(spark, state_df, windows)
    try:
        assert len(svc._groups) == 2
        got = _by_id(svc.get_features(spark, POINTS))
    finally:
        svc.close()
    assert local_checkpoints == []
    for window in windows:
        alone = _service(spark, state_df, [window])
        try:
            want = _by_id(alone.get_features(spark, POINTS))
        finally:
            alone.close()
        for rid, row in want.items():
            for _, alias in window[2]:
                assert got[rid][alias] == row[alias], (rid, alias)
    assert got[2]["n_r7"] == 7  # NULL key: its own state, like PARTITION BY


_ROWS5 = [
    (
        "wr",
        "ROWS BETWEEN 5 PRECEDING AND CURRENT ROW",
        [
            ("count(value)", "cnt"),
            ("sum(value)", "sum_value"),
            ("min(value)", "min_value"),
            ("max(value)", "max_value"),
        ],
    )
]


@pytest.mark.parametrize("bucket", [None, "auto", "1 minute", "1 hour"])
def test_rows_index_answers_null_keys_like_the_sweep(spark, state_df, bucket):
    """``RowsFeatureService`` and ``rows_lookup`` join request keys to the
    index NULL-safe: on this corpus (NULL-key state and requests, a key
    with no state, co-timestamped rows) both equal the sweep of the same
    ROWS 5 frame row for row, at every as-of strategy."""
    svc = _service(spark, state_df, _ROWS5)
    try:
        want = _by_id(svc.get_features(spark, POINTS))
    finally:
        svc.close()
    events = state_df.select("user_id", "ts", "seq", "value")
    rows = RowsFeatureService(
        events, "user_id", "ts", "value", rows_frame(5), tiebreak="seq",
        bucket=bucket,
    )
    try:
        served = _by_id(rows.get_features(spark, POINTS))
    finally:
        rows.close()
    looked_up = _by_id(
        rows_lookup(
            events,
            request_frame(spark, POINTS, COLS),
            "user_id",
            "ts",
            "value",
            rows_frame(5),
            tiebreak="seq",
            bucket=bucket,
        )
        .toArrow()
        .to_pylist()
    )
    cols = ["user_id", *(alias for _, alias in _ROWS5[0][2])]
    for got in (served, looked_up):
        assert sorted(got) == sorted(want)
        for rid, row in want.items():
            assert {c: got[rid][c] for c in cols} == {c: row[c] for c in cols}, rid
    assert want[2]["cnt"] == 5 and want[9]["cnt"] == 5  # NULL-key state


def test_write_path_groups_equal_separate_sweeps(spark, state_df):
    """``apply_sliding_aggs(groups=...)`` without request rows: each
    group's columns equal that frame's own sweep, one output row per
    input row."""
    groups = [
        (range_frame("1 hour"), [sum_cate("sc_1h", "value", "event_type")]),
        (rows_frame(4), [top("top2_r4", "value", 2)]),
        (range_frame("10 minutes"), [topn_frequency("tf_10m", "event_type", 2)]),
    ]
    common = dict(
        partition_by="user_id", order_by="ts", passthrough=["seq"], tiebreak="seq"
    )
    fused = apply_sliding_aggs(state_df, groups=groups, **common).toPandas()
    assert list(fused.columns) == ["seq", "sc_1h", "top2_r4", "tf_10m"]
    assert len(fused) == state_df.count()
    fused = fused.set_index("seq").sort_index()
    for frame, specs in groups:
        alone = (
            apply_sliding_aggs(state_df, frame=frame, specs=specs, **common)
            .toPandas()
            .set_index("seq")
            .sort_index()
        )
        name = specs[0].name
        assert fused[name].tolist() == alone[name].tolist(), name


def test_groups_and_frame_are_exclusive(spark, state_df):
    spec = [sum_cate("sc", "value", "event_type")]
    with pytest.raises(ValueError):
        apply_sliding_aggs(
            state_df, "user_id", "ts", passthrough=["seq"]
        )
    with pytest.raises(ValueError):
        apply_sliding_aggs(
            state_df,
            "user_id",
            "ts",
            range_frame("1 hour"),
            spec,
            passthrough=["seq"],
            groups=[(range_frame("1 hour"), spec)],
        )


def test_key_filter_renders_plain_literals_only():
    """The prune's SQL text holds only literals that read the same under
    every parser setting; any other key value turns the prune off."""
    from volga_spark.operators.request import _key_filter

    types = {"t": "string", "u": "bigint"}
    assert _key_filter(["t", "u"], types, {("a", 1): None, (None, None): None}) == (
        "struct(`t`, `u`) IN ("
        "named_struct('t', CAST('a' AS string), 'u', CAST(1 AS bigint)), "
        "named_struct('t', CAST(NULL AS string), 'u', CAST(NULL AS bigint)))"
    )
    assert _key_filter(["u"], types, {}) == "FALSE"
    for odd in ("o'neil", "a\\b", 1.5, BASE):
        assert _key_filter(["t"], {"t": "string"}, {(odd,): None}) is None


def test_unrenderable_keys_sweep_every_key(spark):
    """String keys with a quote or a backslash get no key filter, and the
    answers still equal the unpruned lookup's."""
    names = ["o'neil", "a\\b", "plain"]
    state = spark.createDataFrame(
        [
            (names[i % 3], BASE + timedelta(minutes=i), float(i), "view", i)
            for i in range(30)
        ],
        "user_id string, ts timestamp, value double, event_type string, seq bigint",
    )
    windows = SHAPES["range_ml_rows_minmax"]
    svc = _service(spark, state, windows)
    points = [(i, n, BASE + timedelta(minutes=40)) for i, n in enumerate(names)]
    try:
        got = _by_id(svc.get_features(spark, points))
        want = _by_id(
            svc.lookup(
                spark.createDataFrame(points, COLS), materialize=True
            ).to_pylist()
        )
        plain = svc.lookup(request_frame(spark, points[2:], COLS))
        plain.toArrow()
        plan = plain._jdf.queryExecution().executedPlan().toString()
    finally:
        svc.close()
    assert got == want and got[0]["cnt_1h"] > 0 and got[1]["n_r5"] == 5
    assert "struct(user_id" in plan  # a plain key batch is still pruned
