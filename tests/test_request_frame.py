"""Request batches as Arrow local relations (operators/request.request_frame).

Every ``get_features`` front end builds its request batch with
``request_frame``: a JVM ``LocalRelation`` with the schema and internal
values ``spark.createDataFrame(points, cols)`` gives, minus the pickled
Python RDD. These tests pin that parity for the helper and for all five
services, the request-mode plan it enables (state filtered to the
requested keys before the Python sweep; no Python scan of the batch; every
frame in one sweep), the tiled service's skipped batch pin, and the
empty-batch contract.
"""

from __future__ import annotations

import json
import urllib.request
from datetime import datetime, timedelta, timezone

import pytest

from pyspark.sql import functions as F

from volga_spark.api.feature_store import OnlineStore
from volga_spark.api.pipeline import PipelineSpec, SourceSpec
from volga_spark.api.serving import FeatureServer
from volga_spark.operators.request import FeatureService, masked, request_frame
from volga_spark.operators.rows_index import RowsFeatureService
from volga_spark.operators.tiles import auto_feature_service
from volga_spark.operators.window import range_frame, rows_frame

BASE = datetime(2024, 7, 1, 8, 0, 0)
COLS = ["request_id", "user_id", "ts"]

# request points: user 99 has no state; NULL-key requests must match only
# the NULL-key state rows (null-safe key prune)
POINTS = [
    (0, 1, BASE + timedelta(minutes=50, milliseconds=250)),
    (1, 2, BASE + timedelta(minutes=95)),
    (2, None, BASE + timedelta(minutes=70, seconds=3)),
    (3, 99, BASE + timedelta(minutes=30)),
    (4, 1, BASE + timedelta(minutes=170)),
    (5, 3, BASE - timedelta(minutes=5)),
]

SQL = """
SELECT user_id,
       count(*) OVER w AS cnt_1h,
       sum(value) OVER w AS sum_1h,
       sum_cate(value, event_type) OVER w AS sc_1h,
       topn_frequency(event_type, 2) OVER w AS top2_1h,
       min(value) OVER wr AS min_r5,
       max(value) OVER wr AS max_r5
FROM st
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW),
       wr AS (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
"""


@pytest.fixture(scope="module")
def state_df(spark):
    rows = []
    for i in range(120):
        user = [1, 2, 3, None][i % 4]
        rows.append(
            (
                user,
                BASE + timedelta(minutes=(i * 7) % 180, seconds=i % 11),
                float(((i * 37) % 200) - 60) / 4.0,
                ["click", "view", "buy"][(i * 5) % 3],
                i,
            )
        )
    return spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, value double, event_type string, seq bigint"
    )


def _pipeline(spark, state_df):
    spec = PipelineSpec(
        sql=SQL,
        sources=[SourceSpec("st", dataframe=state_df)],
        execution_mode="request",
    )
    return spec.build_request_service(spark, tiebreak="seq")


def _services(spark, state_df):
    """The five ``get_features`` front ends, each with its request columns
    and a function answering a request frame the way ``get_features``
    answers a local batch."""
    kv = state_df.select("user_id", "ts", "value")
    native = FeatureService(
        kv,
        key_cols="user_id",
        ts_col="ts",
        frame=range_frame("1 hour"),
        agg_builder=lambda w: {
            "cnt": F.count(masked("value")).over(w),
            "mx": F.max(masked("value")).over(w),
        },
    )
    tiled = auto_feature_service(
        kv, "user_id", "ts", "value", range_frame("1 hour"), threshold=0.0
    )
    assert tiled.chosen == "tiled"
    rows = RowsFeatureService(
        state_df.select("user_id", "ts", "seq", "value"),
        key_cols="user_id",
        ts_col="ts",
        value_col="value",
        frame=rows_frame(5),
        tiebreak="seq",
        bucket="auto",
    )
    online = OnlineStore(
        view_name="v",
        keys=["user_id"],
        ts_col="ts",
        features=["value"],
        state=state_df.groupBy("user_id").agg(
            F.max("ts").alias("ts"), F.max("value").alias("value")
        ),
    )
    pipe = _pipeline(spark, state_df)

    def arrow(svc):
        return lambda req: svc.lookup(req, materialize=True).to_pylist()

    return {
        "feature_service": (native, COLS, arrow(native)),
        "tiled": (tiled, COLS, arrow(tiled)),
        "rows_index": (rows, COLS, arrow(rows)),
        "online_store": (
            online,
            online.request_columns,
            lambda req: [r.asDict() for r in online.lookup(req).collect()],
        ),
        "pipeline": (pipe, COLS, arrow(pipe)),
    }


def _points_for(cols):
    return [p if len(cols) == 3 else p[:2] for p in POINTS]


def _by_id(rows):
    return sorted(rows, key=lambda r: r["request_id"])


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


# -- the helper -------------------------------------------------------------

_IST = timezone(timedelta(hours=5, minutes=30))
_HELPER_CASES = {
    "naive_datetimes": (
        COLS,
        [(1, 10, datetime(2024, 3, 10, 2, 30, 0, 123456)), (2, 11, BASE)],
    ),
    "aware_datetimes": (
        COLS,
        [
            (1, 10, datetime(2024, 3, 10, 2, 30, tzinfo=timezone.utc)),
            (2, 11, datetime(2024, 3, 10, 2, 30, 0, 7, tzinfo=_IST)),
        ],
    ),
    "string_keys": (COLS, [(1, "alice", BASE), (2, "bob", BASE)]),
    "two_column_keys": (
        ["request_id", "tenant", "user_id", "ts"],
        [(1, "t1", 5, BASE), (2, "t2", 5, BASE), (3, "t1", 6, BASE)],
    ),
    "none_key": (COLS, [(1, None, BASE), (2, 5, BASE)]),
}


@pytest.mark.parametrize("case", sorted(_HELPER_CASES))
def test_request_frame_matches_create_dataframe(spark, case):
    cols, points = _HELPER_CASES[case]
    got = request_frame(spark, points, cols)
    want = spark.createDataFrame(points, cols)
    assert got.isLocal() and not want.isLocal()
    assert got.schema == want.schema
    assert got.dtypes == want.dtypes
    assert got.collect() == want.collect()
    # internal values, not just their Python rendering
    micros = [F.unix_micros("ts").alias("us"), "request_id"]
    assert got.select(*micros).collect() == want.select(*micros).collect()


# -- the services -----------------------------------------------------------


def test_get_features_equals_lookup_of_create_dataframe(spark, state_df):
    svcs = _services(spark, state_df)
    try:
        for name, (svc, cols, answer) in svcs.items():
            points = _points_for(cols)
            got = _by_id(svc.get_features(spark, points))
            want = _by_id(answer(spark.createDataFrame(points, cols)))
            assert len(got) == len(points), name
            assert got == want, name
        # the NULL-key request reads the NULL-key state rows, and the
        # stateless key reads nothing (the prune keeps both cases intact)
        pipe = svcs["pipeline"][0]
        rows = {r["request_id"]: r for r in pipe.get_features(spark, POINTS)}
        assert rows[2]["cnt_1h"] > 0 and rows[2]["sc_1h"] is not None
        assert rows[3]["cnt_1h"] == 0
    finally:
        for svc, _, _ in svcs.values():
            svc.close()


def test_empty_batch_returns_no_rows_and_starts_no_job(spark, state_df):
    svcs = _services(spark, state_df)
    try:
        for name, (svc, _, _) in svcs.items():
            got, jobs = _jobs_in_group(
                spark, f"empty-{name}", lambda: svc.get_features(spark, [])
            )
            assert got == [] and jobs == 0, (name, got, jobs)
        with FeatureServer(spark, svcs["pipeline"][0]) as srv:
            req = urllib.request.Request(
                f"http://127.0.0.1:{srv.port}/features",
                data=json.dumps({"requests": []}).encode(),
                headers={"Content-Type": "application/json"},
                method="POST",
            )
            with urllib.request.urlopen(req, timeout=120) as resp:
                assert resp.status == 200
                assert json.loads(resp.read()) == {"features": []}
    finally:
        for svc, _, _ in svcs.values():
            svc.close()


def test_tiled_get_features_skips_the_batch_pin(spark, state_df):
    """A local batch is deterministic and already a leaf plan, so the tiled
    service answers it without the eager batch checkpoint: one job fewer
    than the same call over a ``createDataFrame`` batch, same rows."""
    svc = auto_feature_service(
        state_df.select("user_id", "ts", "value"),
        "user_id",
        "ts",
        "value",
        range_frame("1 hour"),
        threshold=0.0,
    )
    try:
        svc.get_features(spark, POINTS)  # warm: state pins, cover template
        got, n_local = _jobs_in_group(
            spark, "tiled-local", lambda: svc.get_features(spark, POINTS)
        )
        want, n_rdd = _jobs_in_group(
            spark,
            "tiled-rdd",
            lambda: svc.lookup(
                spark.createDataFrame(POINTS, COLS),
                n_requests=len(POINTS),
                materialize=True,
            ).to_pylist(),
        )
    finally:
        svc.close()
    assert _by_id(got) == _by_id(want)
    assert n_local == n_rdd - 1, (n_local, n_rdd)


# -- the request-mode plan --------------------------------------------------


def _plan_of(df) -> str:
    """The executed plan of ``df``, read after that same frame ran (AQE's
    final plan)."""
    df.toArrow()
    return df._jdf.queryExecution().executedPlan().toString()


def _get_features_plan(spark, svc, points) -> str:
    """The plan of the frame ``get_features`` itself builds and collects."""
    seen = []
    lookup = svc.lookup

    def spy(req, request_id_col="request_id", materialize=False):
        seen.append(lookup(req, request_id_col))
        return seen[-1].toArrow() if materialize else seen[-1]

    svc.lookup = spy
    try:
        svc.get_features(spark, points)
    finally:
        del svc.lookup
    return seen[0]._jdf.queryExecution().executedPlan().toString()


def _subtree(plan: str, marker: str) -> list[str]:
    lines = plan.splitlines()
    i = next(i for i, ln in enumerate(lines) if marker in ln)
    depth = len(lines[i]) - len(lines[i].lstrip(" :+-"))
    out = []
    for ln in lines[i + 1 :]:
        if len(ln) - len(ln.lstrip(" :+-")) <= depth:
            break
        out.append(ln)
    return out


def test_request_plan_is_local_and_prunes_state_to_requested_keys(
    spark, state_df
):
    svc = _pipeline(spark, state_df)
    try:
        local = _get_features_plan(spark, svc, POINTS)
        rdd = _plan_of(svc.lookup(spark.createDataFrame(POINTS, COLS)))
    finally:
        svc.close()
    # the request batch is a JVM leaf: no Python RDD scan carries it
    assert "LocalTableScan [" in local
    for ln in local.splitlines():
        if "ExistingRDD" in ln or "LogicalRDD" in ln:
            assert "request_id" not in ln, ln
    # the sweep's input holds only the requested keys' state rows: a
    # literal key filter (no broadcast, no join) below the sweep
    below = _subtree(local, "MapInPandas")
    keyed = [ln for ln in below if "Filter" in ln and "struct(user_id" in ln]
    assert keyed and all(" IN " in ln or " INSET " in ln for ln in keyed), "\n".join(
        below
    )
    assert not any("Join" in ln for ln in below), "\n".join(below)
    # a non-local batch (a lookup() caller's frame) keeps the unpruned
    # plan: the whole state is swept
    assert not any(
        "Filter" in ln and "struct(user_id" in ln
        for ln in _subtree(rdd, "MapInPandas")
    )
    assert any("ExistingRDD" in ln and "request_id" in ln for ln in rdd.splitlines())


def test_feature_view_service_plan_is_one_sweep(spark, state_df):
    """A RANGE ML window and a ROWS min/max window: ``get_features`` runs
    both frames in one virtual-point sweep — one Python pass, one hash
    exchange on the key, and no per-frame join on request_id."""
    svc = _pipeline(spark, state_df)
    try:
        assert len(svc._groups) == 2
        plan = _get_features_plan(spark, svc, POINTS)
    finally:
        svc.close()
    final = plan.split("== Initial Plan ==")[0]
    lines = final.splitlines()
    assert sum("MapInPandas" in ln for ln in lines) == 1, final
    exchanges = [ln for ln in lines if "Exchange" in ln]
    assert len(exchanges) == 1, final
    assert "hashpartitioning(user_id" in exchanges[0], final
    assert not any("Join" in ln for ln in lines), final


# -- job counts: the pipeline sweep and the pinned rows-index build ---------


ROWS_SQL = """
SELECT user_id,
       min(value) OVER wr AS min_r5,
       max(value) OVER wr AS max_r5,
       count(*) OVER wr AS n_r5
FROM st
WINDOW wr AS (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
"""


@pytest.mark.parametrize(
    "sql", [SQL, ROWS_SQL], ids=["feature_view", "rows_minmax_only"]
)
def test_feature_view_service_builds_no_rows_index(
    spark, state_df, local_checkpoints, request, sql
):
    """Every frame rides the sweep, ROWS min/max/count frames included, so
    the cold call builds and pins no rows index (no ``localCheckpoint``):
    the cold call runs 3 jobs and a warm call 2. (The mixed pipeline ran
    19 and 11 while its ROWS group was index-routed, and a ROWS-only
    min/max/count pipeline 15 and 8 while it served from the index.)"""
    pipe = PipelineSpec(
        sql=sql,
        sources=[SourceSpec("st", dataframe=state_df)],
        execution_mode="request",
    ).build_request_service(spark, tiebreak="seq")
    try:
        # job groups accumulate: one pair of group ids per case
        case = request.node.callspec.id
        _, n_cold = _jobs_in_group(
            spark, f"cold-{case}", lambda: pipe.get_features(spark, POINTS)
        )
        _, n_warm = _jobs_in_group(
            spark, f"warm-{case}", lambda: pipe.get_features(spark, POINTS)
        )
    finally:
        pipe.close()
    assert local_checkpoints == []
    assert (n_cold, n_warm) == (3, 2), (n_cold, n_warm)


def test_rows_index_build_reads_state_time_bounds_once(spark, state_df):
    """``rows_index.pin_rows_index`` reads the state's time bounds in ONE
    aggregate, shared by the auto bucket granularity and the carry summary
    (the summary used to run a second min/max over the pinned index): a
    bucketed ``RowsFeatureService`` build runs 7 jobs (9 before), and a
    warm call 8."""
    rows, n_build = _jobs_in_group(
        spark,
        "rows-build",
        lambda: RowsFeatureService(
            state_df.select("user_id", "ts", "seq", "value"),
            key_cols="user_id",
            ts_col="ts",
            value_col="value",
            frame=rows_frame(5),
            tiebreak="seq",
            bucket="auto",
        ),
    )
    try:
        _, n_rows_warm = _jobs_in_group(
            spark, "rows-warm", lambda: rows.get_features(spark, POINTS)
        )
    finally:
        rows.close()
    assert (n_build, n_rows_warm) == (7, 8), (n_build, n_rows_warm)
