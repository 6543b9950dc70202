"""HTTP serving layer: POST /features must return exactly what the direct
point-in-time lookup computes (reference request_source_e2e_test shape)."""

from __future__ import annotations

import json
import urllib.request

import pytest

from pyspark.sql import functions as F

from volga_spark.api.serving import FeatureServer
from volga_spark.operators.request import FeatureService, masked
from volga_spark.operators.window import range_frame
from volga_spark.tables import load_table


@pytest.fixture(scope="module")
def service(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return FeatureService(
        ev.select("user_id", "ts", "value"),
        key_cols="user_id",
        ts_col="ts",
        frame=range_frame("1 hour"),
        agg_builder=lambda w: {
            "cnt_1h": F.count(masked("value")).over(w),
            "sum_1h": F.sum(F.round(masked("value") * 100).cast("long")).over(w)
            / F.lit(100.0),
        },
    )


def _post(port, payload):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/features",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=120) as resp:
        return resp.status, json.loads(resp.read())


def test_http_equals_direct_lookup(spark, sf_dir, service):
    ev = load_table(spark, sf_dir, "events")
    pts = (
        ev.filter(F.col("event_id") % 97 == 0)
        .select("event_id", "user_id", "ts")
        .limit(5)
        .collect()
    )
    direct = {
        r["request_id"]: (r["cnt_1h"], r["sum_1h"])
        for r in service.get_features(
            spark, [(r.event_id, r.user_id, r.ts) for r in pts]
        )
    }
    with FeatureServer(spark, service) as srv:
        status, body = _post(
            srv.port,
            {
                "requests": [
                    {
                        "request_id": r.event_id,
                        "user_id": r.user_id,
                        "ts": r.ts.isoformat(),
                    }
                    for r in pts
                ]
            },
        )
    assert status == 200
    served = {f["request_id"]: (f["cnt_1h"], f["sum_1h"]) for f in body["features"]}
    assert served == direct
    assert len(served) == len(pts)


def test_http_epoch_ms_and_errors(spark, service):
    with FeatureServer(spark, service) as srv:
        # epoch-ms timestamps accepted
        status, body = _post(
            srv.port,
            {"requests": [{"request_id": 1, "user_id": 42, "ts": 1704067200000}]},
        )
        assert status == 200 and len(body["features"]) == 1
        # malformed body -> 400, not a hung server
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/features",
            data=b'{"nope": 1}',
            method="POST",
        )
        try:
            urllib.request.urlopen(req, timeout=60)
            raise AssertionError("expected HTTP 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400


def test_http_serves_stream_built_tiles(spark, sf_dir):
    """The full product loop in one test (the reference's 'queryable state'
    headline): streaming write path folds micro-batches into the tile table
    → TiledFeatureService answers point-in-time lookups over HTTP from tiles
    + raw edges → responses equal the naive full-scan lookup."""
    import datetime

    from volga_spark.operators.tiles import TiledFeatureService
    from volga_spark.streaming.sources import chunked_file_stream
    from volga_spark.streaming.tile_sink import stream_build_tiles

    stream, _ = chunked_file_stream(spark, sf_dir, "events", "ts", n_chunks=3)
    tiles = stream_build_tiles(
        stream.select("user_id", "ts", "value"),
        key_cols="user_id",
        ts_col="ts",
        value_col="value",
        granularity="1 minute",
    )
    ev = load_table(spark, sf_dir, "events")
    svc = TiledFeatureService(
        ev.select("user_id", "ts", "value"),
        tiles,
        key_cols="user_id",
        ts_col="ts",
        value_col="value",
        frame=range_frame("1 hour"),
    )
    pts = ev.orderBy("event_id").limit(4).select("event_id", "user_id", "ts").collect()
    with FeatureServer(spark, svc) as srv:
        status, body = _post(
            srv.port,
            {
                "requests": [
                    {
                        "request_id": r.event_id,
                        "user_id": r.user_id,
                        "ts": (r.ts + datetime.timedelta(seconds=1)).isoformat(),
                    }
                    for r in pts
                ]
            },
        )
    assert status == 200
    served = {f["request_id"]: (f["cnt"], f["sum_value"]) for f in body["features"]}
    # ground truth: naive trailing-window scan per request point
    for r in pts:
        rts = r.ts + datetime.timedelta(seconds=1)
        w = ev.filter(
            (F.col("user_id") == r.user_id)
            & (F.col("ts") >= rts - datetime.timedelta(hours=1))
            & (F.col("ts") <= rts)
        )
        row = w.agg(
            F.count("value").alias("c"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("s"),
        ).first()
        assert served[r.event_id] == (row.c, row.s), r.event_id


def test_http_serves_pipeline_request_service(spark, sf_dir):
    """A request-mode PipelineSpec compiled with build_request_service is
    duck-typed to FeatureService — FeatureServer must serve it over HTTP
    with values equal to the direct lookup (reference request path:
    HTTP POST → request source → window_request → request sink)."""
    from volga_spark.api.pipeline import PipelineSpec

    spec = PipelineSpec.from_json(
        {
            "name": "http_req",
            "execution_mode": "request",
            "query": """
                SELECT user_id,
                       count(*) OVER w AS cnt_1h,
                       sum_cate(CAST(round(value * 100) AS BIGINT), event_type)
                           OVER w AS sc_1h
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts
                             RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW)
            """,
            "sources": [
                {"name": "events", "type": "parquet",
                 "config": {"path": f"{sf_dir}/events.parquet"}},
            ],
        }
    )
    svc = spec.build_request_service(spark)
    try:
        ev = load_table(spark, sf_dir, "events")
        pts = (
            ev.filter(F.col("event_id") % 101 == 0)
            .select("event_id", "user_id", "ts")
            .limit(4)
            .collect()
        )
        points = [(r.event_id, r.user_id, r.ts) for r in pts]
        direct = {
            r["request_id"]: (r["cnt_1h"], r["sc_1h"])
            for r in svc.get_features(spark, points)
        }
        with FeatureServer(spark, svc) as srv:
            status, body = _post(
                srv.port,
                {
                    "requests": [
                        {"request_id": rid, "user_id": uid, "ts": ts.isoformat()}
                        for rid, uid, ts in points
                    ]
                },
            )
        assert status == 200
        got = {r["request_id"]: (r["cnt_1h"], r["sc_1h"]) for r in body["features"]}
        assert got == direct and len(got) == len(points)
    finally:
        svc.close()


def test_http_server_failure_answers_500():
    """A failure that is not the request's fault (a Spark error, a service
    bug) answers 500 with a JSON error body instead of dropping the
    connection; a bad request still answers 400."""

    class Failing:
        key_cols = ["user_id"]
        ts_col = "ts"

        def get_features(self, spark, points):
            raise RuntimeError("state store unavailable")

    def post(port, data):
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/features", data=data, method="POST"
        )
        try:
            urllib.request.urlopen(req, timeout=60)
        except urllib.error.HTTPError as e:
            return e.code, json.loads(e.read())
        raise AssertionError("expected an HTTP error")

    with FeatureServer(None, Failing()) as srv:
        good = {"requests": [{"request_id": 1, "user_id": 42, "ts": 0}]}
        assert post(srv.port, json.dumps(good).encode()) == (
            500,
            {"error": "state store unavailable"},
        )
        assert post(srv.port, b'{"nope": 1}')[0] == 400
