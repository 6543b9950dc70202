"""Hybrid search service: HTTP == direct calls, hybrid fusion behavior,
text-only degradation."""

from __future__ import annotations

import json
import urllib.request

from pyspark.sql import functions as F

from volga_spark.api.search import SearchServer, SearchService
from volga_spark.tables import load_table


def _post(port, payload):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/search",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        return json.loads(r.read())


def test_search_service_text_and_hybrid(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    svc = SearchService.build(
        spark, docs, emb, str(tmp_path / "ivf"), n_lists=16
    )

    qs = spark.createDataFrame(
        [(1, "spark window agg"), (2, "dup merge batch")],
        "query_id bigint, qtext string",
    )
    text_hits = svc.search_text(qs, k=5).collect()
    assert len(text_hits) > 0
    assert all(r["rank"] <= 5 for r in text_hits)

    # hybrid: same text queries + a query embedding each (use corpus
    # vectors so the dense leg has guaranteed neighbors)
    qvecs = {
        r["vec_id"]: r["embedding"]
        for r in emb.filter("vec_id < 2").collect()
    }
    hq = spark.createDataFrame(
        [
            (1, "spark window agg", [float(x) for x in qvecs[0]]),
            (2, "dup merge batch", [float(x) for x in qvecs[1]]),
        ],
        "query_id bigint, qtext string, qvec array<float>",
    )
    fused = svc.search_hybrid(hq, k=5).collect()
    assert len(fused) > 0
    assert {r["query_id"] for r in fused} == {1, 2}

    # HTTP parity for the text path
    with SearchServer(spark, svc) as srv:
        got = _post(
            srv.port,
            {
                "queries": [
                    {"query_id": 1, "qtext": "spark window agg"},
                    {"query_id": 2, "qtext": "dup merge batch"},
                ],
                "k": 5,
                "mode": "text",
            },
        )
    want = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score_micro"])
        for r in text_hits
    )
    have = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score_micro"])
        for r in got["results"]
    )
    assert have == want

    # hybrid over HTTP answers too
    with SearchServer(spark, svc) as srv:
        got2 = _post(
            srv.port,
            {
                "queries": [
                    {
                        "query_id": 1,
                        "qtext": "spark window agg",
                        "qvec": [float(x) for x in qvecs[0]],
                    }
                ],
                "k": 5,
                "mode": "hybrid",
            },
        )
    assert len(got2["results"]) > 0


def test_text_only_service_rejects_hybrid(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    svc = SearchService.build(spark, docs, None, "/tmp/unused")
    import pytest

    qs = spark.createDataFrame(
        [(1, "spark", [0.0])], "query_id bigint, qtext string, qvec array<float>"
    )
    with pytest.raises(ValueError, match="vector index"):
        svc.search_hybrid(qs)


def test_search_server_failure_answers_500(spark):
    """The search route shares FeatureServer's replies: a service failure
    answers 500, a malformed query 400 (every exception used to be 400)."""

    class Failing:
        def search_text(self, queries, k=10):
            raise RuntimeError("index unavailable")

    def post(port, payload):
        try:
            _post(port, payload)
        except urllib.error.HTTPError as e:
            return e.code, json.loads(e.read())
        raise AssertionError("expected an HTTP error")

    with SearchServer(spark, Failing()) as srv:
        assert post(srv.port, {"queries": [{"query_id": 1, "qtext": "x"}]}) == (
            500,
            {"error": "index unavailable"},
        )
        assert post(srv.port, {"queries": [{"query_id": 1}]})[0] == 400
