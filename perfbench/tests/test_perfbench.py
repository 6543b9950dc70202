"""Tests of the benchmark's own machinery (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from perfbench import curation_check, feature_view as fv, gen, report
from perfbench.stats import tail
from perfbench.trace import Span, parse_size_metric, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bytes(tmp_path, name, df) -> bytes:
    p = tmp_path / name
    gen.write_parquet(df, str(p))
    return p.read_bytes()


def test_events_from_one_seed_are_byte_identical(tmp_path):
    a = _bytes(tmp_path, "a.parquet", gen.make_events(7, 3000, 300))
    b = _bytes(tmp_path, "b.parquet", gen.make_events(7, 3000, 300))
    c = _bytes(tmp_path, "c.parquet", gen.make_events(8, 3000, 300))
    assert a == b
    assert a != c


def test_documents_from_one_seed_are_byte_identical(tmp_path):
    d1, t1 = gen.make_documents(7, 400)
    d2, t2 = gen.make_documents(7, 400)
    assert _bytes(tmp_path, "a.parquet", d1) == _bytes(tmp_path, "b.parquet", d2)
    assert t1 == t2
    assert gen.request_points(7, gen.make_events(7, 500, 50), 40) == gen.request_points(
        7, gen.make_events(7, 500, 50), 40
    )


def test_events_shape():
    ev = gen.make_events(3, 5000, 500)
    assert len(ev) == 5000
    assert not ev.duplicated(["user_id", "ts"]).any()
    assert set(ev["event_type"]) <= set(gen.EVENT_TYPES)
    assert (ev["value"] == ev["value"].round(2)).all()
    span = ev["ts"].max() - ev["ts"].min()
    assert pd.Timedelta(days=29) < span <= pd.Timedelta(days=31)
    # Zipf: the hottest user holds far more than a uniform share
    assert ev["user_id"].value_counts().iloc[0] > 20 * len(ev) / 500


def test_documents_plant_the_stated_shares():
    docs, truth = gen.make_documents(5, 2000)
    kinds = pd.Series(truth.kind).value_counts()
    assert kinds["exact"] == 100
    assert 200 <= kinds["near"] <= 204
    assert set(truth.kind) == set(docs["doc_id"])
    sizes = pd.Series(truth.cluster).value_counts()
    near_clusters = {truth.cluster[d] for d, k in truth.kind.items() if k == "near"}
    assert all(2 <= sizes[c] <= 5 for c in near_clusters)


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_emitted_metric_is_declared_with_its_unit():
    bench = _benchmark()
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert report.END_TO_END_UNITS == e2e
    assert report.LAYER_UNITS == layer
    assert {w["name"] for w in bench["workloads"]} == set(report.ALIASES)


def test_end_to_end_metrics_from_an_outcome():
    from perfbench.workloads import Outcome

    out = Outcome(unit="points", op_name="call", session_s=2.0)
    out.setup_units_s = [5.0, 1.0, 3.0]
    out.setup_once_s = 0.5
    out.op_ms = [float(x) for x in range(1, 31)]
    out.items, out.busy_s, out.attempted = 60, 3.0, 30
    m = report._end_to_end(out)
    assert m["setup_s"] == 5.5
    assert m["items_per_s"] == 20.0
    assert m["op_ms_p50"] == 15.5
    assert m["op_ms_tail"] == 20.0  # p66 of 30: rank 20, ten beyond


@pytest.mark.parametrize(
    "n, value, q, beyond",
    [
        (1000, 990.0, 99, 10),
        (100, 90.0, 90, 10),
        (40, 30.0, 75, 10),
        (20, 10.5, 50, 10),
        (12, 6.5, 50, 6),  # too few samples: the median, and it says so
        (1, 1.0, 50, 0),
    ],
)
def test_tail_is_the_highest_percentile_with_ten_beyond(n, value, q, beyond):
    xs = [float(i) for i in range(n, 0, -1)]  # order must not matter
    assert tail(xs) == (value, q, beyond)


def _span(sid, start, end, parent=None):
    return Span(sid=sid, name=f"s{sid}", op=None, parent=parent, start=start, end=end)


def test_self_time_of_nested_spans():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 3.0, parent=1),
        _span(3, 2.0, 5.0, parent=1),  # overlaps its sibling: counted once
        _span(4, 7.0, 8.0, parent=1),
        _span(5, 2.5, 4.0, parent=3),
        _span(6, 9.0, 12.0, parent=1),  # runs past its parent: clipped
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 1.0 - 1.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.5)
    assert st[5] == pytest.approx(1.5)
    assert st[6] == pytest.approx(3.0)


def test_parse_size_metric():
    assert parse_size_metric("672.0 B") == 672.0
    assert parse_size_metric(
        "total (min, med, max (stageId: taskId))\n1600.0 KiB (400.0 KiB, 400.0 KiB)"
    ) == 1600.0 * 1024
    assert parse_size_metric("n/a") == 0.0


def _ideal_output(docs, truth):
    """One member per planted cluster, no short documents."""
    seen, rows = set(), []
    for d in sorted(truth.kind):
        if truth.kind[d] == "short" or truth.cluster[d] in seen:
            continue
        seen.add(truth.cluster[d])
        text = docs.loc[docs["doc_id"] == d, "text"].iloc[0]
        src = docs.loc[docs["doc_id"] == d, "source"].iloc[0]
        rows.append({"doc_id": d, "domain": src, "n_tokens": len(text.split())})
    return rows


def test_curation_check_accepts_the_ideal_output_only():
    docs, truth = gen.make_documents(11, 300)
    rows = _ideal_output(docs, truth)
    ok = curation_check.check(docs, truth, rows)
    assert ok.problems == [] and ok.recall == 1.0 and ok.precision == 1.0

    near = next(d for d, k in truth.kind.items() if k == "near")
    bad = curation_check.check(
        docs, truth, rows + [{"doc_id": near, "domain": docs.source[near], "n_tokens": 0}]
    )
    assert bad.problems and bad.recall < 1.0

    single = next(r for r in rows if list(truth.cluster.values()).count(truth.cluster[r["doc_id"]]) == 1)
    dropped = curation_check.check(docs, truth, [r for r in rows if r is not single])
    assert dropped.problems and dropped.precision < 1.0


def test_feature_mismatches():
    want = {"cnt_7d": 2, "sum_7d": 3.5, "sum_cate_7d": {"buy": 1.25, "view": 2.25},
            "top3_type_7d": "view,buy", "min_r1000": 1.25, "max_r1000": 2.25}
    got = {"cnt_7d": 2, "sum_7d": 3.5000000000001, "sum_cate_7d": "buy:1.25,view:2.25",
           "top3_type_7d": "view,buy", "min_r1000": 1.25, "max_r1000": 2.25}
    assert fv.mismatches(got, want) == []
    assert fv.mismatches({**got, "sum_cate_7d": "buy:1.25"}, want) == ["sum_cate_7d"]
    assert fv.mismatches({**got, "max_r1000": 2.0}, want) == ["max_r1000"]
    empty = {"cnt_7d": 0, "sum_7d": None, "sum_cate_7d": {}, "top3_type_7d": "",
             "min_r1000": None, "max_r1000": None}
    assert fv.mismatches({"cnt_7d": 0, "sum_7d": None, "sum_cate_7d": "",
                          "top3_type_7d": None, "min_r1000": None, "max_r1000": None}, empty) == []


def test_expected_features_by_brute_force():
    t = pd.Timestamp("2024-01-10", tz="UTC")
    ev = pd.DataFrame({
        "user_id": [1, 1, 1, 2],
        "ts": [t - pd.Timedelta(days=8), t - pd.Timedelta(days=2), t, t],
        "event_type": ["buy", "view", "view", "buy"],
        "value": [5.0, 1.5, 2.5, 9.0],
    })
    pts = pd.DataFrame({"request_id": [0, 1], "user_id": [1, 3],
                        "ts": [t + pd.Timedelta(milliseconds=5)] * 2})
    want = fv.expected_at_points(ev, pts)
    assert want[0]["cnt_7d"] == 2 and want[0]["sum_7d"] == 4.0
    assert want[0]["top3_type_7d"] == "view"
    assert want[0]["min_r1000"] == 1.5 and want[0]["max_r1000"] == 5.0
    assert want[1] == {"cnt_7d": 0, "sum_7d": None, "sum_cate_7d": {},
                       "top3_type_7d": "", "min_r1000": None, "max_r1000": None}
