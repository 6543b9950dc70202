"""Driver-contract guards that keep known external constraints from
regressing silently (no Spark session needed — pure imports)."""

from __future__ import annotations


def test_registry_is_exactly_fifty():
    """The driver CORRECTNESS gate records at most 50 rows (r04's 51st query
    silently got none). The registry is sized to exactly 50 so every entry
    is driver-checked; a 51st query must REPLACE or MERGE, not append."""
    import __spark_entry__ as e

    qs = e.queries()
    assert len(qs) == 50, (
        f"{len(qs)} queries — the driver records at most 50 rows; "
        "merge or replace instead of appending"
    )
    assert set(e.oracle_sql()) <= set(qs)


def test_bench_bands_cover_bench_queries():
    """bench.py's noise-retry pass needs a band for every benched query;
    a missing band silently disables the retry for that query."""
    from bench import BANDS, BENCH_QUERIES

    assert set(BENCH_QUERIES) == set(BANDS), (
        set(BENCH_QUERIES) ^ set(BANDS)
    )
    assert all(v > 0 for v in BANDS.values())


def test_bench_final_line_fits_driver_tail():
    """r10 verdict #1: the driver tail-captures only ~2000 chars of bench
    stdout; the r10 run inlined per-trial telemetry into the final JSON
    line (~5.4 KB) and BENCH_r10.json recorded parsed:null. Build the
    final line exactly as bench.py would from the full 30-query band
    table (band values are the realistic worst-case magnitudes) and pin
    it comfortably inside the capture window."""
    import json

    from bench import BANDS, BENCH_QUERIES, bench_result_line

    timings = {q: round(BANDS[q] * 1.399, 3) for q in BENCH_QUERIES}
    line = json.dumps(bench_result_line(sum(timings.values()), timings, 0.1))
    assert len(line) < 1800, f"final bench line is {len(line)} chars"
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total"
    assert set(parsed) == {"metric", "value", "unit", "queries", "sf"}
    assert len(parsed["queries"]) == len(BENCH_QUERIES)


def test_bench_queries_are_registered():
    """bench.py raises on a BENCH_QUERIES name the registry lacks (it used
    to skip it, silently shrinking the headline total)."""
    from bench import BENCH_QUERIES
    from volga_spark.workloads import load_all

    reg = load_all()
    assert [q for q in BENCH_QUERIES if q not in reg] == []


def test_load_all_raises_on_broken_internal_import(tmp_path, monkeypatch):
    """A registry module whose own volga_spark import fails must fail
    load_all loudly — swallowing it would drop the module's queries from
    the oracle run and the bench without a word."""
    import pytest

    import volga_spark.workloads as wl

    (tmp_path / "vs_broken_registry_mod.py").write_text(
        "import volga_spark.operators.no_such_module\n"
    )
    monkeypatch.syspath_prepend(str(tmp_path))
    monkeypatch.setattr(wl, "_MODULES", ["vs_broken_registry_mod"])
    with pytest.raises(ModuleNotFoundError, match="no_such_module"):
        wl.load_all()
