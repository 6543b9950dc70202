"""Turn a workload's :class:`~perfbench.workloads.Outcome` into the result
line and the human-readable metric lines."""

from __future__ import annotations

from perfbench.stats import median, tail
from perfbench.trace import SPARK_COUNTERS

# workload -> (throughput name, latency name) in the words of each mode
ALIASES = {
    "serve": ("serve_points_per_s", "serve_latency_ms"),
    "curate": ("curate_docs_per_s", "curate_pass_ms"),
}

END_TO_END_UNITS = {
    "setup_s": "s",
    "items_per_s": "items/s",
    "op_ms_p50": "ms",
    "op_ms_tail": "ms",
}

STREAM_PHASES = {
    "stream.trigger_ms": "triggerExecution",
    "stream.add_batch_ms": "addBatch",
    "stream.query_planning_ms": "queryPlanning",
    "stream.get_batch_ms": "getBatch",
    "stream.latest_offset_ms": "latestOffset",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
}

LAYER_UNITS = {
    **{k: "count" for k in ("spark.jobs", "spark.stages", "spark.tasks")},
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.driver_only_s": "s",
    "host.steal_pct": "%",
    "host.load1": "load",
    "memory.peak_rss_mb": "MB",
    "pipeline.build_s": "s",
    "pipeline.build_jobs": "count",
    "pipeline.action_s": "s",
    "pipeline.request_service_build_s": "s",
    "sliding.sweep_s": "s",
    "window.native_s": "s",
    "python.bytes_to_worker": "bytes",
    "python.bytes_from_worker": "bytes",
    "stream.batches": "count",
    "stream.input_rows": "rows",
    **{k: "ms" for k in STREAM_PHASES},
    "stream.between_batches_ms": "ms",
    "stream.state_rows": "rows",
    "stream.state_memory_bytes": "bytes",
    "stream.state_commit_ms": "ms",
    "stream.state_update_ms": "ms",
    "runner.sink_bytes_per_input_row": "bytes/row",
    "serve.request_frame_s": "s",
    "serve.plan_s": "s",
    "serve.exec_s": "s",
    "serve.plan_s_drift": "s",
    "serve.jobs_per_call": "count",
    "serve.tasks_per_call": "count",
    "serve.executor_cpu_s_per_call": "s",
    "serve.shuffle_bytes_per_call": "bytes",
    "rows_index.build_s": "s",
    "curate.build_s": "s",
    "curate.build_jobs": "count",
    "curate.gate_s": "s",
    "curate.exact_dedup_s": "s",
    "curate.near_dedup_s": "s",
    "curate.mixture_select_s": "s",
    "components.jobs": "count",
    "dedup.near_dup_recall": "share",
    "dedup.near_dup_precision": "share",
    "check.error_rate": "share",
    "trace.overhead_ms": "ms",
    "trace.overhead_share": "share",
}

# the span of one top-level operation, per workload
OP_SPAN = {"serve": "serve.call", "curate": "curate.pass"}


def _med(xs) -> float:
    xs = [x for x in xs if x is not None]
    return median(xs) if xs else 0.0


def build(args, out, peak_rss_mb: float, host, tracer) -> dict:
    correct = out.failed == 0 and out.attempted > 0 and bool(out.op_ms)
    if tracer is None:
        metrics = _end_to_end(out)
    else:
        metrics = _per_layer(args.workload, out, host, tracer)
        metrics["memory.peak_rss_mb"] = peak_rss_mb
    return {
        "correct": correct,
        "attempted": max(out.attempted, 1),
        "failed": out.failed if out.attempted else 1,
        "metrics": {
            k: {"value": float(v), "unit": (END_TO_END_UNITS if tracer is None else LAYER_UNITS)[k]}
            for k, v in metrics.items()
        },
    }


def _end_to_end(out) -> dict:
    ops = out.op_ms or [0.0]
    return {
        "setup_s": out.session_s
        + (median(out.setup_units_s) if out.setup_units_s else 0.0)
        + out.setup_once_s,
        "items_per_s": out.items / out.busy_s if out.busy_s > 0 else 0.0,
        "op_ms_p50": median(ops),
        "op_ms_tail": tail(ops)[0],
    }


def _per_layer(workload: str, out, host, tracer) -> dict:
    m = dict.fromkeys(LAYER_UNITS, 0.0)
    op_spans = [s for s in tracer.named(OP_SPAN[workload]) if s.counters]
    for k in SPARK_COUNTERS + ("python.bytes_to_worker", "python.bytes_from_worker"):
        m[k] = _med(s.counters.get(k) for s in op_spans)
    m["host.steal_pct"] = host.steal_pct()
    m["host.load1"] = host.load1()

    def span_s(name: str) -> float:
        return _med(s.duration for s in tracer.named(name))

    def span_jobs(name: str) -> float:
        return _med(s.counters.get("spark.jobs") for s in tracer.named(name))

    m["pipeline.build_s"] = span_s("pipeline.build")
    m["pipeline.build_jobs"] = span_jobs("pipeline.build")
    m["pipeline.action_s"] = span_s("pipeline.action")
    m["pipeline.request_service_build_s"] = span_s("pipeline.build_request_service")
    m["sliding.sweep_s"] = span_s("sliding.sweep")
    m["window.native_s"] = span_s("window.native")

    if workload == "serve":
        for k in ("serve.request_frame_s", "serve.plan_s", "serve.exec_s",
                  "serve.plan_s_drift", "rows_index.build_s"):
            m[k] = out.layer.get(k, 0.0)
        m["serve.jobs_per_call"] = m["spark.jobs"]
        m["serve.tasks_per_call"] = m["spark.tasks"]
        m["serve.executor_cpu_s_per_call"] = m["spark.executor_cpu_s"]
        m["serve.shuffle_bytes_per_call"] = _med(
            s.counters.get("spark.shuffle_read_bytes", 0.0)
            + s.counters.get("spark.shuffle_write_bytes", 0.0)
            for s in op_spans
        )

    if out.batches:
        m.update(_stream_layers(out.batches, tracer))

    if workload == "curate":
        m["curate.build_s"] = span_s("curate.build")
        m["curate.build_jobs"] = span_jobs("curate.build")
        for k, op in (("curate.gate_s", "gopher_gate"), ("curate.exact_dedup_s", "exact_dedup"),
                      ("curate.near_dedup_s", "near_dedup"),
                      ("curate.mixture_select_s", "mixture_select")):
            m[k] = span_s(f"curate.stage.{op}")
        m["components.jobs"] = span_jobs("components.connected_components")
        m["dedup.near_dup_recall"] = out.layer.get("dedup.near_dup_recall", 0.0)
        m["dedup.near_dup_precision"] = out.layer.get("dedup.near_dup_precision", 0.0)

    m["check.error_rate"] = out.failed / out.attempted if out.attempted else 1.0
    traced = [s for ok, s in out.op_wall if ok]
    plain = [s for ok, s in out.op_wall if not ok]
    if traced and plain:
        m["trace.overhead_ms"] = (median(traced) - median(plain)) * 1000.0
        m["trace.overhead_share"] = median(traced) / median(plain) - 1.0
    return m


def _stream_layers(batches: list[dict], tracer) -> dict:
    import datetime as dt

    m: dict = {}
    m["stream.batches"] = float(len(batches))
    m["stream.input_rows"] = float(sum(b["rows"] for b in batches))
    for k, phase in STREAM_PHASES.items():
        m[k] = _med(b["duration_ms"].get(phase) for b in batches)
    gaps = []
    by_run: dict[str, list] = {}
    for b in batches:
        by_run.setdefault(b["run_id"], []).append(b)
    for bs in by_run.values():
        bs.sort(key=lambda b: b["batch"])
        for a, b in zip(bs, bs[1:]):
            t_a = dt.datetime.fromisoformat(a["timestamp"].replace("Z", "+00:00"))
            t_b = dt.datetime.fromisoformat(b["timestamp"].replace("Z", "+00:00"))
            gaps.append(
                (t_b - t_a).total_seconds() * 1000.0 - a["duration_ms"].get("triggerExecution", 0)
            )
    m["stream.between_batches_ms"] = _med(gaps)
    last = [max(bs, key=lambda b: b["batch"]) for bs in by_run.values()]
    m["stream.state_rows"] = _med(sum(s["rows"] for s in b["state"]) for b in last)
    m["stream.state_memory_bytes"] = _med(
        sum(s["memory_bytes"] for s in b["state"]) for b in last
    )
    m["stream.state_commit_ms"] = _med(sum(s["commit_ms"] for s in b["state"]) for b in batches)
    m["stream.state_update_ms"] = _med(sum(s["update_ms"] for s in b["state"]) for b in batches)
    drains = [s for s in tracer.named("streaming.drain") if s.counters]
    rows_per_drain = m["stream.input_rows"] / max(len(by_run), 1)
    m["runner.sink_bytes_per_input_row"] = (
        _med(s.counters.get("spark.output_bytes") for s in drains) / rows_per_drain
        if rows_per_drain
        else 0.0
    )
    return m


def lines(workload: str, out, result: dict, peak_rss_mb: float) -> list[str]:
    """Every metric by name with its unit; end-to-end metrics also under the
    mode's own name (serve_latency_ms_p50, stream_events_per_s, ...)."""
    thr, lat = ALIASES[workload]
    alias = {
        "items_per_s": f"{thr} ({out.unit}/s)",
        "op_ms_p50": f"{lat}_p50 (per {out.op_name})",
        "op_ms_tail": f"{lat}_tail (per {out.op_name})",
    }
    rows = []
    for k, v in result["metrics"].items():
        rows.append(f"metric {k} = {v['value']:.6g} {v['unit']}  {alias.get(k, '')}".rstrip())
    if out.op_ms:
        rows.append(f"samples {out.op_name} ms: " + ", ".join(f"{x:.0f}" for x in out.op_ms))
    if "op_ms_tail" in result["metrics"] and out.op_ms:
        _, q, beyond = tail(out.op_ms)
        rows.append(
            f"tail {lat}_tail is p{q} of {len(out.op_ms)} {out.op_name} samples, "
            f"{beyond} beyond it"
        )
    rows.append(
        f"setup session {out.session_s:.3f} s + median of "
        + ", ".join(f"{u:.3f}" for u in out.setup_units_s)
        + f" s + warm-up {out.setup_once_s:.3f} s"
    )
    rows.append(f"metric peak_rss_mb = {peak_rss_mb:.6g} MB  (process tree, not gated)")
    for name, (value, unit) in out.modes.items():
        rows.append(f"metric {name} = {value:.6g} {unit}  (one pass in the traced run, not gated)")
    rate = out.failed / out.attempted if out.attempted else 1.0
    rows.append(
        f"metric error_rate = {rate:.6g} share  ({out.failed} of {out.attempted} operations failed or wrong)"
    )
    return rows
