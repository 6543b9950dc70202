"""The workloads: each sets up, runs its operations for the measuring
window, checks every output it produced, and returns a :class:`Outcome`.

Every call into the program goes through its public entry points:
``PipelineSpec.build_request_service`` / ``get_features`` (serve) and
``CurationSpec.build`` (curate). The traced serve run also drives the
batch mode (``PipelineSpec.build``) and the streaming mode
(``chunked_file_stream`` + ``tiled_sliding_window_stream`` +
``upsert_by_key``) of the same feature view, for their per-layer numbers.
"""

from __future__ import annotations

import os
import shutil
import threading
import traceback
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import pandas as pd

from perfbench import curation_check, feature_view as fv, gen
from perfbench.stats import median, now, tail

SERVE_EVENTS, SERVE_USERS = 5_000, 500
SERVE_CALLERS, POINTS_PER_CALL = 2, 16
STREAM_EVENTS, STREAM_USERS, STREAM_CHUNKS = 1_200, 150, 4
CURATE_DOCS = 1_500
SETUP_REPEATS = 3


@dataclass
class Outcome:
    """What one workload run measured.

    ``op_ms`` holds one latency per operation (a call or a curation pass);
    ``items`` / ``busy_s`` is the throughput."""

    unit: str  # what an item is: events, points, docs
    op_name: str
    session_s: float = 0.0
    # set-up = session start + median of the repeated set-up steps + the
    # one-off warm-up (the cold first call or pass)
    setup_units_s: list = field(default_factory=list)
    setup_once_s: float = 0.0
    op_ms: list = field(default_factory=list)
    items: int = 0
    busy_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    # traced run only: (traced?, seconds) per top-level operation; traced
    # and untraced operations alternate, their difference is the overhead
    op_wall: list = field(default_factory=list)
    errors: list = field(default_factory=list)
    layer: dict = field(default_factory=dict)
    batches: list = field(default_factory=list)  # raw stream progress events
    # traced serve run: the batch and streaming modes' own end-to-end
    # numbers (name -> (value, unit)), printed, not gated
    modes: dict = field(default_factory=dict)

    def fail(self, what: str, exc: BaseException | None = None) -> None:
        self.failed += 1
        msg = what if exc is None else f"{what}: {exc!r}"
        if exc is not None:
            msg += "\n" + "".join(traceback.format_exception(exc))[-2000:]
        self.errors.append(msg)


@dataclass
class Ctx:
    spark: object
    root: str
    seed: int
    seconds: float
    tracer: object

    def path(self, *parts: str) -> str:
        """A file under this run's root (its directory is created)."""
        p = os.path.join(self.root, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def dir(self, name: str) -> str:
        p = os.path.join(self.root, name)
        os.makedirs(p, exist_ok=True)
        return p

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    @contextmanager
    def op(self, out: "Outcome", k: int):
        """One top-level operation. In the traced run every other one runs
        with tracing suspended; yields whether this one is traced."""
        traced = self.traced and k % 2 == 1
        t0 = now()
        with nullcontext() if traced or not self.traced else self.tracer.suspended():
            yield traced
        if self.traced:
            out.op_wall.append((traced, now() - t0))


def _hash_action(df) -> int:
    """Forces every output column: xor of a row hash over the whole frame."""
    from pyspark.sql import functions as F

    return df.select(F.bit_xor(F.xxhash64(*df.columns))).collect()[0][0]


# -- serve ------------------------------------------------------------------


def _in_threads(target, args) -> None:
    threads = [threading.Thread(target=target, args=(a,)) for a in args]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def serve(ctx: Ctx, out: Outcome) -> None:
    """Request mode: a closed loop of two callers, each sending its next
    ``get_features`` call of 16 points only after the previous reply."""
    spark, tr = ctx.spark, ctx.tracer
    events = gen.make_events(ctx.seed, SERVE_EVENTS, SERVE_USERS)
    points = gen.request_points(ctx.seed, events, 4000)
    spec = svc = None
    served: list[dict] = []
    for i in range(SETUP_REPEATS):
        t0 = now()
        path = ctx.path(f"setup{i}", "events.parquet")
        gen.write_parquet(events, path)
        spec = fv.pipeline_spec(path)
        if svc is not None:
            svc.close()
        with tr.span("pipeline.build_request_service", op=f"setup{i}"):
            svc = spec.build_request_service(spark)
        out.setup_units_s.append(now() - t0)
    # the cold first call builds the rows index and pins the state; then
    # one call per caller at once warms the concurrent path
    t0 = now()
    with tr.span("serve.first_call", op="setup"):
        served.extend(svc.get_features(spark, points[:POINTS_PER_CALL]))
    first_call_s = now() - t0

    def warm(k: int) -> None:
        served.extend(svc.get_features(spark, points[k * POINTS_PER_CALL : (k + 1) * POINTS_PER_CALL]))

    _in_threads(warm, [1 + c for c in range(SERVE_CALLERS)])
    out.setup_once_s = now() - t0

    cursor = {"next": 1 + SERVE_CALLERS}
    lock = threading.Lock()
    calls: list[tuple[float, float, int]] = []
    deadline = now() + ctx.seconds

    def call(pts, traced: bool):
        if not traced:
            return svc.get_features(spark, pts)
        # get_features, step by step, so each step gets its own span
        with tr.span("serve.request_frame"):
            req = spark.createDataFrame(pts, ["request_id", *svc.key_cols, svc.ts_col])
        with tr.span("serve.plan"):
            plan = svc.lookup(req)
        with tr.span("serve.exec"):
            return plan.toArrow().to_pylist()

    def caller(ci: int) -> None:
        while now() < deadline:
            with lock:
                k = cursor["next"]
                cursor["next"] += 1
            pts = points[k * POINTS_PER_CALL : (k + 1) * POINTS_PER_CALL]
            t0 = now()
            try:
                with ctx.op(out, k) as traced, tr.span("serve.call", op=f"call{k}"):
                    rows = call(pts, traced)
            except Exception as e:  # noqa: BLE001 - a failed call is counted
                with lock:
                    out.attempted += 1
                    out.fail(f"call {k} (caller {ci})", e)
                continue
            t1 = now()
            with lock:
                out.attempted += 1
                calls.append((t0, t1, len(pts)))
                served.extend(rows)

    t_start = now()
    _in_threads(caller, range(SERVE_CALLERS))
    out.busy_s = max((c[1] for c in calls), default=now()) - t_start
    out.op_ms = [(b - a) * 1000.0 for a, b, _ in calls]
    out.items = sum(c[2] for c in calls)

    # every served point, the cold first calls included, against DuckDB
    want = fv.expected_at_points(
        events, pd.DataFrame(points, columns=["request_id", "user_id", "ts"])
    )
    bad: dict[int, str] = {}  # call -> its first wrong point
    for row in served:
        rid = int(row["request_id"])
        cols = fv.mismatches(row, want[rid])
        if cols:
            bad.setdefault(rid // POINTS_PER_CALL, f"point {rid} {cols}: got {row} want {want[rid]}")
    for k, msg in sorted(bad.items()):
        out.fail(f"call {k}: {msg}")
    expected_rows = POINTS_PER_CALL * (len(calls) + 1 + SERVE_CALLERS)
    if len(served) != expected_rows:
        out.fail(f"served {len(served)} rows, expected {expected_rows}")

    if ctx.traced:
        warm_s = median(out.op_ms) / 1000.0 if out.op_ms else 0.0
        out.layer["rows_index.build_s"] = first_call_s - warm_s
        _serve_layers(ctx, out)
        _backfill_layers(ctx, out, spec, events)
        _stream_layers(ctx, out)
    svc.close()


def _serve_layers(ctx: Ctx, out: Outcome) -> None:
    tr = ctx.tracer
    calls = sorted(tr.named("serve.call"), key=lambda s: s.start)
    by_parent: dict[int, dict[str, float]] = {}
    for s in tr.spans:
        if s.name in ("serve.request_frame", "serve.plan", "serve.exec"):
            by_parent.setdefault(s.parent, {})[s.name] = s.duration
    for step in ("request_frame", "plan", "exec"):
        xs = [by_parent.get(c.sid, {}).get(f"serve.{step}") for c in calls]
        xs = [x for x in xs if x is not None]
        out.layer[f"serve.{step}_s"] = median(xs) if xs else 0.0
    plans = [by_parent.get(c.sid, {}).get("serve.plan") for c in calls]
    plans = [p for p in plans if p is not None]
    q = max(len(plans) // 4, 1)
    out.layer["serve.plan_s_drift"] = (
        median(plans[-q:]) - median(plans[:q]) if plans else 0.0
    )


def _backfill_layers(ctx: Ctx, out: Outcome, spec, events: pd.DataFrame) -> None:
    """Batch mode over the same events, one warm pass each: the full
    ``PipelineSpec.build`` + hash action, the ``w7`` ML calls alone through
    the sweep, and the native window calls alone. A seeded sample of the
    batch rows is checked by brute force."""
    from volga_spark.functions.sliding import apply_sliding_aggs
    from volga_spark.operators.window import range_frame

    spark, tr = ctx.spark, ctx.tracer
    t0 = now()
    with tr.span("pipeline.backfill", op="backfill"):
        with tr.span("pipeline.build"):
            df = spec.build(spark)
        with tr.span("pipeline.action"):
            _hash_action(df)
    out.modes["backfill_events_per_s"] = (len(events) / (now() - t0), "events/s")
    out.attempted += 1
    sample = events.sample(n=min(200, len(events)), random_state=ctx.seed)
    got = {
        int(r["event_id"]): r.asDict()
        for r in df.where(df.event_id.isin([int(x) for x in sample.event_id])).collect()
    }
    want = fv.expected_at_rows(events, sample.rename(columns={"event_id": "request_id"}))
    bad = [k for k in want if k not in got or fv.mismatches(got[k], want[k])]
    if bad:
        out.fail(f"backfill rows wrong: {bad[:5]}")
    ev = spark.read.parquet(ctx.path("setup0", "events.parquet"))
    with tr.span("sliding.sweep", op="sweep"):
        swept = apply_sliding_aggs(
            ev,
            partition_by="user_id",
            order_by="ts",
            frame=range_frame("7 days"),
            specs=fv.w7_sliding_specs(),
            passthrough=["event_id"],
        )
        _hash_action(swept)
    ev.createOrReplaceTempView("events")
    with tr.span("window.native", op="native"):
        _hash_action(spark.sql(fv.NATIVE_SQL))


# -- streaming mode (traced serve run) ---------------------------------------


class _Progress:
    """Raw progress events of every micro-batch (``durationMs`` and
    ``stateOperators`` as Spark reports them, no bucketing)."""

    def __init__(self):
        self.events: list = []
        self._lock = threading.Lock()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with sink._lock:
                    sink.events.append(
                        {
                            "run_id": str(p.runId),
                            "batch": p.batchId,
                            "timestamp": p.timestamp,
                            "rows": p.numInputRows,
                            "duration_ms": dict(p.durationMs),
                            "state": [
                                {
                                    "rows": s.numRowsTotal,
                                    "memory_bytes": s.memoryUsedBytes,
                                    "commit_ms": s.commitTimeMs,
                                    "update_ms": s.allUpdatesTimeMs,
                                }
                                for s in p.stateOperators
                            ],
                        }
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _L()


def _stream_layers(ctx: Ctx, out: Outcome) -> None:
    """Streaming mode of the same feature view (traced run only): a backlog
    of time-ordered chunk files drained once with availableNow through the
    tiled ``w7`` window into the latest-per-user upsert table. The final
    table is checked against the last row per user, recomputed by brute
    force."""
    import volga_spark.streaming.runner as runner
    from pyspark.sql import functions as F
    from volga_spark.streaming.sources import SENTINEL_ID, chunked_file_stream

    spark, tr = ctx.spark, ctx.tracer
    # checkpoints and upsert state versions go under this run's own root
    runner._CKPT_ROOT = ctx.dir("ckpt")
    events = gen.make_events(ctx.seed, STREAM_EVENTS, STREAM_USERS)
    sf = ctx.dir("stream_sf")
    gen.write_parquet(events, os.path.join(sf, "events.parquet"))
    progress = _Progress()
    lst = progress.listener()
    spark.streams.addListener(lst)
    out.attempted += 1
    try:
        with tr.span("streaming.chunk_write", op="stream"):
            stream, _ = chunked_file_stream(
                spark, sf, "events", "ts", n_chunks=STREAM_CHUNKS,
                key_col="user_id", id_col="event_id", flush=True,
                scratch_root=ctx.dir("chunks"),
            )
        t0 = now()
        with tr.span("streaming.drain", op="stream", by_time=True):
            feats = fv.tiled_stream(stream, spill_root=ctx.dir("spill"))
            feats = feats.filter(F.col("event_id") != SENTINEL_ID)
            final = runner.upsert_by_key(feats, ["user_id"], ["ts", "event_id"])
        out.modes["stream_events_per_s"] = (len(events) / (now() - t0), "events/s")
        rows = [r.asDict() for r in final.collect()]
    except Exception as e:  # noqa: BLE001 - a failed drain is counted
        out.fail("stream drain", e)
        return
    finally:
        _wait_for_progress(progress, STREAM_CHUNKS + 2)
        spark.streams.removeListener(lst)
    out.batches = list(progress.events)
    trigger_ms = [float(b["duration_ms"].get("triggerExecution", 0)) for b in out.batches]
    if trigger_ms:
        out.modes["stream_batch_ms_p50"] = (median(trigger_ms), "ms")
        out.modes["stream_batch_ms_tail"] = (tail(trigger_ms)[0], "ms")
    last = events.sort_values("ts").groupby("user_id").tail(1)
    want = fv.expected_at_rows(events, last.rename(columns={"event_id": "request_id"}))
    got = {int(r["user_id"]): r for r in rows}
    wrong = []
    if len(got) != len(last):
        wrong.append(f"{len(got)} users in the upsert table, expected {len(last)}")
    for r in last.itertuples():
        g = got.get(int(r.user_id))
        w = want[int(r.event_id)]
        if g is None or int(g["event_id"]) != int(r.event_id) or fv.mismatches(g, w, fv.W7_COLS):
            wrong.append(f"user {r.user_id}: got {g} want event {r.event_id} {w}")
    if wrong:
        out.fail("stream upsert table: " + "; ".join(wrong[:3]))


def _wait_for_progress(progress: _Progress, n_batches: int) -> None:
    """Progress events arrive asynchronously; wait (bounded) until the
    drain has reported all its batches."""
    t_end = now() + 10.0
    while now() < t_end and len(progress.events) < n_batches:
        threading.Event().wait(0.1)


# -- curate -------------------------------------------------------------------


def curate(ctx: Ctx, out: Outcome) -> None:
    """``CurationSpec`` gopher_gate → exact_dedup → near_dedup →
    mixture_select over a generated corpus, one full pass per operation."""
    import volga_spark.operators.components as components

    spark, tr = ctx.spark, ctx.tracer
    docs, truth = gen.make_documents(ctx.seed, CURATE_DOCS)
    connected_components = components.connected_components
    if ctx.traced:
        # near_dedup looks the function up at call time: wrap it in a span
        def traced_components(*a, **kw):
            with tr.span("components.connected_components"):
                return connected_components(*a, **kw)

        components.connected_components = traced_components
    try:
        _curate(ctx, out, docs, truth)
    finally:
        components.connected_components = connected_components


def _curate(ctx: Ctx, out: Outcome, docs: pd.DataFrame, truth) -> None:
    from volga_spark.api.curation import CurationSpec

    spark, tr = ctx.spark, ctx.tracer
    stages = curation_check.stages(docs)
    path = None
    for i in range(SETUP_REPEATS):
        t0 = now()
        path = ctx.path(f"setup{i}", "docs.parquet")
        gen.write_parquet(docs, path)
        out.setup_units_s.append(now() - t0)
    # warm-up: the cold first pass (worker start-up, code generation, first
    # jobs) and one more, as the second pass of a process is still ~20% slow
    t0 = now()
    for _ in range(2):
        with tr.span("curate.warmup_pass", op="setup"):
            CurationSpec(stages=stages).build(spark, spark.read.parquet(path)).count()
    out.setup_once_s = now() - t0

    def one_pass(k: int):
        with ctx.op(out, k), tr.span("curate.pass", op=f"pass{k}"):
            with tr.span("curate.build"):
                built = CurationSpec(stages=stages).build(spark, spark.read.parquet(path))
            with tr.span("curate.action"):
                return built.select("doc_id", "domain", "n_tokens").collect()

    deadline = now() + ctx.seconds
    k = 0
    t_start = now()
    while now() < deadline or not out.op_ms:
        k += 1
        out.attempted += 1
        t0 = now()
        try:
            rows = one_pass(k)
        except Exception as e:  # noqa: BLE001 - a failed pass is counted
            out.fail(f"pass {k}", e)
            continue
        out.op_ms.append((now() - t0) * 1000.0)
        out.items += len(docs)
        verdict = curation_check.check(docs, truth, rows)
        out.layer["dedup.near_dup_recall"] = verdict.recall
        out.layer["dedup.near_dup_precision"] = verdict.precision
        if verdict.problems:
            out.fail(f"pass {k}: " + "; ".join(verdict.problems[:3]))
    out.busy_s = now() - t_start
    if ctx.traced:
        _curation_stage_layers(ctx, out, stages, path)


def _curation_stage_layers(ctx: Ctx, out: Outcome, stages: list, path: str) -> None:
    """Each stage timed alone (build + count) on the pinned output of the
    stage before it."""
    from volga_spark.api.curation import CurationSpec

    spark, tr = ctx.spark, ctx.tracer
    frame = spark.read.parquet(path).persist()
    frame.count()
    pinned = [frame]
    for st in stages:
        with tr.span(f"curate.stage.{st['op']}", op="stages"):
            nxt = CurationSpec(stages=[st]).build(spark, frame).persist()
            nxt.count()
        frame = nxt
        pinned.append(nxt)
    for p in pinned:
        p.unpersist()


WORKLOADS = {
    "serve": (serve, "points", "call"),
    "curate": (curate, "docs", "pass"),
}


def cleanup(root: str) -> None:
    shutil.rmtree(root, ignore_errors=True)
