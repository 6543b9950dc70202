"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` the per-layer ones (and the spans go to
``.perfbench_out/<workload>-seed<seed>.spans.jsonl``). The lines before it
restate every metric by its workload-specific name, with its unit. The exit
code is 0 only when every output check passed. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _stop_spark(spark, pids: list[int]) -> None:
    """Stop the session and the JVM it launched, then wait until every
    process this run started (the JVM and its Python workers) has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway exits on EOF
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - escalate below
                proc.kill()
                proc.wait(timeout=10)
    t_end = time.time() + 20
    live = [p for p in pids if os.path.exists(f"/proc/{p}")]
    while live and time.time() < t_end:
        time.sleep(0.1)
        live = [p for p in live if os.path.exists(f"/proc/{p}")]
    for p in live:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, CHECKOUT)
    try:
        import volga_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout ({e})", file=sys.stderr)
        return 2
    from perfbench import report, workloads
    from perfbench.stats import HostCounters, RssSampler, descendants, now
    from perfbench.trace import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    fn, unit, op_name = workloads.WORKLOADS[args.workload]

    # a fresh root per run for inputs, chunk files, checkpoints and every
    # temporary file Spark, the JVMs or Python write (no JVM perf-data file
    # in the system temporary directory either)
    root = os.path.join(
        CHECKOUT, ".perfbench_runs", f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    )
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    nproc = len(os.sched_getaffinity(0))
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(nproc),
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": tmp,
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
    )
    out = workloads.Outcome(unit=unit, op_name=op_name)
    host = HostCounters()
    spark = None
    pids: list[int] = []
    try:
        with RssSampler() as rss:
            t0 = now()
            from volga_spark import get_spark

            spark = get_spark(
                f"perfbench-{args.workload}",
                extra_conf={"spark.ui.showConsoleProgress": "false"},
            )
            out.session_s = now() - t0
            tracer = Tracer(spark, enabled=bool(args.trace))
            ctx = workloads.Ctx(spark, root, args.seed, args.seconds, tracer)
            try:
                fn(ctx, out)
            except Exception as e:  # noqa: BLE001 - a workload that cannot run is counted
                out.attempted += 1
                out.fail(f"workload {args.workload} raised", e)
            if args.trace:
                tracer.collect_spark_counters()
            pids = descendants(os.getpid())
        result = report.build(args, out, rss.peak_mb, host, tracer if args.trace else None)
        if args.trace:
            out_dir = os.path.join(CHECKOUT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(
                os.path.join(out_dir, f"{args.workload}-seed{args.seed}.spans.jsonl"),
                extra=result,
            )
    finally:
        if spark is not None:
            _stop_spark(spark, pids or descendants(os.getpid()))
        workloads.cleanup(root)
    for line in report.lines(args.workload, out, result, rss.peak_mb):
        print(line)
    for e in out.errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
