"""Scale probe — measure headline operators at 10× sf0.1 (≈ sf1).

The bench gate runs at sf0.1; the design target is 100 TB. This probe
closes part of that gap empirically: it materializes a 10×-replicated
dataset (keys shifted per replica so CARDINALITIES scale with volume, not
just row counts; document text gets a per-replica suffix token so the
corpus does not become 10 exact copies, which would quadratically inflate
near-dup candidate pairs and measure a different workload) and times a
representative query slice at both scales on the same session. A
scale-linear operator should show wall-clock growth ≈ the data growth
minus amortized fixed costs; anything super-linear is a red flag the
sf0.1 bench cannot see.

Usage:  python scale_probe.py [factor] [query ...]   (default 10, PROBE_QUERIES)
Extra query names override the default slice — e.g.
`python scale_probe.py 10 q_dedup_approx_pairs q_stream_sliding_window`
probes the near-dup pipelines and streaming state at 10×.
Prints one JSON line: {query: {"base_s": .., "xN_s": .., "ratio": ..}}.
Results are recorded in SCALING.md §"Measured scaling curve".
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

PROBE_QUERIES = [
    "q_tpch_q1",
    "q_window_core",
    "q_ml_top_full",
    "q_dedup_exact",
    "q_dedup_clusters",
    "q_bm25_topk",
    "q_text_analysis",
    "q_groupby_minmax_having",
]


# Operators whose scale story is not (or not solely) carried by a registry
# query — probed directly so the curve covers them too (r06 verdict #6).
def _probe_pivot(spark, sf_dir):
    from volga_spark.operators.reshape import pivot_agg
    from volga_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    return pivot_agg(
        li, ["l_suppkey"], "l_returnflag", ["A", "N", "R"], "l_quantity"
    )


def _probe_paragraph_dedup(spark, sf_dir):
    from volga_spark.operators.dedup import paragraph_dedup
    from volga_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    # the synthetic corpus is single-paragraph; split after tokens whose
    # stem ends 'a' (the optional r<N> tail is the probe's replica suffix,
    # so splitting behaves identically in every replica) to synthesize
    # multi-paragraph docs with cross-doc duplicate paragraphs
    d = d.withColumn(
        "text", F.regexp_replace("text", "(\\w*a(?:r\\d+)?) ", "$1\n\n")
    )
    return paragraph_dedup(d, "doc_id", "text")


def _probe_pack_sft(spark, sf_dir):
    from volga_spark.operators.conversations import (
        pack_sft_spans,
        turns_from_documents,
    )
    from volga_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    conv = turns_from_documents(d, system_prompt="You are a helpful assistant.")
    packed, _ = pack_sft_spans(conv, seq_len=2048)
    return packed


def _probe_length_batching(spark, sf_dir):
    from volga_spark.operators.batching import length_bucketed_batches
    from volga_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    return length_bucketed_batches(d, 64)


def _probe_soft_dedup(spark, sf_dir):
    from pyspark.sql import Window

    from volga_spark.operators.sampling import cluster_soft_dedup
    from volga_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    clusters = d.select(
        "doc_id",
        F.min("doc_id").over(Window.partitionBy(F.md5("text"))).alias(
            "component"
        ),
    )
    return cluster_soft_dedup(d.select("doc_id", "source"), clusters)


def _probe_phase_schedule(spark, sf_dir):
    from volga_spark.operators.packing import phase_schedule
    from volga_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    phases = [
        {"name": "base", "weights": {"src0": 0.5, "src1": 0.3, "src2": 0.2},
         "token_budget": 60_000},
        {"name": "anneal", "weights": {"src0": 0.8, "src3": 0.2},
         "token_budget": 20_000},
    ]
    return phase_schedule(d, phases, seq_len=2048)


def _probe_curriculum_pack(spark, sf_dir):
    from volga_spark.operators.packing import curriculum_order, pack_sequences
    from volga_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    return pack_sequences(curriculum_order(d, "n_chars"), 2048)


EXTRA_PROBES = {
    "pivot_agg": _probe_pivot,
    "paragraph_dedup": _probe_paragraph_dedup,
    "pack_sft_spans": _probe_pack_sft,
    "length_bucketed_batches": _probe_length_batching,
    "cluster_soft_dedup": _probe_soft_dedup,
    "phase_schedule": _probe_phase_schedule,
    "curriculum_pack": _probe_curriculum_pack,
}

ID_SHIFTS = {
    # table -> columns shifted by replica * stride (key spaces scale with
    # volume; stride clears each table's sf0.1 id range)
    "events": {"event_id": 10_000_000, "user_id": 1_000_000},
    "documents": {"doc_id": 1_000_000},
    "lineitem": {"l_orderkey": 10_000_000},
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
    "customer": {"c_custkey": 1_000_000},
    "embeddings": {"vec_id": 1_000_000},
}
SMALL = ("region", "nation", "part", "supplier")  # dims: copied, not scaled


def build_scaled(spark, src: str, dst: str, factor: int) -> None:
    os.makedirs(dst, exist_ok=True)
    for name in SMALL:
        p = f"{src}/{name}.parquet"
        if os.path.exists(p):
            spark.read.parquet(p).write.mode("overwrite").parquet(
                f"{dst}/{name}.parquet"
            )
    for name, shifts in ID_SHIFTS.items():
        base = spark.read.parquet(f"{src}/{name}.parquet")
        reps = []
        for r in range(factor):
            rep = base
            for col, stride in shifts.items():
                rep = rep.withColumn(col, F.col(col) + F.lit(r * stride))
            if name == "documents" and r > 0:
                # make replicas textually DISJOINT while preserving each
                # doc's internal structure: suffix every token with the
                # replica tag. Token counts and intra-replica near-dup
                # structure are unchanged; cross-replica shingle overlap is
                # zero, so the near-dup candidate workload scales linearly
                # with volume instead of quadratically with clone count.
                rep = rep.withColumn(
                    "text",
                    F.array_join(
                        F.transform(
                            F.split(F.col("text"), " "),
                            lambda x: F.concat(x, F.lit(f"r{r}")),
                        ),
                        " ",
                    ),
                )
            reps.append(rep)
        out = reps[0]
        for rep in reps[1:]:
            out = out.unionByName(rep)
        out.write.mode("overwrite").parquet(f"{dst}/{name}.parquet")


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    queries = sys.argv[2:] or PROBE_QUERIES
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entry
    from bench import materialize, _cleanup  # same timing discipline

    from volga_spark.session import DEFAULT_SF_DIR as src, get_spark

    spark = get_spark()
    dst = f"/tmp/scaleprobe/x{factor}"
    if not os.path.exists(f"{dst}/documents.parquet"):
        t0 = time.perf_counter()
        build_scaled(spark, src, dst, factor)
        print(f"# built {dst} in {time.perf_counter() - t0:.1f}s", file=sys.stderr)

    reg = entry.queries()
    out = {}
    for name in queries:
        fn = reg[name] if name in reg else EXTRA_PROBES[name]
        times = {}
        # PROBE_TRIALS=1 for very large factors where best-of-2 would double
        # an already-long run; the default stays bench.py's best-of-2
        trials = max(1, int(os.environ.get("PROBE_TRIALS", "2")))
        for tag, d in (("base_s", src), (f"x{factor}_s", dst)):
            best = None
            for _ in range(trials):
                t0 = time.perf_counter()
                materialize(fn(spark, d))
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
                _cleanup(spark)
            times[tag] = round(best, 3)
        times["ratio"] = round(times[f"x{factor}_s"] / times["base_s"], 2)
        out[name] = times
        print(f"# {name}: {times}", file=sys.stderr)
    print(json.dumps({"factor": factor, "queries": out}))


if __name__ == "__main__":
    main()
