"""Training-shard export — the last mile from curated corpus to trainer
input.

Composes the existing tiers into the artifact a pretraining dataloader
actually reads: BPE token ids, domain-mixture selected, packed into
fixed-length sequences, written as sharded parquet with a manifest.

  docs ──encode_bpe──► bpe_ids ──budget_select──► selected
       ──pack_sequences──► spans ──slice+assemble──► sequences
       ──write──► <root>/shards/shard=<i>/…  +  <root>/_manifest.json

Every step is exact and deterministic (md5 ranks, integer token
accounting, two-phase prefix-sum packing), so re-running the export on
the same corpus reproduces byte-identical sequences — the property a
training run's data provenance needs. Sequence assembly is native:
spans join back to the id arrays, `slice()` cuts each span's tokens,
and per-sequence order is restored with `array_sort` over
(seq_offset, chunk) structs before `flatten` — no Python in the
assembly path.

The manifest (written through the Hadoop FS, `operators/publish`
discipline) records per-shard sequence/token counts plus the packing
parameters — the dataset card numbers a trainer's sanity checks read.

Scale: encode is map-side; selection is the per-domain window; packing
moves each row once; assembly shuffles (seq_id, span) rows — bytes ∝
token ids, the unavoidable payload; shard writes are hive-partitioned.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from volga_spark.operators.bpe import BpeModel, encode_bpe
from volga_spark.operators.packing import budget_select, pack_sequences
from volga_spark.operators.publish import _HadoopFs
from volga_spark.operators.sampling import _bucket, _rank


def build_sequences(
    docs: DataFrame,
    model: BpeModel,
    seq_len: int,
    weights: dict[str, float] | None = None,
    token_budget: int = 0,
    domain_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "volga-export",
    emit_boundaries: bool = False,
    order: str = "shuffle",
    order_col: str | None = None,
    ascending: bool = True,
) -> DataFrame:
    """(seq_id, token_ids, n_tokens) fixed-length training sequences.
    Token accounting is over BPE ids (not whitespace words); with
    `weights` the per-domain token budgets apply, otherwise the whole
    corpus packs. ``emit_boundaries`` adds a ``bounds``
    array<struct<start,len,doc_id>> column (ordered by in-sequence start)
    — the document-boundary structure trainers turn into block-diagonal
    attention masks and position-id resets (operators/packing.py
    pack_boundaries semantics), assembled in the SAME per-sequence
    aggregation so it costs no extra shuffle.

    ``order`` picks the concatenation order the packer slices:
    ``"shuffle"`` (default) is the seeded md5 global permutation;
    ``"context"`` is the ICLM semantic-locality order (Shi et al. 2023 —
    ``operators/packing.simhash_rank``), so sequences hold RELATED
    documents; ``"curriculum"`` sorts by the integer ``order_col``
    (``ascending``-controlled — quality warmups, perplexity tails,
    length curricula; operators/packing.curriculum_order semantics).
    Pair the non-shuffle orders with
    ``export_training_shards(shuffle_seed=...)`` to still randomize
    SEQUENCE order while keeping within-sequence structure (the ICLM
    recipe: local coherence, global shuffle). With ``weights`` set the
    budget SELECTION always stays the uniform seeded-md5 sample — the
    order knob reorders the selected corpus, it never biases which
    documents are selected."""
    if order not in ("shuffle", "context", "curriculum"):
        raise ValueError(
            "order must be 'shuffle', 'context' or 'curriculum' "
            f"(got {order!r})"
        )
    enc = encode_bpe(docs, model, text_col=text_col)
    base = enc.withColumn(
        "n_tokens", F.size("bpe_ids").cast("bigint")
    ).filter(F.col("n_tokens") > 0)
    if order == "context":
        from volga_spark.operators.packing import simhash_rank

        # hash the RAW (id, text) projection, not `base`: the encode
        # mapInPandas is opaque to column pruning, so hashing through
        # base's lineage would re-run the whole BPE pass a second time;
        # the narrow select also sheds any pre-existing simhash column
        # (dedup outputs carry one)
        ranks = simhash_rank(
            docs.select(id_col, text_col), text_col=text_col, id_col=id_col
        ).select(id_col, "rank")
        base = base.join(ranks, id_col)
    elif order == "curriculum":
        from volga_spark.operators.packing import curriculum_rank

        if not order_col:
            raise ValueError("order='curriculum' requires order_col")
        # rank from the RAW (id, order_col) projection, like the context
        # branch: curriculum_rank's 1-row min/max stats broadcast would
        # otherwise materialize `base` — i.e. run the BPE encode
        # mapInPandas a second time before the localCheckpoint pin below.
        # Computing the stats over all docs (vs base's n_tokens>0 subset)
        # can only shift bucket BOUNDARIES, never the order: the bucket
        # prefix is monotone in the score, so the packed output is
        # byte-identical (pinned by test_build_sequences_curriculum_order).
        ranks = curriculum_rank(
            docs.select(id_col, order_col), order_col, ascending=ascending
        ).select(id_col, "rank")
        base = base.join(ranks, id_col)
    else:
        base = base.withColumn("rank", _rank(id_col, seed))
    # pin the branch point: `base` feeds BOTH the selection/packing
    # pipeline and the bpe_ids side of the spans join below — without
    # the pin the expensive BPE encode pass executes once per branch.
    base = base.localCheckpoint(eager=False)
    if weights:
        if order == "shuffle":
            selected = budget_select(
                base, weights, token_budget, domain_col, id_col
            )
        else:
            # selection and ordering are SEPARATE decisions: the budget
            # window must keep a uniform seeded-md5 sample per domain —
            # selecting by the simhash/score rank would keep a
            # semantically-clustered (or lowest-score) corner of the
            # corpus instead of a representative mixture. Select under
            # the md5 rank, then re-attach the order rank to the
            # selected subset (narrow id+rank join).
            sel = budget_select(
                base.withColumn("rank", _rank(id_col, seed)),
                weights,
                token_budget,
                domain_col,
                id_col,
            ).drop("rank")
            selected = sel.join(base.select(id_col, "rank"), id_col)
    else:
        selected = base.select(
            id_col, F.col(domain_col).alias("domain"), "n_tokens", "rank"
        )
    spans = pack_sequences(selected, seq_len, id_col=id_col)
    ids = base.select(id_col, "bpe_ids")
    chunks = spans.join(ids, id_col).select(
        "seq_id",
        "seq_offset",
        F.col(id_col).alias("__doc"),
        F.slice(
            F.col("bpe_ids"),
            (F.col("doc_offset") + 1).cast("int"),
            F.col("span_len").cast("int"),
        ).alias("chunk"),
    )
    agg = chunks.groupBy("seq_id").agg(
        # starts are unique within a sequence (spans partition it), so the
        # struct sort orders by seq_offset
        F.array_sort(
            F.collect_list(F.struct("seq_offset", "__doc", "chunk"))
        ).alias("ss")
    )
    cols = [
        F.col("seq_id"),
        F.flatten(F.transform("ss", lambda s: s["chunk"])).alias("token_ids"),
    ]
    if emit_boundaries:
        cols.append(
            F.transform(
                "ss",
                lambda s: F.struct(
                    s["seq_offset"].cast("bigint").alias("start"),
                    F.size(s["chunk"]).cast("bigint").alias("len"),
                    s["__doc"].alias("doc_id"),
                ),
            ).alias("bounds")
        )
    out = agg.select(*cols)
    return out.withColumn(
        "n_tokens", F.size("token_ids").cast("bigint")
    )


def export_training_shards(
    docs: DataFrame,
    model: BpeModel,
    root: str,
    seq_len: int,
    n_shards: int = 8,
    shuffle_seed: str | None = None,
    **kwargs,
) -> dict:
    """Write `build_sequences` output as hive-sharded parquet plus a
    manifest; returns the manifest dict.

    ``shuffle_seed`` turns on a deterministic GLOBAL shuffle of sequence
    order — the property a pretraining dataloader needs (adjacent
    sequences come from the same packed document run; feeding them in
    seq_id order correlates consecutive batches). Both the shard
    assignment and the within-shard order become pure functions of
    (seed, seq_id) via the md5 rank discipline of ``operators/sampling``
    (engine-portable, reproducible across runs and partitionings): shard
    = md5-bucket(seed, seq_id) % n_shards, order = md5(seed:seq_id).
    A reader that walks shards in index order and rows in ``shuffle_pos``
    order sees one fixed uniform permutation of the whole corpus.

    Scale: the shuffle costs exactly one hash exchange on ``shard`` plus
    a per-shard sort — the same single move the unshuffled write already
    pays, with sort keys that are 32-byte strings, not the token
    payload. No global sort, no driver-side permutation table.
    """
    spark = docs.sparkSession
    seqs = build_sequences(docs, model, seq_len, **kwargs)
    if shuffle_seed is None:
        seqs = seqs.withColumn(
            "shard", F.pmod(F.col("seq_id"), F.lit(n_shards)).cast("int")
        )
    else:
        seqs = (
            seqs.withColumn(
                "shard",
                (_bucket("seq_id", shuffle_seed) % n_shards).cast("int"),
            )
            .withColumn("shuffle_pos", _rank("seq_id", shuffle_seed))
            .repartition("shard")
            .sortWithinPartitions("shard", "shuffle_pos", "seq_id")
        )
    data_root = f"{root.rstrip('/')}/shards"
    seqs.write.mode("overwrite").partitionBy("shard").parquet(data_root)

    written = spark.read.parquet(data_root)
    # string keys: the manifest must round-trip through JSON unchanged
    per_shard = {
        str(r["shard"]): {"n_seqs": r["n_seqs"], "n_tokens": r["n_tokens"]}
        for r in written.groupBy("shard")
        .agg(
            F.count("*").alias("n_seqs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .collect()
    }
    manifest = {
        "seq_len": seq_len,
        "n_shards": n_shards,
        "shuffle_seed": shuffle_seed,
        "order": kwargs.get("order", "shuffle"),
        "order_col": kwargs.get("order_col"),
        "ascending": bool(kwargs.get("ascending", True)),
        "boundaries": "bounds" in seqs.columns,
        "shards": per_shard,
        "total_seqs": int(sum(s["n_seqs"] for s in per_shard.values())),
        "total_tokens": int(sum(s["n_tokens"] for s in per_shard.values())),
        "vocab_size": len(model.vocab),
    }
    fs = _HadoopFs(spark, root)
    fs.mkdirs(root)
    fs.write_text(f"{root.rstrip('/')}/_manifest.json", json.dumps(manifest))
    return manifest


def read_manifest(spark: SparkSession, root: str) -> dict:
    fs = _HadoopFs(spark, root)
    return json.loads(fs.read_text(f"{root.rstrip('/')}/_manifest.json"))


def epoch_read_plan(
    spark: SparkSession,
    root: str,
    epoch: int,
    n_slices: int | None = None,
    seed: str = "volga-epoch",
) -> DataFrame:
    """A FRESH deterministic global permutation of an exported shard set
    for each training epoch — with ZERO data rewrite.

    Multi-epoch training wants a different shuffle every epoch; rewriting
    100 TB of shards per epoch is absurd, and the usual dataloader
    compromise (fixed shard order, small in-memory shuffle buffer) only
    mixes locally. Because every sequence carries a stable ``seq_id``,
    a brand-new permutation is just a DERIVED sort key:
    ``epoch_pos = md5(seed:epoch : seq_id)`` — so each epoch costs one
    range exchange of the sequences (the same single move any shuffle
    pays), not a rewrite of the artifact.

    Returns the sequences with an ``epoch_pos`` column,
    range-partitioned into ``n_slices`` contiguous slices of the
    permuted order and sorted within each slice: a reader that walks
    partitions in index order streams the full epoch-``epoch``
    permutation. Slice boundaries come from Spark's range-partitioner
    sample, so slice SIZES can drift run-to-run — the ORDER (the
    training-relevant property) is exact and reproducible.
    """
    seqs = spark.read.parquet(f"{root.rstrip('/')}/shards")
    pos = _rank("seq_id", f"{seed}:{epoch}")
    out = seqs.withColumn("epoch_pos", pos)
    if n_slices is not None:
        out = out.repartitionByRange(n_slices, "epoch_pos", "seq_id")
    else:
        out = out.repartitionByRange("epoch_pos", "seq_id")
    return out.sortWithinPartitions("epoch_pos", "seq_id")
