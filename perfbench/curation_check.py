"""The curate workload's stage list and its check against the planted
ground truth of :func:`perfbench.gen.make_documents`."""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field

import pandas as pd

from perfbench.gen import DOMAINS, DocTruth


def stages(docs: pd.DataFrame) -> list[dict]:
    """gopher_gate → exact_dedup → near_dedup → mixture_select.

    Every domain gets weight 0.2 and the token budget is five times the
    largest domain's token total, so no domain's budget binds: the selection
    still ranks and windows every document, and its output is exactly the
    deduplicated corpus, which the ground truth pins down."""
    tokens = docs["text"].str.split().str.len().groupby(docs["source"]).sum()
    budget = 5 * int(tokens.max()) + 5
    return [
        {"op": "gopher_gate"},
        {"op": "exact_dedup"},
        {"op": "near_dedup"},
        {
            "op": "mixture_select",
            "weights": {d: 0.2 for d in DOMAINS},
            "token_budget": budget,
        },
    ]


@dataclass
class Verdict:
    recall: float
    precision: float
    problems: list = field(default_factory=list)


def check(docs: pd.DataFrame, truth: DocTruth, rows) -> Verdict:
    """``rows``: the pass's output ``(doc_id, domain, n_tokens)``.

    Planted short documents must be gone, each planted duplicate cluster
    must keep exactly one member, and every other document must be kept
    with its domain and whitespace token count."""
    problems: list[str] = []
    kept = [int(r["doc_id"]) for r in rows]
    dup_ids = [d for d, c in Counter(kept).items() if c > 1]
    if dup_ids:
        problems.append(f"doc ids emitted twice: {dup_ids[:5]}")
    kept_set = set(kept)
    unknown = kept_set - set(truth.kind)
    if unknown:
        problems.append(f"unknown doc ids: {sorted(unknown)[:5]}")
    shorts = [d for d in kept_set if truth.kind.get(d) == "short"]
    if shorts:
        problems.append(f"short documents kept: {shorts[:5]}")

    members: dict[int, list[int]] = {}
    for d, c in truth.cluster.items():
        if truth.kind[d] != "short":
            members.setdefault(c, []).append(d)
    near_planted = near_removed = wrongly_removed = 0
    for c, ms in members.items():
        n_kept = sum(1 for m in ms if m in kept_set)
        is_near = any(truth.kind[m] == "near" for m in ms)
        removed = len(ms) - n_kept
        if is_near:
            near_planted += len(ms) - 1
            near_removed += min(removed, len(ms) - 1)
        wrongly_removed += max(0, removed - (len(ms) - 1))
        if n_kept != 1:
            kind = "near" if is_near else ("exact" if len(ms) > 1 else "unique")
            problems.append(f"{kind} cluster {c} keeps {n_kept} of {sorted(ms)}")

    text = dict(zip(docs["doc_id"].astype(int), docs["text"]))
    source = dict(zip(docs["doc_id"].astype(int), docs["source"]))
    for r in rows:
        d = int(r["doc_id"])
        if d not in text:
            continue
        if int(r["n_tokens"]) != len(text[d].split()):
            problems.append(f"doc {d}: n_tokens {r['n_tokens']} != {len(text[d].split())}")
        if r["domain"] != source[d]:
            problems.append(f"doc {d}: domain {r['domain']!r} != {source[d]!r}")
    recall = near_removed / near_planted if near_planted else 1.0
    denom = near_removed + wrongly_removed
    precision = near_removed / denom if denom else 1.0
    return Verdict(recall=recall, precision=precision, problems=problems)
