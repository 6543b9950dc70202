"""Seeded input generators: the only data the program under test receives.

Everything here is a pure function of the seed and the size arguments, and
the parquet files are written with fixed writer options, so one seed gives
byte-identical files (pinned by tests/test_perfbench.py).

*events* ``(event_id, ts, user_id, event_type, value)``:
  users follow a Zipf(~1.1) popularity, timestamps span 30 days with one
  ``ts`` per ``(user_id, ts)``, 5 event types, gamma values rounded to cents.

*documents* ``(doc_id, text, source)``:
  words from a seeded Zipf vocabulary across 5 source domains; about 5% of
  the documents are planted exact copies, about 10% planted near-duplicates
  (a few word substitutions, clusters of 2 to 5), and a few planted short
  documents that the Gopher word-count rule must drop. :class:`DocTruth`
  keeps the ground truth.
"""

from __future__ import annotations

import datetime as _dt
import string
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("buy", "cart", "click", "share", "view")
_EVENT_TYPE_P = (0.08, 0.15, 0.40, 0.12, 0.25)
DOMAINS = ("books", "code", "forum", "news", "web")
EPOCH = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)
DAYS = 30
ZIPF_S = 1.1


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def _zipf_p(n: int, s: float = ZIPF_S) -> np.ndarray:
    p = np.arange(1, n + 1, dtype=np.float64) ** -s
    return p / p.sum()


def make_events(seed: int, n_events: int, n_users: int) -> pd.DataFrame:
    """Events sorted by ``(ts, user_id)``; ``event_id`` follows that order."""
    rng = _rng(seed, 1)
    # user ids are a seeded permutation of popularity ranks, so the hot keys
    # are not simply the smallest ids
    ids = rng.permutation(n_users).astype(np.int64) + 1000
    users = ids[rng.choice(n_users, size=n_events, p=_zipf_p(n_users))]
    secs = rng.integers(0, DAYS * 86400, size=n_events, dtype=np.int64)
    df = pd.DataFrame({"user_id": users, "sec": secs})
    df = df.sort_values(["user_id", "sec"], kind="stable").reset_index(drop=True)
    # one ts per (user_id, ts): within a user, ts_i = max(ts_i, ts_{i-1} + 1),
    # i.e. i + cummax(ts_j - j) over the user's sorted run
    k = df.groupby("user_id").cumcount().to_numpy()
    df["sec"] = df["sec"].to_numpy() - k
    df["sec"] = df.groupby("user_id")["sec"].cummax().to_numpy() + k
    df = df.sort_values(["sec", "user_id"], kind="stable").reset_index(drop=True)
    n = len(df)
    micros = int(EPOCH.timestamp()) * 1_000_000 + df["sec"].to_numpy() * 1_000_000
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pd.to_datetime(micros, unit="us", utc=True),
            "user_id": df["user_id"].to_numpy(),
            "event_type": np.asarray(EVENT_TYPES)[
                rng.choice(len(EVENT_TYPES), size=n, p=_EVENT_TYPE_P)
            ],
            "value": np.round(rng.gamma(2.0, 40.0, size=n), 2),
        }
    )


def request_points(
    seed: int, events: pd.DataFrame, n_points: int
) -> list[tuple[int, int, _dt.datetime]]:
    """``(request_id, user_id, ts)`` serving points: users drawn with the
    events' own Zipf skew (the user of a uniformly drawn event row), times
    uniform over the 30 days. Events sit on whole seconds and points carry a
    millisecond offset, so a point never ties with a stored row."""
    rng = _rng(seed, 2)
    rows = rng.integers(0, len(events), size=n_points)
    users = events["user_id"].to_numpy()[rows]
    secs = rng.integers(0, DAYS * 86400, size=n_points)
    frac = rng.integers(1, 1000, size=n_points)  # milliseconds off the grid
    return [
        (
            i,
            int(users[i]),
            EPOCH + _dt.timedelta(seconds=int(secs[i]), milliseconds=int(frac[i])),
        )
        for i in range(n_points)
    ]


@dataclass
class DocTruth:
    """Ground truth for a generated corpus.

    ``cluster`` maps every doc_id to its planted duplicate cluster (exact
    copies and near-duplicate variants share their base's cluster; every
    other document is its own cluster). ``kind`` is ``unique``, ``exact``,
    ``near`` or ``short`` per doc_id (``exact``/``near`` mark the planted
    copies, not their base)."""

    cluster: dict[int, int]
    kind: dict[int, str]

    def near_pairs(self) -> set[tuple[int, int]]:
        """Unordered pairs of distinct documents in one near-dup cluster."""
        by_cluster: dict[int, list[int]] = {}
        for d, c in self.cluster.items():
            by_cluster.setdefault(c, []).append(d)
        pairs = set()
        for members in by_cluster.values():
            if any(self.kind[m] == "near" for m in members):
                ms = sorted(members)
                pairs.update(
                    (a, b) for i, a in enumerate(ms) for b in ms[i + 1 :]
                )
        return pairs


def _vocab(rng: np.random.Generator, n_words: int) -> np.ndarray:
    letters = np.array(list(string.ascii_lowercase))
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n_words:
        w = "".join(rng.choice(letters, size=int(rng.integers(3, 9))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words)


def make_documents(
    seed: int, n_docs: int, vocab_size: int = 4000
) -> tuple[pd.DataFrame, DocTruth]:
    rng = _rng(seed, 3)
    vocab = _vocab(rng, vocab_size)
    p = _zipf_p(vocab_size)
    # each domain ranks the shared vocabulary differently
    rankings = {d: rng.permutation(vocab_size) for d in DOMAINS}

    def words(domain: str, n: int) -> list[str]:
        return list(vocab[rankings[domain][rng.choice(vocab_size, size=n, p=p)]])

    n_exact = round(0.05 * n_docs)
    n_near_target = round(0.10 * n_docs)
    n_short = round(0.02 * n_docs)
    docs: list[tuple[str, str, str, int]] = []  # (text, source, kind, cluster)
    n_near = 0
    cluster_id = 0
    while n_near < n_near_target:
        size = int(rng.integers(2, 6))
        dom = DOMAINS[int(rng.integers(len(DOMAINS)))]
        base = words(dom, int(rng.integers(120, 240)))
        docs.append((" ".join(base), dom, "unique", cluster_id))
        for _ in range(size - 1):
            variant = list(base)
            for pos in rng.choice(len(variant), size=int(rng.integers(1, 4)), replace=False):
                variant[pos] = words(dom, 1)[0]
            docs.append((" ".join(variant), dom, "near", cluster_id))
            n_near += 1
        cluster_id += 1
    n_unique = n_docs - len(docs) - n_exact - n_short
    if n_unique < n_exact:
        raise ValueError(f"n_docs={n_docs} too small for the planted shares")
    first_unique = len(docs)
    for _ in range(n_unique):
        dom = DOMAINS[int(rng.integers(len(DOMAINS)))]
        docs.append((" ".join(words(dom, int(rng.integers(80, 240)))), dom, "unique", cluster_id))
        cluster_id += 1
    # exact copies of distinct unique documents (never of a near cluster)
    for src in rng.choice(n_unique, size=n_exact, replace=False):
        text, dom, _, cl = docs[first_unique + int(src)]
        docs.append((text, dom, "exact", cl))
    for _ in range(n_short):
        dom = DOMAINS[int(rng.integers(len(DOMAINS)))]
        docs.append((" ".join(words(dom, int(rng.integers(10, 40)))), dom, "short", cluster_id))
        cluster_id += 1
    order = rng.permutation(len(docs))  # doc_id = shuffled position
    doc_ids = np.empty(len(docs), dtype=np.int64)
    doc_ids[order] = np.arange(len(docs), dtype=np.int64)
    frame = pd.DataFrame(
        {
            "doc_id": doc_ids,
            "text": [d[0] for d in docs],
            "source": [d[1] for d in docs],
        }
    ).sort_values("doc_id", kind="stable").reset_index(drop=True)
    truth = DocTruth(
        cluster={int(doc_ids[i]): d[3] for i, d in enumerate(docs)},
        kind={int(doc_ids[i]): d[2] for i, d in enumerate(docs)},
    )
    return frame, truth


def write_parquet(df: pd.DataFrame, path: str) -> None:
    """One row group, fixed writer options: same frame, same bytes.
    Timestamps are written as microseconds in UTC."""
    table = pa.Table.from_pandas(df, preserve_index=False)
    for i, f in enumerate(table.schema):
        if pa.types.is_timestamp(f.type):
            table = table.set_column(
                i, f.name, table.column(i).cast(pa.timestamp("us", tz="UTC"))
            )
    pq.write_table(
        table.replace_schema_metadata(None),
        path,
        compression="snappy",
        row_group_size=max(len(df), 1),
        use_dictionary=True,
        write_statistics=True,
    )
