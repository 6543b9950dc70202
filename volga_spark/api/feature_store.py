"""Offline feature retrieval: point-in-time-correct training-set export.

The defining batch operation of a feature platform (the reference's
domain): given a SPINE of (entity keys, event timestamp[, label]) rows,
attach to each row the value every feature view had AT THAT MOMENT — never
later (no label leakage), and never staler than the view's TTL. This is
`get_historical_features` in Feast-style stores; the reference serves the
same point-in-time semantics on its request path
(reference src/runtime/operators/window/window_request_operator.rs), while
this module is the batch/export twin over the same as-of machinery.

Each feature view resolves with one `asof_join` (backward, TTL as
tolerance) — the single-shuffle sort-merge carry plan of
``operators/asof.py``. N views = N sequential as-of joins, each shuffling
only (spine ⊕ that view's feature rows) on the entity key — there is no
N-way pre-join blowup, and views with different keys partition
independently. At 100 TB: the spine is typically the small side (training
examples), feature histories the large; the carry plan streams both sorted
sides once.

Feature names are prefixed ``<view>__<column>`` so views can't collide —
the flattened wide-row layout training pipelines expect.

The ONLINE half (`materialize_online` / `OnlineStore.lookup`) feeds the
same view definition from a stream through the exactly-once keyed upsert
sink (`streaming/runner.upsert_by_key`) into latest-per-key state and
serves key lookups from it. Train/serve consistency is a theorem here,
not a hope: the online value for a key equals `get_historical_features`
evaluated at "now" because both reduce to latest-row-at-or-before-ts per
key — and the test suite asserts that equality end-to-end.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from volga_spark.operators.asof import asof_join
from volga_spark.operators.request import request_frame


@dataclass
class FeatureView:
    """A versioned feature table: entity keys, event-time column, and the
    feature columns to expose. ``ttl_us`` bounds staleness — a feature
    older than the TTL at the spine timestamp resolves to NULL (the
    train/serve-consistent treatment of expired state)."""

    name: str
    source: DataFrame
    keys: list[str]
    ts_col: str
    features: list[str] = field(default_factory=list)
    ttl_us: int | None = None

    def __post_init__(self) -> None:
        if not self.features:
            self.features = [
                c
                for c in self.source.columns
                if c not in self.keys and c != self.ts_col
            ]


def get_historical_features(
    spine: DataFrame,
    spine_ts: str,
    views: list[FeatureView],
) -> DataFrame:
    """Attach every view's point-in-time feature values to the spine.

    For each spine row and each view: the view row with the same entity
    key and the LATEST ``ts_col`` ≤ the spine timestamp (ties inclusive),
    NULL if none exists or the match is older than ``ttl_us``. Spine rows
    and columns pass through unchanged; added columns are
    ``<view.name>__<feature>``.
    """
    seen: set[str] = set()
    out = spine
    for v in views:
        if v.name in seen:
            raise ValueError(f"duplicate feature view name {v.name!r}")
        seen.add(v.name)
        renamed = v.source.select(
            *v.keys,
            v.ts_col,
            *[
                v.source[c].alias(f"{v.name}__{c}")
                for c in v.features
            ],
        )
        out = asof_join(
            out,
            renamed,
            on=v.keys,
            left_ts=spine_ts,
            right_ts=v.ts_col,
            value_cols=[f"{v.name}__{c}" for c in v.features],
            direction="backward",
            tolerance_us=v.ttl_us,
        )
    return out


@dataclass
class OnlineStore:
    """Latest-per-key feature state for one view, served by key lookup.

    ``state`` holds exactly one row per entity key (the stream's newest by
    event time, exactly-once via the epoch-retry-idempotent upsert sink).
    ``lookup`` broadcast-joins a batch of entity keys against it — the
    serving-path shape of `operators/request.FeatureService`, here for
    plain latest-value features. The first lookup pins the state in the
    block cache (call ``close()`` to release).
    """

    view_name: str
    keys: list[str]
    ts_col: str
    features: list[str]
    state: DataFrame
    _cached: bool = False

    def lookup(self, entities: DataFrame) -> DataFrame:
        if not self._cached:
            self.state = self.state.persist()
            self._cached = True
        # left join keeps every requested entity (missing keys → NULLs);
        # left-outer can only broadcast its RIGHT side, and at serving
        # scale the state is the big side — so this relies on the pinned
        # block cache + key-pruned scan, the FeatureService discipline
        out = entities.join(self.state, self.keys, "left")
        return out.select(
            *entities.columns,
            *[
                F.col(c).alias(f"{self.view_name}__{c}")
                for c in self.features
            ],
        )

    def close(self) -> None:
        if self._cached:
            self.state.unpersist()
            self._cached = False

    # --- FeatureServer protocol (api/serving.py): latest-value services
    # declare key-only request columns (no timestamp in the request) ---

    @property
    def request_columns(self) -> list[str]:
        return ["request_id", *self.keys]

    def get_features(self, spark, points: list[tuple]) -> list[dict]:
        """points = [(request_id, key...)] → list of feature dicts."""
        if not points:
            return []
        req = request_frame(spark, points, self.request_columns)
        return [r.asDict() for r in self.lookup(req).collect()]


def materialize_online(
    stream_df: DataFrame,
    view: FeatureView,
    timeout_s: int = 300,
) -> OnlineStore:
    """Fold a streaming DataFrame (same schema as the view's source) into
    latest-per-key online state via the exactly-once keyed upsert sink.

    The stream side needs no watermark: upsert-latest is monotone (a late
    row older than the stored one loses the in-batch priority window and
    the state keeps the newer value), so state size is O(keys) regardless
    of stream length — the online-store bound.
    """
    from volga_spark.streaming.runner import upsert_by_key

    cols = [*view.keys, view.ts_col, *view.features]
    state = upsert_by_key(
        stream_df.select(*cols),
        key_cols=view.keys,
        order_cols=[view.ts_col],
        timeout_s=timeout_s,
    )
    return OnlineStore(
        view_name=view.name,
        keys=list(view.keys),
        ts_col=view.ts_col,
        features=list(view.features),
        state=state,
    )
