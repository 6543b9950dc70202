"""Request mode — point-in-time feature lookup (SURVEY §2.10, §3.3).

The reference's WindowRequestOperator evaluates window aggregates at
*virtual points* (request timestamps) against the window operator's shared
state (reference src/runtime/operators/window/window_request_operator.rs:
110-120, aggregates/{plain_points,retractable_points}.rs).

Spark-first restatement: a request is a row (key, ts) carrying no data;
union it with the state rows, order by event time, and evaluate the same
sliding frame with request rows excluded from the aggregation inputs
(``when(is_request, NULL)`` never contributes). One shuffle on the key —
identical plan shape to the write-path window. For continuous serving, keep
the state table maintained by the streaming query and run this lookup per
request batch; single-key lookups prune to one partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from volga_spark.functions.sliding import apply_sliding_aggs, quote
from volga_spark.operators.window import Frame, RowsFrame, event_window

REQ_FLAG = "__is_request"


def point_in_time_lookup(
    state: DataFrame,
    requests: DataFrame,
    key_cols: str | list[str],
    ts_col: str,
    frame: Frame,
    agg_builder,
    request_id_col: str = "request_id",
    tiebreak: str | list[str] | None = None,
) -> DataFrame:
    """Evaluate window aggregates at each request's (key, ts) point.

    ``agg_builder(w: WindowSpec) -> dict[name, Column]`` builds the output
    expressions (use ``masked(col)`` for inputs so request rows never
    contribute). Returns one row per request. ``requests`` must carry the
    key columns, ``ts_col`` and a request id.

    ROWS frames (r13): a virtual point occupies the frame's CURRENT ROW
    slot but no stored position, so its frame is the last ``preceding``
    STATE rows at-or-before (ts, tiebreak) — request rows must never
    consume frame positions (reference plan_rows_points,
    plain_points.rs:183-262,345-370: stored_rows = window_size - 1, with
    rows at exactly the request ts counting as at-or-before). A raw ROWS
    frame over the union would let co-keyed requests displace state rows;
    instead state rows get a ``row_number`` position, each request is
    assigned the position of the newest state row at-or-before it (an
    as-of max over the union), and the aggregates run a RANGE frame over
    the integer POSITION axis — fully JVM-side, one hash exchange on the
    key, two in-partition sorts. ``tiebreak`` orders co-timestamped state
    rows (the reference's ``__seq_no``); required for determinism when
    (key, ts) is not unique.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    ties = [tiebreak] if isinstance(tiebreak, str) else list(tiebreak or [])
    state_cols = [c for c in state.columns if c not in keys and c != ts_col]

    s = state.select(
        *keys,
        ts_col,
        *state_cols,
        F.lit(0).alias(REQ_FLAG),
        F.lit(None).cast("long").alias(request_id_col),
    )
    r = requests.select(
        *keys,
        ts_col,
        *[F.lit(None).cast(dict(state.dtypes)[c]).alias(c) for c in state_cols],
        F.lit(1).alias(REQ_FLAG),
        F.col(request_id_col).cast("long"),
    )
    if isinstance(frame, RowsFrame):
        pos = "__state_pos"
        s = s.withColumn(
            pos,
            F.row_number().over(
                W.partitionBy(*keys).orderBy(
                    F.col(ts_col), *[F.col(t) for t in ties]
                )
            ),
        )
        r = r.withColumn(pos, F.lit(None).cast("int"))
        combined = s.unionByName(r)
        # as-of position: newest state row at-or-before each request —
        # ordering (ts, flag) puts requests after ALL state rows sharing
        # their ts (the reference seeks Cursor(ts, u64::MAX)). pos joins
        # the sort so co-timestamped STATE rows rank ascending by their
        # own position: without it the intra-tie arrangement is
        # UNSPECIFIED, and a state row sorted after a co-ts higher
        # position would inherit that position via max-so-far, widening
        # other frames (r13 review find; requests carry NULL pos and
        # only read the max). max() keeps REQUEST rows insensitive to
        # their own tie arrangement.
        w_asof = (
            W.partitionBy(*keys)
            .orderBy(F.col(ts_col), F.col(REQ_FLAG), F.col(pos))
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        combined = combined.withColumn(
            "__pos_val", F.coalesce(F.max(pos).over(w_asof), F.lit(0))
        )
        if frame.preceding == 0:
            # ROWS 0 PRECEDING: the virtual point IS the whole frame — zero
            # stored rows; park requests below every state position so the
            # single-point range sees only co-parked requests (all NULLs)
            combined = combined.withColumn(
                "__pos_val",
                F.when(F.col(REQ_FLAG) == 1, F.lit(-1)).otherwise(
                    F.col("__pos_val")
                ),
            )
            span = 0
        else:
            span = frame.preceding - 1
        # RANGE over the position axis: a request anchored at pos p frames
        # state positions [p - preceding + 1, p] — exactly the last
        # ``preceding`` state rows; co-located requests contribute NULLs
        w = (
            W.partitionBy(*keys)
            .orderBy(F.col("__pos_val"))
            .rangeBetween(-span, 0)
        )
    else:
        combined = s.unionByName(r)
        w = event_window(keys, ts_col, frame)
    out = combined.select(
        *keys,
        ts_col,
        F.col(request_id_col),
        F.col(REQ_FLAG),
        *[expr.alias(name) for name, expr in agg_builder(w).items()],
    )
    return out.filter(F.col(REQ_FLAG) == 1).drop(REQ_FLAG)


def point_in_time_ml_lookup(
    state: DataFrame,
    requests: DataFrame,
    key_cols: str | list[str],
    ts_col: str,
    frame=None,
    specs=None,
    prepared: dict[str, Column] | None = None,
    request_id_col: str = "request_id",
    tiebreak: str | list[str] | None = None,
    groups=None,
) -> DataFrame:
    """Evaluate the ML UDAF library (cate/top sweep specs) at each request's
    (key, ts) virtual point — the reference's WindowRequestOperator over its
    full UDAF surface (reference window_request_operator.rs:110-120,
    aggregates/point_request_merge.rs), not just native aggregates.

    ``specs`` are the same SlidingSpec values the write-path sweep takes
    (sum_cate, top, top_n_* ...); ``prepared`` expressions are evaluated
    JVM-side on the STATE rows only, all over the state's own columns
    (request rows carry NULL inputs and never reach the accumulators).
    One hash shuffle on the key; requests ride the same exchange as state
    — identical plan shape to the write path, so serving scales exactly
    like the window computation itself.

    ROWS frames are served (r13): the sweep gives requests the frame's
    current-row slot and its last ``preceding`` STATE rows (reference
    plain_points.rs:345-370). The union is sorted (ts, request-flag,
    tiebreak) so requests land after co-timestamped state rows, matching
    the reference's Cursor(ts, u64::MAX) seek; ``tiebreak`` (state
    columns, e.g. a sequence number) orders co-timestamped state rows.

    ``groups`` (instead of ``frame``/``specs``): several ``(frame, specs)``
    pairs answered by ONE sweep — one exchange, one sort, one Python pass
    for every frame (``apply_sliding_aggs(groups=...)``). Every frame sees
    the same ``(key, ts, request flag, tiebreak)`` order a single-frame
    lookup uses, so each column equals that frame's own lookup.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    ties = [tiebreak] if isinstance(tiebreak, str) else list(tiebreak or [])
    if groups is None:
        groups = [(frame, specs)]

    # SQL-text projections: Column algebra costs a py4j round trip per
    # column and operation, and request planning runs on every call
    s = state.withColumns(prepared) if prepared else state
    input_cols = sorted({c for _, g in groups for spec in g for c in spec.inputs})
    nulled = list(dict.fromkeys([*ties, *input_cols]))
    rid = quote(request_id_col)
    s = s.selectExpr(
        *map(quote, [*keys, ts_col, *nulled]),
        f"0 AS {REQ_FLAG}",
        f"CAST(NULL AS BIGINT) AS {rid}",
    )
    types = dict(s.dtypes)
    r = requests.selectExpr(
        *map(quote, [*keys, ts_col]),
        *[f"CAST(NULL AS {types[c]}) AS {quote(c)}" for c in nulled],
        f"1 AS {REQ_FLAG}",
        f"CAST({rid} AS BIGINT) AS {rid}",
    )
    if requests.isLocal():
        # a local batch (request_frame) is small and deterministic: keep
        # only the requested keys' state rows, so the Python sweep never
        # receives other keys' groups (results are per key, so unchanged).
        # Collecting a bare local relation runs no job, and the keys enter
        # the plan as a literal IN list (no broadcast).
        wanted = dict.fromkeys(map(tuple, requests.select(*keys).collect()))
        cond = _key_filter(keys, types, wanted)
        if cond is not None:
            s = s.filter(cond)
    combined = s.unionByName(r)
    return apply_sliding_aggs(
        combined,
        partition_by=keys,
        order_by=ts_col,
        groups=groups,
        passthrough=[request_id_col, *keys, ts_col],
        request_col=REQ_FLAG,
        tiebreak=[REQ_FLAG, *ties],
    )


def _plain_literal(v) -> str | None:
    """``v`` as SQL text that reads the same under every parser setting,
    or None (floats, datetimes, strings with quotes or backslashes...)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, str) and "'" not in v and "\\" not in v:
        return f"'{v}'"
    return None


def _key_filter(keys: list[str], types: dict, wanted) -> str | None:
    """``struct(keys) IN (named_struct(...), ...)`` over the requested key
    tuples, typed as the state's key columns. Struct equality in IN/INSET
    treats NULL fields as equal, so a NULL-key request keeps the NULL-key
    state rows, as the sweep's groups do. None when some key or value has
    no plain literal form: the prune is only an optimization, so the
    lookup then sweeps every key."""
    if not wanted:
        return "FALSE"
    items = []
    for kv in wanted:
        fields = []
        for k, v in zip(keys, kv):
            lit, name = _plain_literal(v), _plain_literal(k)
            if lit is None or name is None:
                return None
            fields.append(f"{name}, CAST({lit} AS {types[k]})")
        items.append(f"named_struct({', '.join(fields)})")
    return f"struct({', '.join(map(quote, keys))}) IN ({', '.join(items)})"


def request_frame(spark, points: list[tuple], cols: list[str]) -> DataFrame:
    """A request batch as a JVM ``LocalRelation`` built from Arrow.

    Same schema and internal values as ``createDataFrame`` over the same
    list of tuples and column names: the schema comes from the same
    inference and every row goes through the same ``StructType.toInternal``
    (naive datetimes read in the process's local zone, aware ones
    converted), so only the carrier changes. That frame is a pickled
    Python RDD whose every scan runs a Python-worker task; this one is a
    leaf the planner scans in the JVM, and ``isLocal()`` holds on it.
    ``points`` must be non-empty (an empty batch has no schema to infer).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _create_converter

    # the steps of SparkSession._createFromLocal, in its order
    schema = spark._inferSchemaFromList(points, names=list(cols))
    convert = _create_converter(schema)
    for i, name in enumerate(cols):
        schema.fields[i].name = name
        schema.names[i] = name
    rows = [schema.toInternal(convert(p)) for p in points]
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


def masked(value: str | Column) -> Column:
    """State-rows-only input for request-mode aggregates: NULL on request
    rows so they never contribute to their own window."""
    v = F.col(value) if isinstance(value, str) else value
    return F.when(F.col(REQ_FLAG) == 0, v)


class FeatureService:
    """Request-serving front end (reference HTTP request path, SURVEY §3.3).

    Wraps a maintained state table (in production: continuously upserted by
    the streaming write path) and answers batched point-in-time feature
    lookups. The reference serves each HTTP request through
    RequestSource → keyby → WindowRequestOperator → RequestSink; here a
    request batch is one lookup DataFrame job. An HTTP wrapper would simply
    call ``lookup`` per request batch — sub-ms single-row serving is out of
    scope for Spark (SURVEY §2.10), point-in-time *correctness* is the
    contract.
    """

    def __init__(
        self,
        state: DataFrame,
        key_cols,
        ts_col: str,
        frame,
        agg_builder,
        tiebreak: str | list[str] | None = None,
    ):
        self.state = state
        self.key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
        self.ts_col = ts_col
        self.frame = frame
        self.agg_builder = agg_builder
        self.tiebreak = tiebreak  # orders co-timestamped state (ROWS frames)
        self._cached = False

    def _ensure_cached(self) -> None:
        # repeated lookups re-plan against the same state: pin it in the
        # block cache once so every request batch after the first skips the
        # parquet scan (measured: see SCALING.md request-serving numbers)
        if not self._cached:
            self.state = self.state.persist()
            self._cached = True

    def close(self) -> None:
        if self._cached:
            self.state.unpersist()
            self._cached = False

    def lookup(
        self,
        requests: DataFrame,
        request_id_col: str = "request_id",
        materialize: bool = False,
    ):
        """``materialize=True`` (r13) returns a collected ``pyarrow.Table``
        instead of a live DataFrame — data, not a plan; the HTTP path's
        choice."""
        self._ensure_cached()
        out = point_in_time_lookup(
            self.state,
            requests,
            key_cols=self.key_cols,
            ts_col=self.ts_col,
            frame=self.frame,
            agg_builder=self.agg_builder,
            request_id_col=request_id_col,
            tiebreak=self.tiebreak,
        )
        return out.toArrow() if materialize else out

    def get_features(self, spark, points: list[tuple]) -> list[dict]:
        """points = [(request_id, key..., ts)] → list of feature dicts."""
        if not points:
            return []
        cols = ["request_id", *self.key_cols, self.ts_col]
        req = request_frame(spark, points, cols)
        return self.lookup(req, materialize=True).to_pylist()
