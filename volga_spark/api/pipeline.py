"""PipelineSpec front end (SURVEY §3.1 — the reference's product path).

Reference: ``PipelineSpec { execution_mode, sources[], sql, sink, ... }``
(reference src/api/spec/pipeline.rs:33-54) compiled by planner.rs into a
dataflow graph. Here the "compiler" is:

  sources → temp views → SQL rewrite → Catalyst

The rewrite handles the reference's window-UDAF dialect (reference
README.md:107-150): ``fn(args) OVER w AS alias`` with named
``WINDOW w AS (PARTITION BY k ORDER BY ts RANGE BETWEEN INTERVAL 'N'
MILLISECOND PRECEDING AND CURRENT ROW | ROWS BETWEEN N PRECEDING AND
CURRENT ROW)`` clauses:

- built-in aggs (sum/avg/count/min/max/stddev/variance) pass straight
  through — Spark SQL evaluates interval RANGE frames natively;
- ``*_where(v, cond)`` rewrites to ``agg(CASE WHEN cond THEN v END)``
  (pure text transform, stays native — SURVEY §4 conclusion);
- cate/top family calls are extracted, compiled to sliding sweep specs
  (functions/cate_top) and computed via apply_sliding_aggs; the SQL text
  then references the precomputed columns.

Execution modes: ``batch`` returns the result DataFrame; ``streaming``
wraps the same pipeline over a streaming source and returns the streaming
DataFrame (caller picks trigger/sink); ``request`` compiles the SAME spec
into a point-in-time serving object via ``build_request_service`` (the
reference's ``to_request_mode`` graph rewrite) — ``build()`` stays the
write path that maintains the state.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from volga_spark.functions import cate_top
from volga_spark.functions.sliding import SlidingSpec, apply_sliding_aggs, quote
from volga_spark.operators.request import request_frame
from volga_spark.operators.window import Frame, range_frame, rows_frame

_WHERE_FNS = ("sum", "avg", "count", "min", "max")
_NATIVE_AGGS = {
    "sum", "avg", "count", "min", "max",
    "stddev", "stddev_pop", "stddev_samp", "variance", "var_pop", "var_samp",
}
_CATE_FNS = {f"{a}_cate" for a in _WHERE_FNS} | {f"{a}_cate_where" for a in _WHERE_FNS}
_TOP_FNS = {"top", "topn_frequency", "top1_ratio", "count_distinct", "quantile_disc"}
_TOPN_RE = re.compile(
    r"top_n_(key|value)_(sum|avg|count|min|max|ratio)_cate(?:_where)?$"
)

_WINDOW_CLAUSE_RE = re.compile(
    r"WINDOW\s+(.+)$", re.IGNORECASE | re.DOTALL
)
# interval accepts the reference README's three spellings: INTERVAL '600'
# SECOND, INTERVAL '1 hour' (unit inside the quotes), INTERVAL 600 SECOND
_WINDOW_DEF_RE = re.compile(
    r"(\w+)\s+AS\s*\(\s*PARTITION\s+BY\s+([\w,\s]+?)\s+ORDER\s+BY\s+(\w+)\s+"
    r"(?:RANGE\s+BETWEEN\s+INTERVAL\s+'?(\d+)'?\s+(\w+?)'?\s+PRECEDING"
    r"|ROWS\s+BETWEEN\s+(\d+)\s+PRECEDING)\s+AND\s+CURRENT\s+ROW\s*\)",
    re.IGNORECASE,
)
_CALL_START_RE = re.compile(r"\b(\w+)\s*\(")
_OVER_TAIL_RE = re.compile(r"\s+OVER\s+(\w+)\s+AS\s+(\w+)", re.IGNORECASE)
_JOIN_KEYWORDS = {"LEFT", "RIGHT", "INNER", "OUTER", "FULL", "CROSS", "SEMI", "ANTI"}
_REL_END_KEYWORDS = {"WHERE", "WINDOW", "GROUP", "HAVING", "ORDER", "LIMIT"}


def _find_from_relation(sql: str) -> tuple[int, int] | None:
    """(start, end) of the FROM clause's relation text — ends at the first
    PAREN-DEPTH-0 clause keyword (WHERE/WINDOW/GROUP/…), so a WHERE inside
    a FROM-subquery does not truncate the relation. Regex lookaheads cannot
    express the depth condition, hence the scanner."""
    m = re.search(r"\bFROM\b", sql, re.IGNORECASE)
    if not m:
        return None
    depth = 0
    for tok in re.finditer(r"[()]|\b\w+\b", sql[m.end() :]):
        t = tok.group(0)
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0 and t.upper() in _REL_END_KEYWORDS:
            return m.end(), m.end() + tok.start()
    return m.end(), len(sql)


def _normalize_from(spark: SparkSession, sql: str) -> tuple[str, str | None]:
    """Single-relation-ize the pipeline SQL: if the FROM clause is more than
    a bare table (the reference README's flagship example joins ``users u``
    with ``orders o`` under its UDAF windows — README.md:107-150), run the
    join as its own stage (`SELECT * FROM <relation>` → temp view), swap the
    view into the FROM clause, and strip the now-dangling ``alias.`` column
    qualifiers from the rest of the query. This mirrors the reference
    compiler, which plans the join upstream of the window operator
    (src/api/planner.rs) — the sweep engine then sees one keyed relation.

    Returns (rewritten sql, base table name). Duplicate column names across
    the joined tables are rejected (alias them in an explicit sub-select)."""
    span = _find_from_relation(sql)
    if span is None:
        return sql, None
    rel = sql[span[0] : span[1]].strip()
    if re.fullmatch(r"\w+", rel):
        return sql, rel
    joined = spark.sql(f"SELECT * FROM {rel}")
    dupes = sorted({c for c in joined.columns if joined.columns.count(c) > 1})
    if dupes:
        raise ValueError(
            f"joined FROM clause produces duplicate columns {dupes}; "
            "project/alias them in a sub-select"
        )
    import uuid

    view = f"__vs_rel_{uuid.uuid4().hex[:10]}"
    joined.createOrReplaceTempView(view)
    # table aliases declared in the relation (for qualifier stripping —
    # only those, so numeric literals like 1.5 are never touched)
    aliases: set[str] = set()
    for part in re.split(r"\bJOIN\b|,", rel, flags=re.IGNORECASE):
        head = re.split(r"\bON\b|\bUSING\b", part, flags=re.IGNORECASE)[0]
        toks = [
            t
            for t in head.split()
            if t.upper() not in _JOIN_KEYWORDS
            and re.fullmatch(r"[A-Za-z_]\w*", t)  # identifiers only — never
        ]  # numeric tokens, so a literal like 2.5 can't be "stripped"
        if toks:
            aliases.add(toks[-1])  # alias if present, else the table name
            aliases.add(toks[0])
    out = sql[: span[0]] + f" {view} " + sql[span[1] :]
    if aliases:
        pat = re.compile(rf"\b({'|'.join(re.escape(a) for a in aliases)})\.(\w+)")
        out = pat.sub(r"\2", out)
    return out, view


def _find_calls(sql: str):
    """Yield (start, end, fn, argstr, m_over) for every balanced fn(...) call,
    where m_over matches a trailing 'OVER w AS alias' if present. Handles
    arbitrary paren nesting (regex alone cannot)."""
    for m in _CALL_START_RE.finditer(sql):
        fn = m.group(1)
        depth = 1
        i = m.end()
        while i < len(sql) and depth:
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
            i += 1
        if depth:
            continue
        argstr = sql[m.end() : i - 1]
        m_over = _OVER_TAIL_RE.match(sql, i)
        yield (m.start(), i, fn, argstr, m_over)


@dataclass
class SourceSpec:
    """A named source: parquet path (batch), streaming DataFrame factory,
    or a datagen spec (the reference's third SourceSpecKind)."""

    name: str
    parquet: str | None = None
    dataframe: DataFrame | None = None
    datagen: object | None = None  # sources.datagen.DatagenSpec

    def load(self, spark: SparkSession) -> DataFrame:
        if self.dataframe is not None:
            return self.dataframe
        if self.datagen is not None:
            from volga_spark.sources.datagen import generate

            return generate(spark, self.datagen)
        if self.parquet:
            from volga_spark.tables import _nanos_ts_columns

            path = self.parquet
            ns = _nanos_ts_columns(path) if path.endswith(".parquet") else ()
            df = spark.read.parquet(path) if not ns else None
            if ns:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
                df = spark.read.parquet(path)
                for c in ns:
                    df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
            return df
        raise ValueError(f"source {self.name} has no parquet path or dataframe")


def _datagen_from_ref_json(cfg: dict):
    """Reference DatagenSpec JSON → sources.datagen.DatagenSpec.

    Serde's externally-tagged enum shape (datagen_source.rs:71-92):
    ``fields: {col: "ProcessingTimestamp" | {"IncrementalTimestamp":
    {start_ms, step_ms}} | {"String": {length}} | {"Key": {num_unique}} |
    {"Increment": {start, step}} | {"Uniform": {min, max}} | {"Values":
    {values}}}``; row count from ``limit``. Increment/Uniform/Values carry
    plain JSON numbers/strings here — the reference's binary
    ScalarValueAsBytes encoding (a DataFusion internal) is rejected with a
    pointer to the plain form."""
    from volga_spark.sources.datagen import DatagenSpec, FieldSpec

    if "limit" not in cfg:
        raise ValueError("datagen source needs 'limit' (row count)")
    fields = []
    for name, g in cfg.get("fields", {}).items():
        if g == "ProcessingTimestamp":
            fields.append(FieldSpec(name, "processing_timestamp"))
            continue
        if not isinstance(g, dict) or len(g) != 1:
            raise ValueError(f"field {name!r}: expected one-variant object, got {g!r}")
        (variant, v), = g.items()
        if any(isinstance(x, (bytes,)) or (isinstance(x, str) and x.startswith("base64:"))
               for x in (v.values() if isinstance(v, dict) else [])):
            raise ValueError(
                f"field {name!r}: ScalarValueAsBytes encoding not supported — "
                "send plain JSON numbers/strings for start/step/min/max/values"
            )
        if variant == "IncrementalTimestamp":
            fields.append(FieldSpec(name, "incremental_timestamp",
                                    start_ms=int(v["start_ms"]), step_ms=int(v["step_ms"])))
        elif variant == "String":
            fields.append(FieldSpec(name, "string", length=int(v["length"])))
        elif variant == "Key":
            fields.append(FieldSpec(name, "key", num_unique=int(v["num_unique"])))
        elif variant == "Increment":
            fields.append(FieldSpec(name, "increment",
                                    inc_start=int(v.get("start", 0)),
                                    inc_step=int(v.get("step", 1))))
        elif variant == "Uniform":
            fields.append(FieldSpec(name, "uniform",
                                    lo=float(v["min"]), hi=float(v["max"])))
        elif variant == "Values":
            fields.append(FieldSpec(name, "values", values=tuple(v["values"])))
        else:
            raise ValueError(f"unknown field generator {variant!r}")
    return DatagenSpec(n_rows=int(cfg["limit"]), fields=fields)


def _split_args(argstr: str) -> list[str]:
    """Comma split at paren depth 0 (conditions may contain calls/parens)."""
    out, depth, cur = [], 0, []
    for ch in argstr:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return out


def _parse_windows(sql: str) -> dict[str, tuple[list[str], str, Frame, str]]:
    """name → (partition keys, order col, Frame, raw window body text)."""
    m = _WINDOW_CLAUSE_RE.search(sql)
    if not m:
        return {}
    windows = {}
    for w in _WINDOW_DEF_RE.finditer(m.group(1)):
        name, part, order, qty, unit, rows_n = w.groups()
        keys = [p.strip() for p in part.split(",")]
        if rows_n is not None:
            frame: Frame = rows_frame(int(rows_n))
        else:
            frame = range_frame(f"{qty} {unit.lower()}")
        raw = w.group(0)
        body = raw[raw.index("(") + 1 : raw.rindex(")")].strip()
        windows[name] = (keys, order, frame, body)
    return windows


def _compile_sweep_call(fn: str, args: list[str], alias: str, prepared: dict):
    """Map one cate/top call to a SlidingSpec, registering prepared exprs."""

    def prep(expr: str, cast: str | None = None) -> str:
        key = f"__p{len(prepared)}_{alias}"
        col = F.expr(expr)
        if cast:
            col = col.cast(cast)
        prepared[key] = col
        return key

    fnl = fn.lower()
    m = _TOPN_RE.match(fnl)
    if m:
        order, agg = m.group(1), m.group(2)
        v, cond, cat, k = args
        if agg == "ratio":
            return cate_top.top_n_ratio_cate(
                alias, order, prep(v), prep(cond, "boolean"), prep(cat), int(k)
            )
        return cate_top.top_n_cate_where(
            alias, agg, order, prep(v), prep(cond, "boolean"), prep(cat), int(k)
        )
    if fnl in _CATE_FNS:
        agg = fnl.split("_")[0]
        maker = getattr(cate_top, f"{agg}_cate")
        if fnl.endswith("_cate_where"):
            v, cond, cat = args
            return maker(alias, prep(v), prep(cat), cond=prep(cond, "boolean"))
        v, cat = args
        return maker(alias, prep(v), prep(cat))
    if fnl == "top":
        v, k = args
        return cate_top.top(alias, prep(v), int(k))
    if fnl == "topn_frequency":
        v, k = args
        return cate_top.topn_frequency(alias, prep(v), int(k))
    if fnl == "top1_ratio":
        (v,) = args
        return cate_top.top1_ratio(alias, prep(v))
    if fnl == "count_distinct":
        (v,) = args
        return cate_top.count_distinct(alias, prep(v))
    if fnl == "quantile_disc":
        v, q = args
        return cate_top.quantile_disc(alias, prep(v), float(q))
    raise ValueError(f"unsupported UDAF: {fn}")


def _rewrite_where_family(sql: str) -> str:
    """sum_where(v, c) → sum(CASE WHEN c THEN v END) — stays native."""
    out = sql
    changed = True
    while changed:
        changed = False
        for start, end, fn, argstr, _ in _find_calls(out):
            fnl = fn.lower()
            base = fnl.removesuffix("_where")
            if fnl.endswith("_where") and base in _WHERE_FNS:
                args = _split_args(argstr)
                if len(args) == 2:
                    out = (
                        out[:start]
                        + f"{base}(CASE WHEN {args[1]} THEN {args[0]} END)"
                        + out[end:]
                    )
                    changed = True
                    break
    return out


@dataclass
class PipelineSpec:
    """Declarative pipeline: sources + SQL (+ mode), compiled Spark-first.

    ``parallelism`` mirrors the reference spec's per-pipeline vertex fan-out
    (reference src/api/spec/pipeline.rs:33-54): it sets the partition width
    of every Python sweep stage this query plans (the stages whose width the
    engine controls plan-side; pure-JVM exchanges stay under AQE, which is
    the Spark-correct authority for them).

    ``operator_overrides`` mirrors the reference's by-operator-id config
    overrides: a dict keyed by WINDOW name whose value is extra kwargs for
    that window's sweep operator — e.g. ``{"w_long": {"bucket_by": "1 day"}}``
    turns on the hot-key time-bucket splitter for one window only. Overridden
    windows never reuse upstream partitioning (their plan shape is explicit).

    Filter semantics in windowed specs: filters INSIDE the FROM relation
    (a sub-select, or the join's ON) apply before the windows — they shape
    the state. A TOP-LEVEL ``WHERE`` is an EMISSION filter: every window
    aggregate is computed over the full relation first, then the WHERE
    selects which rows are emitted (the feature-pipeline reading — "only
    emit features for X" must not change the features' values). Put a
    filter in a FROM-subquery when it should shrink the window state.

    ``event_time`` mirrors the reference spec's per-pipeline event-time
    declaration (column name + allowed lateness; reference compiler.rs:125-128
    attaches it to the nearest window as the watermark/lateness config): in
    streaming mode every streaming source carrying the column gets
    ``withWatermark(col, lateness)`` before SQL assembly, so watermark
    placement is declarative in the spec rather than imperative per source.
    """

    sql: str
    sources: list[SourceSpec] = field(default_factory=list)
    execution_mode: str = "batch"  # batch | streaming
    parallelism: int | None = None
    operator_overrides: dict = field(default_factory=dict)
    event_time: tuple[str, str] | None = None  # (column, allowed lateness)

    @classmethod
    def from_json(cls, spec: str | dict) -> "PipelineSpec":
        """Parse the reference Python client's JSON pipeline spec (reference
        README.md:152-186: name / execution_mode / query / sources[], each
        source {name, type, config}). Source types: ``parquet``
        ({"path": ...}) maps directly; ``kafka`` requires the kafka jars
        (same gate as streaming/sources.kafka_json_stream) and raises with
        that instruction here; unknown types raise."""
        import json as _json

        d = _json.loads(spec) if isinstance(spec, str) else dict(spec)
        sources = []
        for s in d.get("sources", []):
            stype = s.get("type", "parquet")
            cfg = s.get("config", {})
            if stype == "parquet":
                sources.append(SourceSpec(s["name"], parquet=cfg["path"]))
            elif stype == "datagen":
                sources.append(
                    SourceSpec(s["name"], datagen=_datagen_from_ref_json(cfg))
                )
            elif stype == "kafka":
                raise ValueError(
                    "kafka source requires the spark-sql-kafka package on the "
                    "classpath; build the stream with "
                    "volga_spark.streaming.sources.kafka_json_stream and pass "
                    "it as SourceSpec(name, dataframe=...)"
                )
            else:
                raise ValueError(f"unknown source type {stype!r}")
        mode = d.get("execution_mode", "batch")
        et = d.get("event_time")
        return cls(
            sql=d.get("query") or d["sql"],
            sources=sources,
            execution_mode=mode,
            parallelism=d.get("parallelism"),
            operator_overrides=d.get("operator_overrides", {}),
            event_time=tuple(et) if et else None,
        )

    def build_request_service(
        self, spark: SparkSession, tiebreak: str | list[str] | None = None
    ) -> "PipelineRequestService":
        """ExecutionMode::Request — the reference's ``to_request_mode`` graph
        rewrite (reference src/api/logical_graph.rs:356-494): compile the
        SAME spec into a point-in-time serving object instead of an emitting
        pipeline. The write path (``build()``) maintains the state; here
        every window expression in the SQL — native aggregates AND the ML
        UDAF families — is evaluated at request (key, ts) virtual points
        against the source state, one lookup job per request batch. The
        returned object is duck-typed to ``FeatureService`` (``lookup`` /
        ``get_features`` / ``key_cols`` / ``ts_col``), so
        ``api.serving.FeatureServer`` serves it over HTTP unchanged.

        Scope: every referenced WINDOW must share the same (partition,
        order) — one state table, one point-in-time axis. Multi-WINDOW SQL
        is served since r12: every distinct frame of a request batch rides
        ONE virtual-point sweep (one exchange, one Python pass), whatever
        its frames and aggregates. ROWS frames are served since r13 — the
        reference's own request benchmark is exactly this shape
        (``ROWS 10000 PRECEDING`` in Request mode,
        window_operator_benchmark.rs:609-612, planned by plan_rows_points,
        plain_points.rs:183-262): at a virtual point the frame is the last
        ``preceding`` STATE rows at-or-before the request cursor (the
        request consumes the current-row slot, never a stored position).
        ``tiebreak`` (state columns) orders co-timestamped state rows for
        ROWS frames — the reference's ``__seq_no``; without it, ROWS
        results are only deterministic when (key, ts) is unique.
        """
        from volga_spark.functions.accumulators import MinMaxAcc, _absent
        from volga_spark.functions.sliding import _self_contained_udfs
        from volga_spark.operators.window import RangeFrame

        # the native sweep accumulator below is a LOCAL class cloudpickled
        # by value; its MinMaxAcc/_absent references must be bound at
        # definition time with the accumulators module registered by value
        # (a runtime `import volga_spark...` inside add/retract executes a
        # real import on the executor, which fails whenever the driver
        # imported this repo from an arbitrary location — the r07 gotcha)
        _self_contained_udfs()

        for src in self.sources:
            src.load(spark).createOrReplaceTempView(src.name)
        sql = _rewrite_where_family(self.sql)
        sql, _ = _normalize_from(spark, sql)
        windows = _parse_windows(sql)
        if not windows:
            raise ValueError("request mode needs a WINDOW clause")

        class _NativeSweepAcc:
            """count/sum/avg/min/max/stddev/variance as retractable sweep
            accumulators — request mode evaluates natives through the same
            virtual-point sweep as the ML UDAFs (reference
            retractable_points.rs). Local class → cloudpickled by value."""

            def __init__(self, op):
                self.op = op
                self.n = 0
                self.s = 0.0
                self.s2 = 0.0
                self.mm = MinMaxAcc() if op in ("min", "max") else None

            def add(self, v):
                # engine-wide rule: NaN ≡ null at EVERY accumulator entry
                # point (_absent, r10) — a prepared CASE WHEN column
                # arrives from Arrow as NaN on cond-false rows, and the
                # old `is None` gate counted/summed those rows and fed
                # NaN into the min/max heap (r12: found by the request-
                # mode spec fuzzer, seed 6; pinned by
                # test_request_mode_conditional_native_aggs)
                if _absent(v):
                    return
                self.n += 1
                if self.mm is not None:
                    self.mm.add(v)
                else:
                    self.s += v
                    self.s2 += float(v) * float(v)

            def retract(self, v):
                if _absent(v):
                    return
                self.n -= 1
                if self.mm is not None:
                    self.mm.retract(v)
                else:
                    self.s -= v
                    self.s2 -= float(v) * float(v)

            def result(self):
                import math

                op, n = self.op, self.n
                if op == "count":
                    return n
                if n == 0:
                    return None
                if op == "sum":
                    return self.s
                if op == "avg":
                    return self.s / n
                if op == "min":
                    return self.mm.min()
                if op == "max":
                    return self.mm.max()
                m2 = max(self.s2 - self.s * self.s / n, 0.0)
                if op == "var_pop":
                    return m2 / n
                if op == "stddev_pop":
                    return math.sqrt(m2 / n)
                if n < 2:
                    return None
                if op in ("variance", "var_samp"):
                    return m2 / (n - 1)
                return math.sqrt(m2 / (n - 1))  # stddev / stddev_samp

        per_call: list = []  # (window name, spec) in SQL order
        prepared: dict = {}
        for start, end, fn, argstr, m_over in _find_calls(sql):
            if m_over is None:
                continue
            fnl = fn.lower()
            args = _split_args(argstr)
            wname, alias = m_over.group(1), m_over.group(2)
            if fnl in _CATE_FNS or fnl in _TOP_FNS or _TOPN_RE.match(fnl):
                per_call.append(
                    (wname, _compile_sweep_call(fn, args, alias, prepared))
                )
            elif fnl in _NATIVE_AGGS:
                if fnl == "stddev":
                    fnl = "stddev_samp"
                if fnl == "count" and (not args or args[0].strip() == "*"):
                    # count(*): a constant prepared column — non-null on
                    # state rows, NULL on request rows (prepared exprs are
                    # evaluated on state only), so requests never count
                    prepared.setdefault("__req_rows", F.lit(1))
                    inputs = ["__req_rows"]
                else:
                    col = f"__req_{alias}"
                    prepared[col] = F.expr(args[0]).cast("double")
                    inputs = [col]
                per_call.append(
                    (
                        wname,
                        SlidingSpec(
                            alias,
                            lambda op=fnl: _NativeSweepAcc(op),
                            inputs,
                            "bigint" if fnl == "count" else "double",
                        ),
                    )
                )
        if not per_call:
            raise ValueError("request mode: no OVER window expressions found")
        # multi-WINDOW serving (r12 — the v1 one-window limit ruled out the
        # README's flagship multi-window SQL): every referenced window must
        # be a RANGE frame over the SAME partition/order (one state, one
        # point-in-time axis); windows sharing a frame length form one
        # group, and all groups share one virtual-point sweep per lookup.
        keys = order = None
        # group by SEMANTIC frame key (micros / row count), not the Frame
        # dataclass: RANGE '1 hour' and RANGE '60 minutes' are the same
        # frame and must merge (r13 review find — the dataclass key split
        # them into two frames)
        def _frame_key(f):
            return (
                (1, f.preceding)
                if not isinstance(f, RangeFrame)
                else (0, f.micros)
            )

        groups: dict = {}  # frame key -> [representative Frame, specs]
        for wname, spec in per_call:
            if wname not in windows:
                raise ValueError(f"request mode: WINDOW {wname} not declared")
            w_keys, w_order, w_frame, _ = windows[wname]
            if keys is None:
                keys, order = w_keys, w_order
            elif (w_keys, w_order) != (keys, order):
                raise ValueError(
                    "request mode serves one (partition, order) state; "
                    f"windows disagree: {(keys, order)} vs {(w_keys, w_order)}"
                )
            groups.setdefault(_frame_key(w_frame), [w_frame, []])[1].append(spec)
        table_m = re.search(r"FROM\s+(\w+)", sql, re.IGNORECASE)
        if not table_m:
            raise ValueError("cannot find FROM table")
        state = spark.table(table_m.group(1))
        # deterministic group order: RANGE frames by length, then ROWS by
        # row count
        return PipelineRequestService(
            state,
            keys,
            order,
            [tuple(groups[k]) for k in sorted(groups)],
            prepared,
            alias_order=[s.name for _, s in per_call],
            tiebreak=tiebreak,
        )

    def build(self, spark: SparkSession) -> DataFrame:
        for src in self.sources:
            df = src.load(spark)
            if self.event_time is not None and df.isStreaming:
                col, lateness = self.event_time
                if col in df.columns:
                    df = df.withWatermark(col, lateness)
            df.createOrReplaceTempView(src.name)

        sql = _rewrite_where_family(self.sql)
        sql, _ = _normalize_from(spark, sql)
        windows = _parse_windows(sql)

        # extract ML sweep calls and native window-agg calls per window
        sweep_calls = []
        native_calls = []
        for start, end, fn, argstr, m_over in _find_calls(sql):
            if m_over is None:
                continue
            fnl = fn.lower()
            if fnl in _CATE_FNS or fnl in _TOP_FNS or _TOPN_RE.match(fnl):
                full_text = sql[start : m_over.end()]
                wname, alias = m_over.group(1), m_over.group(2)
                sweep_calls.append((full_text, fn, _split_args(argstr), wname, alias))
            elif fnl in _NATIVE_AGGS:
                native_calls.append(
                    (sql[start : m_over.end()], sql[start:end],
                     m_over.group(1), m_over.group(2))
                )

        if sweep_calls:
            table_m = re.search(r"FROM\s+(\w+)", sql, re.IGNORECASE)
            if not table_m:
                raise ValueError("cannot find FROM table for sweep rewrite")
            table = table_m.group(1)
            by_window: dict[str, list] = {}
            for text, fn, args, wname, alias in sweep_calls:
                by_window.setdefault(wname, []).append((text, fn, args, alias))
            df = spark.table(table)

            # Fold native window aggs into this stage BEFORE the sweep: the
            # sweep's mapInPandas hides partitioning from Catalyst, so a
            # native Window placed after it would re-shuffle the whole
            # working set on the same keys. Computing it first shares one
            # exchange; folds matching the first sweep window's keys run
            # last so the sweep can reuse the partitioning outright.
            first_keys = windows.get(next(iter(by_window)), (None,))[0]
            part_keys: list[str] | None = None
            for text, call, wname, alias in sorted(
                native_calls,
                key=lambda c: windows.get(c[2], (None,))[0] == first_keys,
            ):
                if wname not in windows:
                    continue
                keys, _, _, body = windows[wname]
                df = df.selectExpr("*", f"{call} OVER ({body}) AS {alias}")
                part_keys = keys
                sql = sql.replace(text, f"{alias} AS {alias}")

            for wname, calls in by_window.items():
                if wname not in windows:
                    raise ValueError(f"WINDOW {wname} not defined")
                keys, order, frame, _ = windows[wname]
                prepared: dict = {}
                specs = [
                    _compile_sweep_call(fn, args, alias, prepared)
                    for _, fn, args, alias in calls
                ]
                passthrough = list(df.columns)  # keys included; recomputed per
                # window so earlier sweep outputs survive later stages
                overrides = dict(self.operator_overrides.get(wname, {}))
                df = apply_sliding_aggs(
                    df,
                    partition_by=keys,
                    order_by=order,
                    frame=frame,
                    specs=specs,
                    passthrough=passthrough,
                    prepared=prepared,
                    assume_partitioned=(part_keys == keys and not overrides),
                    n_parts=self.parallelism,
                    **overrides,
                )
                part_keys = None  # mapInPandas output partitioning is opaque
                for text, _, _, alias in calls:
                    sql = sql.replace(text, f"{alias} AS {alias}")
            staged = f"__vs_pipeline_{table}"
            df.createOrReplaceTempView(staged)
            sql = re.sub(
                rf"(FROM\s+){table}\b", rf"\g<1>{staged}", sql, flags=re.IGNORECASE
            )
            if not re.search(r"\bOVER\b", sql, re.IGNORECASE):
                sql = _WINDOW_CLAUSE_RE.sub("", sql)

        return spark.sql(sql)


class PipelineRequestService:
    """Serving front end produced by ``PipelineSpec.build_request_service``
    (the reference's request graph: request_source → keyby →
    window_request → request_sink). Duck-typed to
    ``operators.request.FeatureService``, so ``api.serving.FeatureServer``
    exposes it over HTTP unchanged; state pins in the block cache on first
    lookup (``close()`` releases)."""

    def __init__(
        self,
        state,
        key_cols,
        ts_col,
        groups,
        prepared,
        alias_order,
        tiebreak=None,
    ):
        self.state = state
        self.key_cols = list(key_cols)
        self.ts_col = ts_col
        # one (frame, specs) group per distinct frame (r12 multi-WINDOW
        # serving); every group rides the one virtual-point sweep per batch
        self._groups = [(f, list(g)) for f, g in groups]
        self._alias_order = list(alias_order)
        self.prepared = prepared
        self.tiebreak = tiebreak
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
        from volga_spark.operators.request import point_in_time_ml_lookup

        if not self._cached:
            self.state = self.state.persist()
            self._cached = True
        # every frame in one virtual-point sweep: one exchange, one Python
        # pass (reference window_request_operator.rs:110-120)
        out = point_in_time_ml_lookup(
            self.state,
            requests,
            key_cols=self.key_cols,
            ts_col=self.ts_col,
            prepared=self.prepared,
            request_id_col=request_id_col,
            tiebreak=self.tiebreak,
            groups=self._groups,
        )
        cols = [request_id_col, *self.key_cols, self.ts_col, *self._alias_order]
        out = out.selectExpr(*map(quote, cols))
        return out.toArrow() if materialize else out

    def close(self) -> None:
        if self._cached:
            self.state.unpersist()
            self._cached = False

    def get_features(self, spark, points: list[tuple]) -> list[dict]:
        """points = [(request_id, key..., ts)] → list of feature dicts."""
        if not points:
            return []
        cols = ["request_id", *self.key_cols, self.ts_col]
        req = request_frame(spark, points, cols)
        return self.lookup(req, materialize=True).to_pylist()
