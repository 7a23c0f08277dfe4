"""Serving scoring as SQL fragments, and the compiled serving statements.

The fragments in this module are the ONE definition of serving scoring:
cosine similarity, the per-type recency column, success and confidence
conventions, the composite score and the mode boosts (semantics in
operators/retrieval.py's module docstring). Two consumers parse them:

- the compiled statements, the engine's one serving path: the WHOLE
  per-retrieve serving subtree — scope filters -> cosine top-2k ->
  ann_rank -> composite scoring -> mode boosts -> threshold/top-k per
  type -> union -> feedback blend — becomes ONE SQL statement template,
  cached per (store version stamps, serving config), with the per-call
  query vector and clock bound by token substitution. A warm
  `AlmaSpark.retrieve` costs ONE `spark.sql()` round trip (JVM-side
  parse + analyze) plus the collect, instead of rebuilding the plan
  through py4j. `retrieve_batch` compiles the same branches over a qid
  dimension. String values enter through `string_literal`, which reads
  back exactly under either parser mode, so every store shape the
  engine accepts compiles;
- the DataFrame operators (operators/retrieval.py) build their score
  columns with `F.expr(fragment)`, passing the per-call values as the
  same literals bind() substitutes: `qv_array_sql`, `qv_norm` and
  `now_epoch_seconds`. They are the reference the engine's results are
  tested against.

Both parse the same text into the same Catalyst expressions, so their
results are bit-identical by construction; tests/test_serving_sql.py
checks it at full precision and the engine_retrieve_serving oracle gates
pin the values. The two per-call literals are pre-folded in Python:

- the query vector's L2 norm (`sqrt(aggregate(qv, 0.0, acc+x*x))` over
  an array literal) is folded with the same left-to-right double fold
  Catalyst would run — CPython floats ARE IEEE-754 doubles, so the value
  is the literal Catalyst would produce;
- the `now` anchor enters as its epoch-seconds double (what
  `Cast(TimestampType -> double)` yields: micros / 1e6, computed here
  with exact integer micros). Naive datetimes are interpreted in the
  SYSTEM timezone (matching `F.lit(naive_dt)` under the default
  session timezone); engines with a non-default
  `spark.sql.session.timeZone` should pass tz-aware clocks.

Reference: serving semantics alma/retrieval/engine.py:275-374 +
scoring.py + modes.py.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from alma_memory_spark.operators.retrieval import ModeConfig, ScoringWeights

#: per-call substitution tokens; chosen to never collide with SQL text
TOKEN_QV = "@QV@"
TOKEN_QNORM = "@QNORM@"
TOKEN_NOW = "@NOWD@"
#: per-call token for the batch form's inline (qid, qvec) VALUES rows
TOKEN_QVALUES = "@QVALUES@"
#: per-type ANN candidate tables (r12) — full token is "@CANDS_<type>@"
TOKEN_CANDS_PREFIX = "@CANDS_"

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


class ServingSQLUnsupported(Exception):
    """Raised at compile time for a store shape no serving path can
    serve: a branch without `id`, `embedding` or its recency column, or
    a column or view name that is unquotable or carries a substitution
    token. The engine passes it to the caller."""


def double_literal(x: float) -> str:
    """A Spark SQL double literal that round-trips `x` exactly.
    repr() of a CPython float is the shortest round-tripping decimal."""
    v = float(x)
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
    r = repr(v)
    return r + "D"


def string_literal(s: str) -> str:
    """Quote a string for the serving statement, readable back exactly
    under either spark.sql.parser.escapedStringLiterals setting. A value
    with no backslash, quote or `@` is emitted as plain `'...'` text,
    which both parser modes read unchanged. Any other value becomes
    `CAST(X'<utf-8 hex>' AS STRING)`: the hex binary literal has no
    escape rules, and its text holds no substitution token, so bind()
    can never rewrite inside it. Both forms constant-fold, so scope
    predicates still land in the scan's pushed filters."""
    if not any(c in s for c in "\\'@"):
        return "'" + s + "'"
    return "CAST(X'" + s.encode("utf-8").hex().upper() + "' AS STRING)"


#: every substitution token (the CANDS entry is a prefix — any
#: occurrence means a candidate-table token)
_ALL_TOKENS = (TOKEN_QV, TOKEN_QNORM, TOKEN_NOW, TOKEN_CANDS_PREFIX, TOKEN_QVALUES)


def _check_token_safe(*names) -> None:
    """bind()/bind_batch() do global token substitution over the whole
    statement. String values are safe (string_literal hex-encodes any
    value with an `@`), but a column or view name is spliced as is, so
    one CONTAINING a token would be rewritten inside the identifier.
    Refuse to compile instead."""
    for v in names:
        if v is None:
            continue
        for tok in _ALL_TOKENS:
            if tok in v:
                raise ServingSQLUnsupported(
                    f"identifier contains substitution token {tok!r}: {v[:80]!r}"
                )


def qv_array_sql(qvec) -> str:
    return "array(" + ",".join(double_literal(v) for v in qvec) + ")"


def qv_norm(qvec) -> float:
    """The L2 norm Catalyst constant-folds for the literal query array:
    left-to-right `acc + x*x` fold in double, then sqrt. CPython floats
    are IEEE-754 doubles, so this is the identical computation."""
    acc = 0.0
    for v in qvec:
        x = float(v)
        acc = acc + x * x
    return math.sqrt(acc)


def now_epoch_seconds(dt: datetime) -> float:
    """Epoch seconds exactly as Cast(TimestampType -> double) computes
    them: integer micros divided by 1e6 (one IEEE division). Naive
    datetimes are taken in the system timezone, matching F.lit(naive)
    under the default session timezone."""
    aware = dt if dt.tzinfo is not None else dt.astimezone()
    delta = aware - _EPOCH
    micros = (delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds
    return micros / 1e6


def _q(name: str) -> str:
    if "`" in name:
        raise ServingSQLUnsupported(f"unquotable column name: {name!r}")
    return f"`{name}`"


# ---------------------------------------------------------------------------
# scoring fragments — the single definition both serving paths parse
# ---------------------------------------------------------------------------

#: the timestamp column each memory type's recency decays from
_RECENCY_TS = {
    "heuristics": "last_validated",
    "outcomes": "timestamp",
    "domain_knowledge": "last_verified",
    "anti_patterns": "last_seen",
}


def cosine_sql(emb_col: str, qv: str, qnorm: str | None = None) -> str:
    """cos(embedding, qv) as dot / (|e| * |q|), 0.0 on a zero norm, with
    sequential left-to-right folds in double (functions/vector.py's
    numeric convention). `qv` is SQL for the query array; `qnorm` is its
    norm as SQL — a pre-folded literal or token for one query — or None
    to evaluate the norm per row (the batch form, where the query vector
    is a column)."""
    te = f"transform({_q(emb_col)}, x -> CAST(x AS DOUBLE))"
    tq = f"transform({qv}, x -> CAST(x AS DOUBLE))"
    dot = f"aggregate(zip_with({te}, {tq}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
    na = f"sqrt(aggregate({te}, 0.0D, (acc, x) -> acc + x * x))"
    nb = qnorm or f"sqrt(aggregate({tq}, 0.0D, (acc, x) -> acc + x * x))"
    return (
        f"CASE WHEN ({na} > 0 AND {nb} > 0) "
        f"THEN {dot} / ({na} * {nb}) ELSE 0.0D END"
    )


def _recency_sql(ts_col: str, now: str, half_life_days: float) -> str:
    """0.5 ** (age_days / half_life) over fractional days, clamped to 1.0
    for future-dated rows; `now` is SQL for the epoch-seconds anchor."""
    d = f"({now} - CAST({_q(ts_col)} AS DOUBLE)) / 86400.0D"
    return (
        f"least(1.0D, pow(0.5D, greatest({d}, 0.0D) / "
        f"{double_literal(half_life_days)}))"
    )


def _success_sql(memory_type: str) -> str:
    if memory_type == "heuristics":
        return (
            "CASE WHEN `occurrence_count` > 0 "
            "THEN CAST(`success_count` AS DOUBLE) / `occurrence_count` "
            "ELSE 0.0D END"
        )
    if memory_type == "outcomes":
        return "CASE WHEN `success` THEN 1.0D ELSE 0.3D END"
    if memory_type == "anti_patterns":
        return "least(CAST(`occurrence_count` AS DOUBLE) / 10.0D, 1.0D)"
    return "1.0D"  # domain_knowledge and default


def _confidence_sql(memory_type: str) -> str:
    if memory_type in ("heuristics", "domain_knowledge"):
        return "CAST(`confidence` AS DOUBLE)"
    return "1.0D"


def score_components_sql(
    memory_type: str, sim_col: str | None, now: str, half_life_days: float = 30.0
) -> dict[str, str]:
    """The four score components, by output column name. `sim_col=None`
    means no query embedding: similarity is 1.0 for every row."""
    return {
        "sim_score": f"CAST({_q(sim_col)} AS DOUBLE)" if sim_col else "1.0D",
        "recency_score": _recency_sql(
            _RECENCY_TS[memory_type], now, half_life_days
        ),
        "success_score": f"CAST({_success_sql(memory_type)} AS DOUBLE)",
        "confidence_score": f"CAST({_confidence_sql(memory_type)} AS DOUBLE)",
    }


def score_sql(w: ScoringWeights) -> str:
    """The composite score over the component columns."""
    return (
        f"{double_literal(w.similarity)} * `sim_score` "
        f"+ {double_literal(w.recency)} * `recency_score` "
        f"+ {double_literal(w.success_rate)} * `success_score` "
        f"+ {double_literal(w.confidence)} * `confidence_score`"
    )


def mode_boosts_sql(mode: ModeConfig | None, columns) -> list[str]:
    """The mode's sequential `score` rewrites, in order: failed outcomes
    x1.5 (prioritize_failures), then the exact-match boost — sim > 0.9
    -> xB, sim > 0.8 -> x(1 + (B-1)/2). A rewrite whose input column is
    absent is skipped."""
    out = []
    if mode is None:
        return out
    if mode.prioritize_failures and "success" in columns:
        out.append("CASE WHEN NOT `success` THEN `score` * 1.5D ELSE `score` END")
    if mode.exact_match_boost != 1.0 and "sim_score" in columns:
        b = mode.exact_match_boost
        half = 1.0 + (b - 1.0) / 2.0
        out.append(
            f"CASE WHEN `sim_score` > 0.9D THEN `score` * {double_literal(b)} "
            f"WHEN `sim_score` > 0.8D THEN `score` * {double_literal(half)} "
            "ELSE `score` END"
        )
    return out


_SCORE_COMPONENTS = (
    "sim_score",
    "recency_score",
    "success_score",
    "confidence_score",
)

#: dtypes of the columns the serving pipeline ADDS (union null-fill)
_ADDED = {
    "shared_from": "string",
    "qid": "string",
    "similarity": "double",
    "ann_rank": "int",
    **{c: "double" for c in _SCORE_COMPONENTS},
    "score": "double",
}

#: a stored column named like one the serving pipeline adds is left
#: out of every branch's projection (preferences included), so the
#: added column replaces it — what the DataFrame operators' withColumn
#: does (seen in the wild via StructType.add's in-place-mutation
#: footgun polluting shared schemas with a NULL `similarity` column)
_RESERVED = frozenset([*_ADDED, "memory_type", "feedback_score"])


def _stored(columns, dtypes) -> tuple[list[str], list[tuple[str, str]]]:
    """The stored columns a branch projects: all but the reserved ones."""
    return (
        [c for c in columns if c not in _RESERVED],
        [(c, t) for c, t in dtypes if c not in _RESERVED],
    )


# ---------------------------------------------------------------------------
# compiled statements
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class BranchInput:
    """One memory-type branch: the registered temp view plus its schema
    (column order and simpleString dtypes, used for union null-fill).
    `ann=True` compiles the branch's vector stage as a broadcast join
    against a per-call candidate TABLE (token "@CANDS_<type>@",
    substituted with a temp-view reference or subquery over the IVF
    probe) instead of the exact cosine scan — the SQL form of the
    IVF-index serving path (r12, VERDICT r11 #1)."""

    memory_type: str
    view: str
    columns: tuple[str, ...]
    dtypes: tuple[tuple[str, str], ...]
    ann: bool = False


def cand_token(memory_type: str) -> str:
    return f"{TOKEN_CANDS_PREFIX}{memory_type}@"


@dataclass(frozen=True)
class PrefsInput:
    view: str
    columns: tuple[str, ...]
    dtypes: tuple[tuple[str, str], ...]
    user_id: str
    limit: int


@dataclass
class ServingTemplate:
    """Compiled statement with @QV@/@QNORM@/@NOWD@ (single query) or
    @QVALUES@/@NOWD@ (batch) tokens, per-type @CANDS_<type>@ tokens,
    and the per-type output column sets the driver splits rows by.
    `ann_types` lists the ann-served types; binding substitutes each
    @CANDS_<type>@ with the caller's per-call candidate table reference
    (a temp view or inline subquery over the IVF probe), so the probe
    executes INSIDE the one serving job."""

    text: str
    colsets: dict[str, list[str]]
    ann_types: tuple[str, ...] = ()

    def bind(
        self, qvec, now: datetime, cand_refs: dict[str, str] | None = None
    ) -> str:
        return self._bind(
            {TOKEN_QNORM: double_literal(qv_norm(qvec)), TOKEN_QV: qv_array_sql(qvec)},
            now,
            cand_refs,
        )

    def _bind(self, subs: dict[str, str], now: datetime, cand_refs) -> str:
        out = self.text
        for tok, v in subs.items():
            out = out.replace(tok, v)
        out = out.replace(TOKEN_NOW, double_literal(now_epoch_seconds(now)))
        for t in self.ann_types:
            out = out.replace(cand_token(t), (cand_refs or {})[t])
        return out


def _ranked_candidates(
    b: BranchInput, base: str, cols: list[str], fetch_k: int, batch: bool
) -> tuple[str, list[str]]:
    """The vector stage over `base` (whose columns are `cols`): top-2k
    candidates by similarity plus the explicit `ann_rank` tiebreaker.
    Returns (sql, output_columns).

    Single query: global top-2k (operators/retrieval.py
    vector_candidates, or the ANN broadcast join of retrieve_type), then
    ann_rank over the bounded frame (pmod(xxhash64(id), 1) constant
    partition — functions/window.py bounded_rank_w). Batch: per-qid
    top-2k over a broadcast cross join with the VALUES query frame (or
    the (qid, id, similarity) ANN candidates), ranked as
    vector_candidates ranks one query."""
    cands = cand_token(b.memory_type)
    order = "ORDER BY `similarity` DESC, `id` ASC"
    if not batch:
        if b.ann:
            top = (
                f"SELECT /*+ BROADCAST(c) */ b.*, c.`similarity` "
                f"FROM ({base}) b JOIN {cands} c ON b.`id` = c.`id` "
                f"{order} LIMIT {2 * fetch_k}"
            )
        else:
            sim = cosine_sql("embedding", TOKEN_QV, TOKEN_QNORM)
            top = (
                f"SELECT *, {sim} AS `similarity` FROM ({base}) "
                f"{order} LIMIT {2 * fetch_k}"
            )
        ranked = (
            f"SELECT *, row_number() OVER (PARTITION BY pmod(xxhash64(`id`), 1) "
            f"{order}) AS `ann_rank` FROM ({top})"
        )
        return ranked, cols + ["similarity", "ann_rank"]
    if b.ann:
        joined = (
            f"SELECT /*+ BROADCAST(c) */ b.*, c.`qid`, c.`similarity` "
            f"FROM ({base}) b JOIN {cands} c ON b.`id` = c.`id`"
        )
    else:
        sim = cosine_sql("embedding", "q.`qvec`")
        joined = (
            f"SELECT /*+ BROADCAST(q) */ b.*, q.`qid`, {sim} AS `similarity` "
            f"FROM ({base}) b CROSS JOIN {TOKEN_QVALUES}"
        )
    cols = cols + ["qid", "similarity"]
    w_rank = f"PARTITION BY `qid` {order}"
    rk = f"SELECT *, row_number() OVER ({w_rank}) AS `_rk` FROM ({joined})"
    cut = (
        f"SELECT {', '.join(_q(c) for c in cols)} FROM ({rk}) "
        f"WHERE `_rk` <= {2 * fetch_k}"
    )
    ranked = f"SELECT *, row_number() OVER ({w_rank}) AS `ann_rank` FROM ({cut})"
    return ranked, cols + ["ann_rank"]


def _branch_sql(
    b: BranchInput,
    fetch_k: int,
    min_score: float,
    weights: ScoringWeights,
    mode: ModeConfig | None,
    project_id: str | None,
    agents: tuple[str, ...],
    batch: bool,
) -> tuple[str, list[str]]:
    """SQL for one memory-type branch, in retrieve_type's layer order:
    scope -> vector stage -> scoring -> mode boosts -> threshold/top-k
    (per qid in the batch form). Returns (subquery_sql, output_columns)."""
    if "id" not in b.columns or "embedding" not in b.columns:
        raise ServingSQLUnsupported(f"{b.memory_type}: missing id/embedding")
    ts_col = _RECENCY_TS.get(b.memory_type)
    if ts_col is None or ts_col not in b.columns:
        raise ServingSQLUnsupported(f"{b.memory_type}: missing recency column")

    filters = []
    if project_id is not None:
        filters.append(f"`project_id` = {string_literal(project_id)}")
    select_extra = ""
    if agents:
        filters.append(
            "`agent` IN (" + ",".join(string_literal(a) for a in agents) + ")"
        )
        me = string_literal(agents[0])
        select_extra = (
            f", CASE WHEN `agent` != {me} THEN `agent` END AS `shared_from`"
        )
    where = (" WHERE " + " AND ".join(filters)) if filters else ""
    stored, _ = _stored(b.columns, b.dtypes)
    cols = ", ".join(_q(c) for c in stored)
    base = f"SELECT {cols}{select_extra} FROM {b.view}{where}"
    ranked, out_cols = _ranked_candidates(
        b, base, stored + (["shared_from"] if agents else []), fetch_k, batch
    )

    comp = score_components_sql(b.memory_type, "similarity", TOKEN_NOW)
    scored = (
        "SELECT *, "
        + ", ".join(f"{e} AS {_q(n)}" for n, e in comp.items())
        + f" FROM ({ranked})"
    )
    cur = f"SELECT *, ({score_sql(weights)}) AS `score` FROM ({scored})"
    out_cols += [*_SCORE_COMPONENTS, "score"]
    keep = ", ".join(_q(c) for c in out_cols if c != "score")
    for expr in mode_boosts_sql(mode, out_cols):
        cur = f"SELECT {keep}, {expr} AS `score` FROM ({cur})"

    fil = f"SELECT * FROM ({cur}) WHERE `score` >= {double_literal(min_score)}"
    if not batch:
        return f"{fil} ORDER BY `score` DESC, `ann_rank` ASC LIMIT {fetch_k}", out_cols
    w_top = "PARTITION BY `qid` ORDER BY `score` DESC, `ann_rank` ASC"
    win = f"SELECT *, row_number() OVER ({w_top}) AS `_rk` FROM ({fil})"
    final = (
        f"SELECT {', '.join(_q(c) for c in out_cols)} FROM ({win}) "
        f"WHERE `_rk` <= {fetch_k}"
    )
    return final, out_cols


def _compile_union(
    branches: list[BranchInput],
    fetch_k: int,
    min_score: float,
    weights: ScoringWeights,
    mode: ModeConfig | None,
    project_id: str | None,
    agents: tuple[str, ...],
    prefs: PrefsInput | None,
    feedback_view: str | None,
    batch: bool,
) -> tuple[str, list[str], dict[str, list[str]]]:
    """The per-type branches (plus the preferences branch) null-filled
    to one column superset, in unionByName accretion order, each tagged
    with its `memory_type`. Returns (union_sql, union_columns, colsets);
    colsets exclude `qid` — the driver splits batch rows by (qid, type)."""
    if not branches and prefs is None:
        raise ServingSQLUnsupported("nothing to serve")
    _check_token_safe(
        *(b.view for b in branches),
        *(c for b in branches for c in b.columns),
        *((prefs.view, *prefs.columns) if prefs else ()),
        feedback_view,
    )

    branch_sqls: list[tuple[str, str, list[str]]] = []  # (type, sql, cols)
    #: the null-fill dtype of each union column: the first branch's;
    #: UNION ALL widens differing branch types as unionByName does
    dtype_of: dict[str, str] = {}

    def _note_types(dtypes, extra: dict[str, str]) -> None:
        for name, dt in list(dtypes) + list(extra.items()):
            dtype_of.setdefault(name, dt)

    for b in branches:
        sql, out_cols = _branch_sql(
            b, fetch_k, min_score, weights, mode, project_id, agents, batch
        )
        _note_types(
            _stored(b.columns, b.dtypes)[1],
            {c: t for c, t in _ADDED.items() if c in out_cols},
        )
        branch_sqls.append((b.memory_type, sql, out_cols))

    if prefs is not None:
        if "user_id" not in prefs.columns or "confidence" not in prefs.columns:
            raise ServingSQLUnsupported("preferences: missing user_id/confidence")
        pcols, pdtypes = _stored(prefs.columns, prefs.dtypes)
        qid = ", CAST(NULL AS string) AS `qid`" if batch else ""
        psql = (
            f"SELECT {', '.join(_q(c) for c in pcols)}{qid} "
            f"FROM {prefs.view} "
            f"WHERE `user_id` = {string_literal(prefs.user_id)} "
            f"ORDER BY `confidence` DESC, `id` ASC LIMIT {prefs.limit}"
        )
        _note_types(pdtypes, {"qid": "string"} if batch else {})
        branch_sqls.append(("preferences", psql, pcols + (["qid"] if batch else [])))

    union_cols: list[str] = []
    for _, _, out_cols in branch_sqls:
        for c in out_cols:
            if c not in union_cols:
                union_cols.append(c)
    parts = []
    for t, sql, out_cols in branch_sqls:
        have = set(out_cols)
        proj = ", ".join(
            _q(c) if c in have else f"CAST(NULL AS {dtype_of[c]}) AS {_q(c)}"
            for c in union_cols
        )
        parts.append(
            f"SELECT {proj}, {string_literal(t)} AS `memory_type` FROM ({sql})"
        )
    colsets = {t: [c for c in cols if c != "qid"] for t, _, cols in branch_sqls}
    return "\nUNION ALL\n".join(parts), union_cols, colsets


def compile_serving_template(
    branches: list[BranchInput],
    fetch_k: int,
    min_score: float,
    weights: ScoringWeights,
    mode: ModeConfig | None,
    project_id: str | None,
    agents: tuple[str, ...],
    prefs: PrefsInput | None = None,
    feedback_view: str | None = None,
    feedback_weight: float = 0.15,
) -> ServingTemplate:
    """Compile the one-job union serving statement for the given store
    shape + config; bind with ServingTemplate.bind(). Raises
    ServingSQLUnsupported for shapes no serving path can serve."""
    union, union_cols, colsets = _compile_union(
        branches, fetch_k, min_score, weights, mode, project_id, agents,
        prefs, feedback_view, batch=False,
    )
    if feedback_view is not None and branches:
        # operators/feedback.py feedback_summary + apply_feedback_blend
        # (type_col form): broadcast left join on (id, memory_type),
        # blended score replaces score, feedback_score column kept
        from alma_memory_spark.operators.feedback import (
            NEGATIVE_SIGNALS,
            POSITIVE_SIGNALS,
        )

        pos = ",".join(string_literal(s) for s in POSITIVE_SIGNALS)
        neg = ",".join(string_literal(s) for s in NEGATIVE_SIGNALS)
        summary = (
            "SELECT `memory_id`, `memory_type` AS `_fb_type`, "
            f"CAST((SUM(CASE WHEN `signal` IN ({pos}) THEN 1 ELSE 0 END) "
            f"- SUM(CASE WHEN `signal` IN ({neg}) THEN 1 ELSE 0 END)) AS DOUBLE) "
            "/ COUNT(*) AS `feedback_score` "
            f"FROM {feedback_view} GROUP BY `memory_id`, `memory_type`"
        )
        keep = ", ".join(
            f"u.{_q(c)}" for c in union_cols + ["memory_type"] if c != "score"
        )
        blended = (
            f"CASE WHEN fbs.`feedback_score` IS NOT NULL "
            f"THEN {double_literal(1.0 - feedback_weight)} * u.`score` "
            f"+ {double_literal(feedback_weight)} * (fbs.`feedback_score` + 1.0D) / 2.0D "
            "ELSE u.`score` END"
        )
        union = (
            f"SELECT /*+ BROADCAST(fbs) */ {keep}, fbs.`feedback_score`, "
            f"{blended} AS `score` "
            f"FROM (\n{union}\n) u LEFT JOIN ({summary}) fbs "
            "ON u.`id` = fbs.`memory_id` AND u.`memory_type` = fbs.`_fb_type`"
        )
        for t in colsets:
            if t != "preferences":
                colsets[t] = colsets[t] + ["feedback_score"]
    return ServingTemplate(
        text=union,
        colsets=colsets,
        ann_types=tuple(b.memory_type for b in branches if b.ann),
    )


def qvalues_sql(qids, qvecs) -> str:
    """The inline broadcast query frame: VALUES ('<qid>', array(...)),
    one row per pending task."""
    rows = ", ".join(
        f"({string_literal(q)}, {qv_array_sql(v)})"
        for q, v in zip(qids, qvecs)
    )
    return f"(VALUES {rows}) AS q(`qid`, `qvec`)"


def compile_batch_template(
    branches: list[BranchInput],
    fetch_k: int,
    min_score: float,
    weights: ScoringWeights,
    project_id: str | None,
    agent: str,
    prefs: PrefsInput | None = None,
) -> ServingTemplate:
    """The retrieve_batch union statement (default mode, no feedback)
    with @QVALUES@/@NOWD@ tokens; bind with bind_batch(). Same
    compile/staleness contract as compile_serving_template."""
    union, _, colsets = _compile_union(
        branches, fetch_k, min_score, weights, None, project_id, (agent,),
        prefs, None, batch=True,
    )
    return ServingTemplate(
        text=union,
        colsets=colsets,
        ann_types=tuple(b.memory_type for b in branches if b.ann),
    )


def bind_batch(
    tmpl: ServingTemplate,
    qids,
    qvecs,
    now: datetime,
    cand_refs: dict[str, str] | None = None,
) -> str:
    return tmpl._bind({TOKEN_QVALUES: qvalues_sql(qids, qvecs)}, now, cand_refs)
