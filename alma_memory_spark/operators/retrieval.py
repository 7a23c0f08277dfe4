"""Retrieval pipeline: vector top-k + composite scoring + threshold/top-k.

The correctness heart of the engine. Reference semantics:

- composite score = w_sim*sim + w_rec*recency + w_succ*success + w_conf*conf
  with weights (0.4, 0.3, 0.2, 0.1) normalized to sum 1
  (alma/retrieval/scoring.py:15-310);
- recency = 0.5 ** (age_days / half_life), half_life 30d, fractional days
  (scoring.py:271-293);
- per-type conventions (scoring.py:77-269):
    heuristics:       success = success_count/occurrence_count, conf = confidence
    outcomes:         success = 1.0 if success else 0.3,        conf = 1.0
    domain_knowledge: success = 1.0,                            conf = confidence
    anti_patterns:    success = min(occurrence_count/10, 1),    conf = 1.0
- two-phase top-k: vector stage over-fetches 2k candidates, final k after
  scoring + threshold 0.2 (alma/retrieval/engine.py:275-345, 829-847);
- deterministic tie-break: the reference relies on stable sort preserving
  ANN order for equal scores (docs/benchmarks/BENCHMARK-REPORT.md:137-159);
  here the ANN rank is an EXPLICIT tiebreaker column — never implicit order;
- no-embedding fallback orderings (sqlite_local.py:973-1156):
    heuristics confidence DESC, outcomes timestamp DESC,
    domain_knowledge confidence DESC, anti_patterns occurrence_count DESC;
- retrieval modes swap (weights, top_k, threshold, boosts)
  (alma/retrieval/modes.py:69-163); DIAGNOSTIC multiplies failed-outcome
  scores by 1.5 and resorts; PRECISE/RECALL boost sim>0.9 by the mode's
  exact_match_boost and sim>0.8 by (1+(boost-1)/2) (engine.py:639-802).

Spark shape: one declarative plan — filter (partition-pruned) -> cosine
column -> window top-2k per type -> score columns -> threshold -> top-k.
All JVM-side column expressions; nothing collects until the final k rows.

These are the DataFrame serving operators: the reference the engine's
compiled serving statement (operators/serving_sql.py, the one path
AlmaSpark.retrieve takes) is tested against. Their cosine,
score-component, composite and boost columns are `F.expr` over that
module's SQL fragments — the single scoring definition — with `now` and
the query vector entering as the same folded literals the compiled
statement binds.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from alma_memory_spark.functions.window import bounded_rank_w
from alma_memory_spark.operators import serving_sql as SS


@dataclass
class ScoringWeights:
    """Weights normalized to sum 1 (reference: scoring.py:16-36)."""

    similarity: float = 0.4
    recency: float = 0.3
    success_rate: float = 0.2
    confidence: float = 0.1

    def __post_init__(self) -> None:
        total = self.similarity + self.recency + self.success_rate + self.confidence
        if total > 0 and not (0.99 <= total <= 1.01):
            self.similarity /= total
            self.recency /= total
            self.success_rate /= total
            self.confidence /= total


@dataclass
class ModeConfig:
    """One retrieval mode = a parameterization of the same plan
    (reference: alma/retrieval/modes.py:36-163)."""

    top_k: int
    min_confidence: float
    weights: ScoringWeights
    include_anti_patterns: bool = True
    diversity_factor: float = 0.0
    prioritize_failures: bool = False
    exact_match_boost: float = 1.0


MODES: dict[str, ModeConfig] = {
    "broad": ModeConfig(15, 0.3, ScoringWeights(0.70, 0.10, 0.10, 0.10), False, 0.8),
    "precise": ModeConfig(
        5, 0.7, ScoringWeights(0.30, 0.10, 0.40, 0.20), True, 0.2, False, 2.0
    ),
    "diagnostic": ModeConfig(
        10, 0.4, ScoringWeights(0.40, 0.30, 0.00, 0.30), True, 0.5, True, 1.5
    ),
    "learning": ModeConfig(20, 0.2, ScoringWeights(0.90, 0.00, 0.05, 0.05), True, 0.3),
    "recall": ModeConfig(
        3, 0.5, ScoringWeights(0.95, 0.00, 0.00, 0.05), False, 0.0, False, 3.0
    ),
    "benchmark": ModeConfig(50, 0.0, ScoringWeights(1.0, 0.0, 0.0, 0.0), False),
    "similarity": ModeConfig(20, 0.0, ScoringWeights(1.0, 0.0, 0.0, 0.0), False),
}

_MODE_KEYWORDS: dict[str, frozenset[str]] = {
    "diagnostic": frozenset(
        "error bug fix debug broken failing crash exception traceback issue".split()
    ),
    "precise": frozenset("implement execute apply run deploy write code exact".split()),
    "broad": frozenset("plan design brainstorm explore options approach ideas".split()),
    "learning": frozenset("pattern consolidate merge similar learn summarize".split()),
    "recall": frozenset("remember recall what did when was lookup find".split()),
}


def infer_mode(query: str) -> str:
    """Keyword-set mode inference (reference: modes.py keyword tables).
    First mode whose keyword set intersects the query tokens wins;
    default 'precise'."""
    toks = set(query.lower().split())
    for mode in ("diagnostic", "learning", "broad", "recall", "precise"):
        if toks & _MODE_KEYWORDS[mode]:
            return mode
    return "precise"


# ---------------------------------------------------------------------------
# scoring — columns parsed from the serving SQL fragments
# ---------------------------------------------------------------------------

def score_memories(
    df: DataFrame,
    memory_type: str,
    now: datetime,
    weights: ScoringWeights | None = None,
    half_life_days: float = 30.0,
    sim_col: str | None = "similarity",
) -> DataFrame:
    """Attach similarity/recency/success/confidence components and the
    composite `score` column. `sim_col=None` means no embedding was given
    -> sim defaults to 1.0 for every row (reference: scoring.py:98)."""
    comps = SS.score_components_sql(
        memory_type,
        sim_col,
        SS.double_literal(SS.now_epoch_seconds(now)),
        half_life_days,
    )
    return df.withColumns({n: F.expr(e) for n, e in comps.items()}).withColumn(
        "score", F.expr(SS.score_sql(weights or ScoringWeights()))
    )


# ---------------------------------------------------------------------------
# vector candidate stage
# ---------------------------------------------------------------------------

def vector_candidates(
    df: DataFrame,
    query_vec: list[float],
    k: int,
    embedding_col: str = "embedding",
    id_col: str = "id",
) -> DataFrame:
    """Exact brute-force cosine top-k candidate stage.

    Equivalent to the reference's FAISS IndexFlatIP / numpy-fallback search
    (sqlite_local.py:555-601) but expressed as a narrow map + global top-k:
    no shuffle until the final TakeOrderedAndProject, which reduces
    per-partition top-k partials — this is the plan that survives 100x
    scale-up. Adds `similarity` and an explicit `ann_rank` tiebreaker.
    """
    sim = F.expr(
        SS.cosine_sql(
            embedding_col,
            SS.qv_array_sql(query_vec),
            SS.double_literal(SS.qv_norm(query_vec)),
        )
    )
    scored = df.withColumn("similarity", sim)
    # Global top-k: orderBy+limit compiles to TakeOrderedAndProject.
    top = scored.orderBy(F.desc("similarity"), F.asc(id_col)).limit(k)
    return top.withColumn(
        "ann_rank",
        F.row_number().over(bounded_rank_w(id_col, F.desc("similarity"), F.asc(id_col))),
    )


def fallback_order(df: DataFrame, memory_type: str, k: int) -> DataFrame:
    """Deterministic per-type ordering when no query embedding is given
    (reference: sqlite_local.py:973-1156), with id as explicit tiebreak."""
    order = {
        "heuristics": [F.desc("confidence")],
        "outcomes": [F.desc("timestamp")],
        "preferences": [F.desc("confidence")],
        "domain_knowledge": [F.desc("confidence")],
        "anti_patterns": [F.desc("occurrence_count")],
    }[memory_type]
    return df.orderBy(*order, F.asc("id")).limit(k)


def threshold_topk(
    scored: DataFrame,
    k: int,
    min_score: float = 0.2,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Drop score < min_score then keep top-k (per partition if given),
    ANN rank as the deterministic tiebreaker (reference: engine.py:829-847)."""
    filtered = scored.filter(F.col("score") >= F.lit(min_score))
    tiebreak = (
        [F.asc("ann_rank")] if "ann_rank" in scored.columns else [F.asc("id")]
    )
    if partition_cols:
        w = W.partitionBy(*partition_cols).orderBy(F.desc("score"), *tiebreak)
        return filtered.withColumn("_rk", F.row_number().over(w)).filter(
            F.col("_rk") <= k
        ).drop("_rk")
    return filtered.orderBy(F.desc("score"), *tiebreak).limit(k)


def apply_mode_boosts(scored: DataFrame, mode: ModeConfig) -> DataFrame:
    """Mode-dependent score multipliers (reference: engine.py:717-802):
    DIAGNOSTIC: failed outcomes x1.5; exact-match boost: sim > 0.9 -> xB,
    sim > 0.8 -> x(1 + (B-1)/2)."""
    for expr in SS.mode_boosts_sql(mode, scored.columns):
        scored = scored.withColumn("score", F.expr(expr))
    return scored


def retrieve_type(
    df: DataFrame,
    memory_type: str,
    now: datetime,
    query_vec: list[float] | None,
    top_k: int = 5,
    project_id: str | None = None,
    agents: list[str] | None = None,
    min_confidence: float | None = None,
    min_score: float = 0.2,
    weights: ScoringWeights | None = None,
    mode: ModeConfig | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """End-to-end single-type retrieval (reference: engine.py:275-374).

    filter (partition-pruned) -> vector top-2k -> composite score ->
    mode boosts -> threshold -> top-k. Over-fetch factor 2 preserved so
    the post-score threshold semantics match the reference.

    `candidates` replaces the exact vector stage with a pre-ranked
    (id, similarity) frame — the ANN-index serving path (reference:
    FAISS IVF when an index exists, sqlite_local.py:555-640). The
    candidate rows hydrate against the scoped table by id (an inner
    join bounded by the candidate count), keep the index's similarity,
    and gain the same explicit ann_rank tiebreaker; scoring, boosts
    and threshold are unchanged.
    """
    out = df
    if project_id is not None:
        out = out.filter(F.col("project_id") == project_id)
    if agents:
        me = agents[0]
        out = out.filter(F.col("agent").isin(agents)).withColumn(
            "shared_from",
            F.when(F.col("agent") != me, F.col("agent")),
        )
    if min_confidence is not None and "confidence" in out.columns:
        out = out.filter(F.col("confidence") >= min_confidence)
    if candidates is not None and query_vec is not None:
        out = (
            out.join(F.broadcast(candidates.select("id", "similarity")), "id")
            .orderBy(F.desc("similarity"), F.asc("id"))
            .limit(2 * top_k)
            .withColumn(
                "ann_rank",
                F.row_number().over(bounded_rank_w("id", F.desc("similarity"), F.asc("id"))),
            )
        )
    elif query_vec is not None:
        out = vector_candidates(out, query_vec, 2 * top_k)
    else:
        out = fallback_order(out, memory_type, 2 * top_k)
    scored = score_memories(
        out, memory_type, now, weights,
        sim_col="similarity" if query_vec is not None else None,
    )
    if mode is not None:
        scored = apply_mode_boosts(scored, mode)
    return threshold_topk(scored, top_k, min_score)
