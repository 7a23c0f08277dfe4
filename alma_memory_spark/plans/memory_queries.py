"""Second batch of oracle-paired queries: JSON extraction, feedback /
trust re-rank joins, multi-agent union, mode boosts, stats — the
remaining SURVEY §2 operator families expressible over the synthetic
tables."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alma_memory_spark.plans.registry import (
    HALF_LIFE_DAYS,
    NOW,
    _QV_SQL,
    QUERY_VEC,
    _now,
    _r6,
    _t,
    register,
)
from alma_memory_spark.functions import text as X
from alma_memory_spark.functions.vector import cosine_similarity

# -- confidence stage of blend_scoring (reference alma/confidence/) --------

CONF_CONTEXT = "synthetic event handling"
CONF_STRATEGIES = [
    "process purchase events quickly",  # exact match to a heuristic
    "process error events",  # substring match
    "quickly process signup events",  # jaccard == 1.0 match
    "delete all caches and retry",  # risky pattern 0.8 -> avoid
    "complete rescan of every shard",  # 2 complexity keywords -> 0.4
    "validate inputs early",  # best practice 0.5
    "try a brand new idea",  # novel: no signals
    "force sleep in production",  # max(0.5, 0.6, 0.7) risk -> caution
]


def _sql_is_similar(a: str, b: str) -> str:
    """DuckDB twin of operators/confidence.is_similar_expr."""
    ta = f"list_distinct({X.sql_ws_tokens(a)})"
    tb = f"list_distinct({X.sql_ws_tokens(b)})"
    return (
        f"(trim(lower({a})) = trim(lower({b}))"
        f" OR contains(trim(lower({a})), trim(lower({b})))"
        f" OR contains(trim(lower({b})), trim(lower({a})))"
        f" OR (len(list_distinct(list_intersect({ta}, {tb}))) * 1.0"
        f"     / nullif(len(list_distinct(list_concat({ta}, {tb}))), 0)) >= 0.5)"
    )


def _sql_greatest_patterns(col: str, patterns: list[tuple[str, float]]) -> str:
    cases = ", ".join(
        f"CASE WHEN contains(lower({col}), '{p}') THEN {s} ELSE 0.0 END"
        for p, s in patterns
    )
    return f"greatest({cases})"


@register(
    "json_extraction",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON metadata handling: the reference stores `metadata` as a JSON
    dict column and decodes per row (sqlite_local.py:1557). Spark:
    get_json_object stays JVM-side; at scale prefer from_json with an
    explicit schema once per pipeline (single parse, typed columns)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


from alma_memory_spark.operators.confidence import (  # noqa: E402
    BEST_PRACTICES,
    COMPLEXITY_KEYWORDS,
    RISKY_PATTERNS,
)

_CONF_VALUES = ", ".join(f"('{s}')" for s in CONF_STRATEGIES)
_CONF_COMPLEX_HITS = " + ".join(
    f"CASE WHEN contains(lower(strategy), '{kw}') THEN 1 ELSE 0 END"
    for kw in COMPLEXITY_KEYWORDS
)

_CONF_SQL = f"""
    WITH conf_h AS (
      SELECT event_type AS hid,
             'process ' || event_type || ' events quickly' AS h_strategy,
             count(*) AS occ,
             count(*) FILTER (WHERE value > 30.0) AS succ
      FROM events GROUP BY event_type
    ),
    conf_s AS (SELECT * FROM (VALUES {_CONF_VALUES}) AS t(strategy)),
    conf_match AS (
      SELECT s.strategy, h.occ, h.succ,
             row_number() OVER (PARTITION BY s.strategy
                                ORDER BY h.occ DESC, h.hid ASC) AS rn
      FROM conf_s s JOIN conf_h h
        ON {_sql_is_similar("s.strategy", "h.h_strategy")}
    ),
    conf_base AS (
      SELECT s.strategy,
             coalesce(m.occ, 0) AS occ,
             coalesce(CASE WHEN m.occ > 0 THEN m.succ * 1.0 / m.occ END, 0.0) AS rate
      FROM conf_s s
      LEFT JOIN (SELECT strategy, occ, succ FROM conf_match WHERE rn = 1) m
        USING (strategy)
    ),
    conf_sig AS (
      SELECT strategy, occ, rate,
             0.4 * ((0.3 * CASE WHEN rate > 0 THEN rate ELSE 0.5 END)
                    + (1.0 - 0.3) * 0.5) AS wpred,
             least(1.0, ((CASE WHEN occ >= 10 THEN 0.1
                               WHEN occ >= 5 THEN 0.3
                               WHEN occ >= 2 THEN 0.5
                               ELSE 0.8 END) + (1.0 - 0.3)) / 2.0) AS unc,
             greatest(
               CASE WHEN ({_CONF_COMPLEX_HITS}) >= 2 THEN 0.4 ELSE 0.0 END,
               {_sql_greatest_patterns("strategy", RISKY_PATTERNS)}
             ) AS risk,
             {_sql_greatest_patterns("strategy", BEST_PRACTICES)} AS opp
      FROM conf_base
    ),
    conf AS (
      SELECT strategy, risk,
             round(greatest(0.0, least(1.0,
               0.3 * rate + wpred + 0.15 * 0.3
               + 0.15 * (1.0 - unc) - 0.2 * risk + 0.2 * opp)), 6) AS score
      FROM conf_sig
    )
    SELECT 'confidence:' ||
           (CASE WHEN risk >= 0.8 THEN 'avoid'
                 WHEN risk >= 0.6 THEN 'caution'
                 WHEN score >= 0.8 THEN 'strong_yes'
                 WHEN score >= 0.6 THEN 'yes'
                 WHEN score >= 0.4 THEN 'neutral'
                 WHEN score >= 0.2 THEN 'caution'
                 ELSE 'avoid' END) AS method,
           strategy AS item_id, score
    FROM conf
    """

# events -> work_items mapping shared by the Spark gate and the oracle
_WI_STATUS_SQL = """CASE event_type WHEN 'purchase' THEN 'done'
         WHEN 'error' THEN 'failed' WHEN 'click' THEN 'in_progress'
         WHEN 'signup' THEN 'blocked' ELSE 'pending' END"""

_PROGRESS_SQL = f"""
    WITH wi AS (
      SELECT CAST(event_id AS VARCHAR) AS id,
             {_WI_STATUS_SQL} AS status,
             CAST(floor(value * 1000) AS BIGINT) AS time_spent_ms,
             CAST(event_id % 100 AS INT) AS priority,
             ts AS created_at
      FROM events
    ),
    s AS (
      SELECT count(*) AS total,
             count(*) FILTER (WHERE status = 'done') AS done,
             count(*) FILTER (WHERE status = 'in_progress') AS in_progress,
             count(*) FILTER (WHERE status = 'blocked') AS blocked,
             count(*) FILTER (WHERE status = 'pending') AS pending,
             count(*) FILTER (WHERE status = 'failed') AS failed,
             sum(time_spent_ms) AS total_time_ms
      FROM wi
    )
    SELECT 'progress' AS method, item_id, round(score, 6) AS score FROM (
      SELECT 'total' AS item_id, total * 1.0 AS score FROM s
      UNION ALL SELECT 'done', done * 1.0 FROM s
      UNION ALL SELECT 'in_progress', in_progress * 1.0 FROM s
      UNION ALL SELECT 'blocked', blocked * 1.0 FROM s
      UNION ALL SELECT 'pending', pending * 1.0 FROM s
      UNION ALL SELECT 'failed', failed * 1.0 FROM s
      UNION ALL SELECT 'completion_rate',
        CASE WHEN total > 0 THEN done / total ELSE 0.0 END FROM s
      UNION ALL SELECT 'success_rate',
        CASE WHEN done + failed > 0 THEN done / (done + failed) ELSE 0.0 END FROM s
      UNION ALL SELECT 'total_time_ms', coalesce(total_time_ms, 0) * 1.0 FROM s
      UNION ALL SELECT 'avg_time_per_item_ms',
        CASE WHEN done > 0 THEN coalesce(total_time_ms, 0) / done ELSE 0.0 END FROM s
    )
    UNION ALL
    SELECT 'progress:next', id, round(priority * 1.0, 6) FROM (
      SELECT id, priority FROM wi
      WHERE status IN ('pending', 'in_progress')
      ORDER BY priority DESC, created_at ASC, id ASC
      LIMIT 1
    )
    """

_BLEND_SQL = f"""
    WITH scores AS (
      SELECT event_id, user_id,
             0.4 * 1.0
             + 0.3 * pow(0.5, (epoch(TIMESTAMP '{NOW}') - epoch(ts)) / 86400.0 / {HALF_LIFE_DAYS})
             + 0.2 * (CASE WHEN event_type <> 'error' THEN 1.0 ELSE 0.3 END)
             + 0.1 * 1.0 AS score
      FROM events WHERE ts <= TIMESTAMP '{NOW}'
    ), fb AS (
      SELECT user_id,
             (count(*) FILTER (WHERE event_type = 'purchase')
              - count(*) FILTER (WHERE event_type = 'error')) * 1.0 / count(*) AS feedback_score
      FROM events GROUP BY user_id
    ), trust AS (
      SELECT user_id,
             least(0.4 * (count(*) FILTER (WHERE event_type = 'purchase') * 1.0 / count(*))
                   + 0.4 * (count(*) FILTER (WHERE event_type <> 'error') * 1.0 / count(*))
                   + 0.2 * 0.5, 1.0) AS trust
      FROM events GROUP BY user_id
    ), scored AS (
      SELECT event_id, user_id,
             pow(0.5, (epoch(TIMESTAMP '{NOW}') - epoch(ts)) / 86400.0 / {HALF_LIFE_DAYS}) AS recency
      FROM events WHERE ts <= TIMESTAMP '{NOW}'
    ), qv AS (SELECT {_QV_SQL} AS q),
    sims AS (
      SELECT vec_id,
        list_sum(list_transform(range(1, len(embedding)+1), i -> embedding[i]::DOUBLE * q[i]))
        / (sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
           * sqrt(list_sum(list_transform(q, x -> x * x)))) AS sim
      FROM embeddings, qv
    )
    SELECT 'feedback' AS method, CAST(item_id AS VARCHAR) AS item_id, score FROM (
      SELECT s.event_id AS item_id,
             round(CASE WHEN f.feedback_score IS NOT NULL
                   THEN 0.85 * s.score + 0.15 * (f.feedback_score + 1.0) / 2.0
                   ELSE s.score END, 6) AS score
      FROM scores s LEFT JOIN fb f ON s.user_id = f.user_id
      ORDER BY score DESC, s.event_id ASC
      LIMIT 100
    )
    UNION ALL
    SELECT 'trust', CAST(item_id AS VARCHAR), score FROM (
      SELECT s.event_id AS item_id,
             round(0.35 * 1.0 + 0.25 * s.recency + 0.15 * 1.0 + 0.10 * 1.0
                   + 0.15 * coalesce(t.trust, 0.5), 6) AS score
      FROM scored s LEFT JOIN trust t ON s.user_id = t.user_id
      ORDER BY score DESC, s.event_id ASC
      LIMIT 100
    )
    UNION ALL
    SELECT 'mode_boost', CAST(item_id AS VARCHAR), score FROM (
      SELECT vec_id AS item_id,
             round(CASE WHEN sim > 0.35 THEN sim * 2.0
                        WHEN sim > 0.25 THEN sim * 1.5
                        ELSE sim END, 6) AS score
      FROM sims
      ORDER BY score DESC, vec_id ASC
      LIMIT 50
    )
    UNION ALL
    SELECT method, item_id, score FROM ({_CONF_SQL})
    UNION ALL
    SELECT method, item_id, score FROM ({_PROGRESS_SQL})
    """


# memo: the gate is pure-declarative (no writes, fixed NOW anchor), and
# its plan construction (three crossJoin+window sub-plans, the
# ConfidenceEngine assembly, the progress pivot) costs ~2.3 s of
# driver-side analysis, an order of magnitude more than executing it
@register("blend_scoring", _BLEND_SQL, memo=True)
def blend_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite gate: the three score-blending joins in one checked
    frame (merged r3 from feedback_blend + trust_blend +
    mode_boost_scoring — all driver-green in r1 but absent from the r2
    driver run; merged per the r2 verdict to fit the 50-query cap).

    'feedback' rows — feedback re-rank join: scored items x feedback
    summaries, final = (1-w)*score + w*(fb+1)/2 with w=0.15; items
    without feedback keep their score (reference:
    alma/retrieval/feedback.py:170-230). The summary side aggregates
    small -> broadcast join.
    'trust' rows — trust-aware scoring: per-source trust
    (0.4*performance + 0.4*behavior + 0.2*0.5) joined into the 5-weight
    composite (.35/.25/.15/.10 + .15*trust) — reference:
    alma/retrieval/trust_scoring.py:63-170,245+; trust profiles are
    per-agent (tiny) -> broadcast.
    'mode_boost' rows — mode-dependent exact-match boosts: sim above
    the high threshold x B, above the mid threshold x (1+(B-1)/2)
    (reference: engine.py:754-802, thresholds scaled to this corpus).
    when/otherwise column multipliers — no extra pass.
    'confidence:<recommendation>' rows — the REAL batch ConfidenceEngine
    operator (operators/confidence.py; reference alma/confidence/
    engine.py + types.py) over heuristics derived from events: the
    is_similar match (exact|substring|Jaccard>=0.5), best-heuristic
    historical rate, the 0.3/0.4/0.15/0.15 score blend with +-0.2
    risk/opportunity adjustment, keyword risk/best-practice signals,
    and the recommendation cascade — all hash-checked against a full
    SQL re-derivation. The embedding candidate stages run empty here
    (the frames carry NULL embeddings) so the sim tier exercises its
    0.3 novel-context floor; the cosine top-k join shape is
    driver-attested by the ANN gates.
    'progress' / 'progress:next' rows — the REAL ProgressTracker
    operators (operators/progress.py; reference alma/progress/
    tracker.py:292-395) over work items derived from events: the
    one-pass summary aggregation (per-status counts, completion and
    success rates, time accounting) pivoted to (field, value) rows,
    and the priority-strategy next-item selection (actionable filter +
    TakeOrderedAndProject top-1), hash-checked against the SQL
    re-derivation."""
    ev = _t(spark, sf_dir, "events")
    past = ev.filter(F.col("ts") <= _now())
    age = (_now().cast("double") - F.col("ts").cast("double")) / 86400.0
    rec = F.pow(F.lit(0.5), age / HALF_LIFE_DAYS)
    succ = F.when(F.col("event_type") != "error", 1.0).otherwise(0.3)
    scores = past.select(
        "event_id",
        "user_id",
        (F.lit(0.4) + 0.3 * rec + 0.2 * succ + F.lit(0.1)).alias("score"),
    )
    pos = F.count(F.when(F.col("event_type") == "purchase", 1))
    neg = F.count(F.when(F.col("event_type") == "error", 1))
    fb = ev.groupBy("user_id").agg(
        ((pos - neg) * F.lit(1.0) / F.count("*")).alias("feedback_score")
    )
    blended = F.when(
        F.col("feedback_score").isNotNull(),
        0.85 * F.col("score") + 0.15 * (F.col("feedback_score") + 1.0) / 2.0,
    ).otherwise(F.col("score"))
    feedback = (
        scores.join(F.broadcast(fb), "user_id", "left")
        .select(F.col("event_id").alias("item_id"), _r6(blended).alias("score"))
        .orderBy(F.desc("score"), F.asc("item_id"))
        .limit(100)
    )

    perf = F.count(F.when(F.col("event_type") == "purchase", 1)) * F.lit(1.0) / F.count("*")
    behav = F.count(F.when(F.col("event_type") != "error", 1)) * F.lit(1.0) / F.count("*")
    trust = ev.groupBy("user_id").agg(
        F.least(0.4 * perf + 0.4 * behav + F.lit(0.2 * 0.5), F.lit(1.0)).alias("trust")
    )
    scored = past.select("event_id", "user_id", rec.alias("recency"))
    texpr = (
        F.lit(0.35)
        + 0.25 * F.col("recency")
        + F.lit(0.15)
        + F.lit(0.10)
        + 0.15 * F.coalesce(F.col("trust"), F.lit(0.5))
    )
    trusted = (
        scored.join(F.broadcast(trust), "user_id", "left")
        .select(F.col("event_id").alias("item_id"), _r6(texpr).alias("score"))
        .orderBy(F.desc("score"), F.asc("item_id"))
        .limit(100)
    )

    emb = _t(spark, sf_dir, "embeddings")
    qlit = F.array(*[F.lit(float(x)) for x in QUERY_VEC])
    sim = cosine_similarity("embedding", qlit)
    boosted_expr = (
        F.when(sim > 0.35, sim * 2.0).when(sim > 0.25, sim * 1.5).otherwise(sim)
    )
    boosted = (
        emb.select(F.col("vec_id").alias("item_id"), _r6(boosted_expr).alias("score"))
        .orderBy(F.desc("score"), F.asc("item_id"))
        .limit(50)
    )

    from alma_memory_spark import schemas as _sch
    from alma_memory_spark.embedding import HashEmbedder
    from alma_memory_spark.operators.confidence import assess_strategies

    heur = (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("occurrence_count"),
            F.count(F.when(F.col("value") > 30.0, 1)).alias("success_count"),
        )
        .select(
            F.col("event_type").alias("id"),
            F.concat(
                F.lit("process "), F.col("event_type"), F.lit(" events quickly")
            ).alias("strategy"),
            "occurrence_count",
            "success_count",
            F.lit(None).cast(_sch.EMBEDDING).alias("embedding"),
        )
    )
    out_empty = spark.createDataFrame(
        [], "id string, strategy_used string, success boolean, embedding array<float>"
    )
    ap_empty = spark.createDataFrame(
        [], "id string, pattern string, embedding array<float>"
    )
    conf = assess_strategies(
        spark, CONF_STRATEGIES, CONF_CONTEXT, heur, ap_empty, out_empty, HashEmbedder()
    ).select(
        F.concat(F.lit("confidence:"), F.col("recommendation")).alias("method"),
        F.col("strategy").alias("item_id"),
        F.col("confidence_score").alias("score"),
    )

    from alma_memory_spark.operators import progress as PG

    wi = ev.select(
        F.col("event_id").cast("string").alias("id"),
        F.expr(_WI_STATUS_SQL).alias("status"),
        F.floor(F.col("value") * 1000).cast("long").alias("time_spent_ms"),
        (F.col("event_id") % 100).cast("int").alias("priority"),
        F.col("ts").alias("created_at"),
        F.col("ts").alias("updated_at"),
        F.lit(None).cast("string").alias("agent"),
        F.array().cast("array<string>").alias("blocked_by"),
        F.array().cast("array<string>").alias("acceptance_criteria"),
    )
    summary_fields = [
        "total", "done", "in_progress", "blocked", "pending", "failed",
        "completion_rate", "success_rate", "total_time_ms",
        "avg_time_per_item_ms",
    ]
    stack_args = ", ".join(
        f"'{k}', CAST({k} AS DOUBLE)" for k in summary_fields
    )
    prog = (
        PG.progress_summary(wi)
        .selectExpr(f"stack({len(summary_fields)}, {stack_args}) AS (item_id, score)")
        .select(
            F.lit("progress").alias("method"), "item_id", _r6(F.col("score")).alias("score")
        )
    )
    nxt = PG.next_item(wi, strategy="priority").select(
        F.lit("progress:next").alias("method"),
        F.col("id").alias("item_id"),
        _r6(F.col("priority") * 1.0).alias("score"),
    )

    cast_id = lambda df: df.withColumn("item_id", F.col("item_id").cast("string"))  # noqa: E731
    return (
        cast_id(feedback).select(F.lit("feedback").alias("method"), "*")
        .unionByName(cast_id(trusted).select(F.lit("trust").alias("method"), "*"))
        .unionByName(cast_id(boosted).select(F.lit("mode_boost").alias("method"), "*"))
        .unionByName(conf)
        .unionByName(prog)
        .unionByName(nxt)
    )


@register(
    "multi_agent_union",
    """
    SELECT event_id, user_id, event_type,
           CASE WHEN user_id <> 3 THEN user_id END AS shared_from
    FROM events
    WHERE user_id IN (3, 7, 11) AND event_type = 'purchase'
    """,
)
def multi_agent_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-agent shared read: one query over agent IN (self UNION
    inherit_from), rows from other agents tagged shared_from (reference:
    sqlite_local.py:1169-1215, engine.py:180-272). An isin filter + tag
    column — no per-agent round trips."""
    ev = _t(spark, sf_dir, "events")
    me = 3
    return (
        ev.filter(F.col("user_id").isin(me, 7, 11) & (F.col("event_type") == "purchase"))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.when(F.col("user_id") != me, F.col("user_id")).alias("shared_from"),
        )
    )


@register(
    "table_stats",
    f"""
    SELECT 'count' AS variant, table_name, n,
           CAST(NULL AS DOUBLE) AS q50, CAST(NULL AS DOUBLE) AS q90,
           CAST(NULL AS DOUBLE) AS q99
    FROM (
      SELECT 'orders' AS table_name, count(*) AS n FROM orders
      UNION ALL SELECT 'lineitem', count(*) FROM lineitem
      UNION ALL SELECT 'customer', count(*) FROM customer
      UNION ALL SELECT 'events', count(*) FROM events
      UNION ALL SELECT 'documents', count(*) FROM documents
      UNION ALL SELECT 'embeddings', count(*) FROM embeddings
    )
    UNION ALL
    SELECT 'len_quantiles', lang, count(*),
           round(quantile_cont(length(text), 0.5), 6),
           round(quantile_cont(length(text), 0.9), 6),
           round(quantile_cont(length(text), 0.99), 6)
    FROM documents GROUP BY lang
    UNION ALL
    SELECT 'qreport:' || lang, lang, count(*) AS n,
           round(CAST(sum(CAST(q AS DECIMAL(28,10))) AS DOUBLE)
                 / count(*), 6),
           round(CAST(sum(CAST(g AS DECIMAL(28,10))) AS DOUBLE)
                 / count(*), 6),
           CAST(sum(ntok) AS DOUBLE)
    FROM (
      SELECT {X.sql_lang_id('text')} AS lang,
             round({X.sql_quality_score('text')}, 6) AS q,
             CASE WHEN {X.sql_gopher_pass_bits('text')} = '1111111'
                  THEN 1 ELSE 0 END AS g,
             len({X.sql_ws_tokens('text')}) AS ntok
      FROM documents
    ) GROUP BY lang
    """,
)
def table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats surface, composite.

    'count' rows — per-table row counts (reference:
    sqlite_local.py:1486-1527). Parquet count() reads footer metadata
    only — no data scan.

    'len_quantiles' rows (r6) — exact per-language doc-length
    quantiles (p50/p90/p99), the calibration read a quality-filter
    pipeline runs before choosing thresholds. Exact `percentile` here
    (hash-checked against DuckDB's quantile_cont — both linear
    interpolation); at 100 TB swap in `percentile_approx` (GK sketch,
    map-side combinable, no per-group sort) — same plan shape, bounded
    state, no exact oracle by construction."""
    parts = []
    for t in ["orders", "lineitem", "customer", "events", "documents", "embeddings"]:
        parts.append(
            _t(spark, sf_dir, t).agg(
                F.count("*").alias("n")
            ).select(
                F.lit("count").alias("variant"),
                F.lit(t).alias("table_name"),
                "n",
                F.lit(None).cast("double").alias("q50"),
                F.lit(None).cast("double").alias("q90"),
                F.lit(None).cast("double").alias("q99"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    docs = _t(spark, sf_dir, "documents")
    quant = docs.groupBy("lang").agg(
        F.count("*").alias("n"),
        *[
            F.round(
                F.percentile(F.length("text"), F.lit(p)), 6
            ).alias(f"q{int(p * 100)}")
            for p in (0.5, 0.9, 0.99)
        ],
    ).select(
        F.lit("len_quantiles").alias("variant"),
        F.col("lang").alias("table_name"),
        "n", "q50", "q90", "q99",
    )
    # 'qreport:<lang>' rows (r10 late) — the pipeline facade's
    # one-scan corpus quality report (pipeline.quality_report):
    # per DETECTED language (lang_id, not the stored lang column),
    # doc count, whitespace-token total, DECIMAL-summed means of the
    # per-doc round(quality_score, 6) and the Gopher pass bit. The
    # oracle re-derives every signal from its gated SQL mirror and
    # replays the same decimal means, so a drifted signal, a pooled
    # language, or an order-dependent mean all hash-mismatch.
    from alma_memory_spark.pipeline import quality_report

    qr = quality_report(docs).select(
        F.concat(F.lit("qreport:"), F.col("lang")).alias("variant"),
        F.col("lang").alias("table_name"),
        F.col("n_docs").alias("n"),
        F.col("mean_quality").alias("q50"),
        F.col("gopher_pass_rate").alias("q90"),
        F.col("n_tokens").cast("double").alias("q99"),
    )
    return out.unionByName(quant).unionByName(qr)
