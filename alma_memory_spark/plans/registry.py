"""Query registry: the driver-facing correctness contract.

Each entry pairs a Spark DataFrame implementation with an equivalent
ANSI-SQL oracle that DuckDB runs on the same parquet tables. Every
operator family from SURVEY.md §2 gets at least one entry here, expressed
over the driver's synthetic tables (region nation customer supplier part
orders lineitem events documents embeddings).

Determinism conventions (hash-match requires bit-equality):
- fixed `now` anchor timestamps, never current_timestamp();
- every computed double is round(x, 6) on BOTH sides;
- float sums go through DECIMAL casts (exact, order-independent — a
  distributed double sum is not reproducible across partitionings);
- every LIMIT/top-k has a unique-column tiebreaker.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from alma_memory_spark.cache import LRU, session_key
from alma_memory_spark.embedding import hash_embed
from alma_memory_spark.functions.vector import cosine_similarity
from alma_memory_spark.session import load_table
from alma_memory_spark.functions.window import bounded_rank_w

# Fixed anchors / parameters shared by Spark + oracle sides.
NOW = "2024-02-15 00:00:00"
HALF_LIFE_DAYS = 30.0
QUERY_TEXT = "spark query engine fast join"
QUERY_VEC = hash_embed(QUERY_TEXT, 64)
_QV_SQL = "[" + ",".join(repr(v) for v in QUERY_VEC) + "]::DOUBLE[]"


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}


#: {(applicationId, query name, sf_dir): DataFrame} for memo=True
#: gates. Gates run from concurrent harness threads; each key builds
#: once, and different gates build at the same time.
_PLAN_MEMO = LRU(session_scoped=True)

#: Optional plan probe (r15, VERDICT r14 #8): several gates run their
#: real pipeline against a per-call temp store and must materialize
#: before the `finally` removes it, so the DECLARED frame is a
#: LocalTableScan and `explain()` on it is vacuous. When a capture
#: tool sets PLAN_PROBE, those gates call probe_plan(gate, stage, df)
#: on each inner frame RIGHT BEFORE materializing it — the probe sees
#: the real pre-materialization plan. None (the default) is a no-op:
#: zero behavior change on bench/oracle paths.
PLAN_PROBE: Callable[[str, str, DataFrame], None] | None = None


def probe_plan(gate: str, stage: str, df: DataFrame) -> None:
    cb = PLAN_PROBE
    if cb is not None:
        try:
            cb(gate, stage, df)
        except Exception:
            pass  # a broken probe must never break a gate


def register(name: str, oracle: str | None, memo: bool = False):
    """`memo=True` caches the CONSTRUCTED DataFrame per (session,
    sf_dir). For gate functions whose result is deterministic in
    (spark, sf_dir): pure plan builders where Catalyst analysis of
    deep expression trees dominates repeat cost, AND gates whose
    construction-time driver work (a centroid collect, a tempdir index
    build keyed by sf_dir) has static inputs per session — the
    blend_scoring / text_relevance precedent. NOT for gates that seed
    fresh engines, temp stores, or streams per call. Re-executing the
    identical plan also lets Spark skip unchanged shuffle stages,
    which is the honest steady-state for a prepared query."""

    def deco(fn):
        if memo:
            import functools

            @functools.wraps(fn)
            def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
                return _PLAN_MEMO.get_or_build(
                    session_key(spark, name, sf_dir), lambda: fn(spark, sf_dir)
                )

            QUERIES[name] = QuerySpec(wrapped, oracle, fn.__doc__ or "")
            return wrapped
        QUERIES[name] = QuerySpec(fn, oracle, fn.__doc__ or "")
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _now() -> F.Column:
    return F.to_timestamp(F.lit(NOW))


def _r6(c: F.Column) -> F.Column:
    return F.round(c, 6)


# ---------------------------------------------------------------------------
# §2.2 projections / filters / predicates — the canonical read template
# ---------------------------------------------------------------------------

@register(
    "memory_fetch_template",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
    FROM orders
    WHERE o_orderstatus = 'O' AND o_totalprice >= 150000.0
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 100
    """,
)
def memory_fetch_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical fetch: equality + range predicate -> deterministic
    order -> LIMIT k. Mirrors the reference's universal read template
    (alma/storage/sqlite_local.py:934-983: WHERE project_id=? AND
    confidence >= ? ORDER BY confidence DESC LIMIT ?). Filters push to
    the parquet scan; orderBy+limit compiles to TakeOrderedAndProject
    (no full sort at scale)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.filter((F.col("o_orderstatus") == "O") & (F.col("o_totalprice") >= 150000.0))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@register(
    "join_guard_shapes",
    """
    SELECT 'semi' AS shape, o_orderkey AS key, CAST(o_custkey AS VARCHAR) AS tag,
           o_totalprice AS val
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    UNION ALL
    SELECT 'anti', c_custkey, c_name || '/' || c_mktsegment, CAST(NULL AS DOUBLE)
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def join_guard_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite gate: both candidate-set join shapes in one checked frame
    (merged r3 from semi_join_candidates + anti_join_write_guard, both
    driver-green in r2, to fit the driver's 50-query correctness cap).

    'semi' rows — ANN-candidate semi-join: `id IN (candidate set)` as a
    broadcast LEFT SEMI join (reference: sqlite_local.py:964-967 fetches
    `id IN (faiss top-2k)`); the candidate side is small by construction
    -> broadcast, no shuffle of the big side.
    'anti' rows — write-guard: candidate rows that do NOT match a stored
    blocklist pass through, LEFT ANTI join (reference: the anti-pattern
    write guard, alma/learning/protocols.py:95-109)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING")
    semi = (
        orders.join(F.broadcast(building), orders.o_custkey == building.c_custkey, "left_semi")
        .select(
            F.lit("semi").alias("shape"),
            F.col("o_orderkey").alias("key"),
            F.col("o_custkey").cast("string").alias("tag"),
            F.col("o_totalprice").alias("val"),
        )
    )
    anti = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select(
            F.lit("anti").alias("shape"),
            F.col("c_custkey").alias("key"),
            F.concat(F.col("c_name"), F.lit("/"), F.col("c_mktsegment")).alias("tag"),
            F.lit(None).cast("double").alias("val"),
        )
    )
    return semi.unionByName(anti)


# ---------------------------------------------------------------------------
# §2.5 window functions / ranking
# ---------------------------------------------------------------------------

@register(
    "topk_per_group",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
      FROM orders
    ) WHERE rk <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type/per-agent top-k (reference: threshold+topk per memory
    type, engine.py:829-847) as a window row_number — one shuffle on the
    partition key, no global sort."""
    orders = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "o_custkey", "o_orderkey", "o_totalprice", F.col("rk").cast("long").alias("rk")
        )
    )


@register(
    "retention_windows",
    """
    SELECT shape, user_id, event_id, ts, event_type FROM (
      SELECT CASE WHEN rk = 1 THEN 'latest' WHEN rk > 50 THEN 'overflow' END AS shape,
             user_id, event_id, ts,
             CASE WHEN rk = 1 THEN event_type END AS event_type
      FROM (
        SELECT user_id, event_id, ts, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rk
        FROM events
      )
    ) WHERE shape IS NOT NULL
    """,
)
def retention_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite gate: both retention window shapes from ONE ranking pass
    (merged r3 from latest_checkpoint + quota_enforcement, both
    driver-green in r2, to fit the driver's 50-query correctness cap).

    'latest' rows (rk = 1) — latest-per-key: max sequence_number per
    (run, branch) in the reference's checkpoint resume
    (sqlite_local.py:2041-2065).
    'overflow' rows (rk > 50) — quota pruning: keep the newest N per
    agent, emit the delete set (reference: max_outcomes_per_agent quota
    delete, alma/learning/forgetting.py:441-516).
    One shuffle on the key serves both consumers — at scale the ranking
    is computed once and fanned out, not one window per policy."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    ranked = ev.withColumn("rk", F.row_number().over(w))
    shape = (
        F.when(F.col("rk") == 1, "latest")
        .when(F.col("rk") > 50, "overflow")
    )
    return (
        ranked.withColumn("shape", shape)
        .filter(F.col("shape").isNotNull())
        .select(
            "shape",
            "user_id",
            "event_id",
            "ts",
            F.when(F.col("rk") == 1, F.col("event_type")).alias("event_type"),
        )
    )


@register(
    "rrf_fusion",
    """
    WITH a AS (
      SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS rank_a
      FROM documents
      ORDER BY rank_a LIMIT 100
    ), b AS (
      SELECT doc_id, row_number() OVER (ORDER BY md5(text) ASC, doc_id ASC) AS rank_b
      FROM documents
      ORDER BY rank_b LIMIT 100
    ), fusion AS (
      SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
             round(coalesce(0.5 / (60 + rank_a), 0.0)
                   + coalesce(0.5 / (60 + rank_b), 0.0), 6) AS score
      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
      ORDER BY score DESC, doc_id ASC
      LIMIT 50
    ), ranked AS (
      SELECT doc_id % 20 AS qid,
             CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END AS rel,
             row_number() OVER (PARTITION BY doc_id % 20
                                ORDER BY md5(text) ASC, doc_id ASC) AS rnk
      FROM documents
    ), cut AS (
      SELECT * FROM ranked WHERE rnk <= 50
    ), gold AS (
      SELECT doc_id % 20 AS qid, count(*) AS n_gold
      FROM documents WHERE doc_id % 13 = 0 GROUP BY 1
    ), idcg AS (
      SELECT qid, sum(1.0 / log2(i + 1.0)) AS idcg10
      FROM (SELECT qid, unnest(range(1, least(n_gold, 10) + 1)) AS i FROM gold)
      GROUP BY qid
    ), per_q AS (
      SELECT c.qid,
             max(CASE WHEN rel = 1 AND rnk <= 5 THEN 1 ELSE 0 END) AS hit5,
             max(CASE WHEN rel = 1 AND rnk <= 10 THEN 1 ELSE 0 END) AS hit10,
             sum(CASE WHEN rnk <= 10 THEN rel ELSE 0 END) / 10.0 AS p10,
             coalesce(1.0 / min(CASE WHEN rel = 1 THEN rnk END), 0.0) AS rr,
             sum(CASE WHEN rnk <= 10 THEN rel / log2(rnk + 1.0) ELSE 0 END) AS dcg10
      FROM cut c GROUP BY c.qid
    ), per_q_n AS (
      SELECT p.*, coalesce(i.idcg10, 0.0) AS idcg10 FROM per_q p
      LEFT JOIN idcg i ON p.qid = i.qid
    ), summary AS (
      SELECT round(avg(hit5), 6) AS r5, round(avg(hit10), 6) AS r10,
             round(avg(p10), 6) AS p10, round(avg(rr), 6) AS mrr,
             round(avg(CASE WHEN idcg10 > 0 THEN dcg10 / idcg10 ELSE 0 END), 6) AS ndcg10
      FROM per_q_n
    )
    SELECT 'fusion' AS shape, CAST(doc_id AS VARCHAR) AS key, score FROM fusion
    UNION ALL
    SELECT 'metric', m.key, m.score FROM summary,
      LATERAL (VALUES ('R@5', r5), ('R@10', r10), ('P@10', p10),
                      ('MRR', mrr), ('NDCG@10', ndcg10)) AS m(key, score)
    """,
)
def rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite gate: rank fusion + distributed IR benchmark metrics.

    'fusion' rows — reciprocal-rank fusion of two bounded retrieval
    lists: score = sum w * 1/(60+rank), absent list contributes 0
    (reference: hybrid vector+text fusion,
    alma/retrieval/hybrid.py:113-178, k=60 — the fused inputs are
    top-N retrieval outputs, never whole-corpus rankings). Each side
    is cut via orderBy().limit() = TakeOrderedAndProject BEFORE
    ranking, so no global-window single-partition sort; the 100-row
    lists broadcast into the fusion join.

    'metric' rows — the reference's benchmark harness metrics
    (benchmarks/longmemeval/metrics.py:20-120: R@K = any-gold-in-top-K,
    P@K, MRR = mean 1/first-hit-rank, NDCG@K with binary relevance vs
    ideal DCG) computed DISTRIBUTED over 20 synthetic questions
    (qid = doc_id % 20, gold = doc_id % 13 == 0, ranking = md5(text)):
    one window partitioned by qid + one groupBy on the same key (no
    second shuffle), then a 20-row mean. At 100 TB this is the shape
    for metrics over millions of questions in one job; real rankings
    arrive pre-cut to top-k from retrieval, as here (rnk <= 50)."""
    docs = _t(spark, sf_dir, "documents")
    a = (
        docs.select("doc_id", "n_chars")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(100)
        .withColumn(
            "rank_a",
            F.row_number().over(bounded_rank_w("doc_id", F.desc("n_chars"), F.asc("doc_id"))),
        )
        .select("doc_id", "rank_a")
    )
    b = (
        docs.select("doc_id", F.md5(F.col("text")).alias("h"))
        .orderBy(F.asc("h"), F.asc("doc_id"))
        .limit(100)
        .withColumn(
            "rank_b", F.row_number().over(bounded_rank_w("doc_id", F.asc("h"), F.asc("doc_id")))
        )
        .select("doc_id", "rank_b")
    )
    fusion = (
        a.join(b, "doc_id", "full_outer")
        .select(
            "doc_id",
            _r6(
                F.coalesce(F.lit(0.5) / (F.lit(60) + F.col("rank_a")), F.lit(0.0))
                + F.coalesce(F.lit(0.5) / (F.lit(60) + F.col("rank_b")), F.lit(0.0))
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(50)
        .select(
            F.lit("fusion").alias("shape"),
            F.col("doc_id").cast("string").alias("key"),
            "score",
        )
    )

    qid = F.col("doc_id") % 20
    rel = F.when(F.col("doc_id") % 13 == 0, 1).otherwise(0)
    wq = W.partitionBy(qid).orderBy(F.md5(F.col("text")).asc(), F.col("doc_id").asc())
    ranked = docs.select(
        qid.alias("qid"), rel.alias("rel"), F.row_number().over(wq).alias("rnk")
    )
    cut = ranked.filter(F.col("rnk") <= 50)
    per_q = cut.groupBy("qid").agg(
        F.max(F.when((F.col("rel") == 1) & (F.col("rnk") <= 5), 1).otherwise(0)).alias("hit5"),
        F.max(F.when((F.col("rel") == 1) & (F.col("rnk") <= 10), 1).otherwise(0)).alias("hit10"),
        (F.sum(F.when(F.col("rnk") <= 10, F.col("rel")).otherwise(0)) / F.lit(10.0)).alias("p10"),
        F.coalesce(
            F.lit(1.0) / F.min(F.when(F.col("rel") == 1, F.col("rnk"))), F.lit(0.0)
        ).alias("rr"),
        F.sum(
            F.when(
                F.col("rnk") <= 10, F.col("rel") / F.log2(F.col("rnk") + F.lit(1.0))
            ).otherwise(F.lit(0.0))
        ).alias("dcg10"),
    )
    # ideal DCG from the FULL gold count per question (reference:
    # ideal = [1]*min(len(correct_ids), k)); sequence(1, 0) in Spark
    # is a DESCENDING list, so n_gold = 0 must short-circuit to 0
    gold = (
        docs.filter(F.col("doc_id") % 13 == 0)
        .groupBy((F.col("doc_id") % 20).alias("qid"))
        .agg(F.count("*").alias("n_gold"))
    )
    idcg = gold.select(
        "qid",
        F.when(
            F.col("n_gold") > 0,
            F.expr(
                "aggregate(sequence(1, int(least(n_gold, 10))), 0D,"
                " (acc, i) -> acc + 1.0 / log2(i + 1.0))"
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("idcg10"),
    )
    per_qn = per_q.join(idcg, "qid", "left").withColumn(
        "idcg10", F.coalesce(F.col("idcg10"), F.lit(0.0))
    )
    summary = per_qn.agg(
        _r6(F.avg("hit5")).alias("r5"),
        _r6(F.avg("hit10")).alias("r10"),
        _r6(F.avg("p10")).alias("p10"),
        _r6(F.avg("rr")).alias("mrr"),
        _r6(
            F.avg(
                F.when(
                    F.col("idcg10") > 0, F.col("dcg10") / F.col("idcg10")
                ).otherwise(F.lit(0.0))
            )
        ).alias("ndcg10"),
    )
    metrics = summary.selectExpr(
        "stack(5, 'R@5', r5, 'R@10', r10, 'P@10', p10, 'MRR', mrr,"
        " 'NDCG@10', ndcg10) AS (key, score)"
    ).select(F.lit("metric").alias("shape"), "key", "score")
    return fusion.unionByName(metrics)


# ---------------------------------------------------------------------------
# §2.4 aggregations
# ---------------------------------------------------------------------------

@register(
    "pricing_revenue_agg",
    """
    SELECT l_returnflag AS grp, l_linestatus AS grp2,
           CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
           CAST(sum(l_extendedprice::DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
           CAST(sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount::DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
           round(CAST(sum(l_quantity) AS DOUBLE) / count(*), 6) AS avg_qty,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    UNION ALL
    SELECT n_name, CAST(NULL AS VARCHAR),
           CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE),
           CAST(sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount::DECIMAL(18,2))) AS DOUBLE),
           CAST(NULL AS DOUBLE),
           count(*)
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def pricing_revenue_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite gate: the two classic OLAP aggregate shapes in one
    checked frame (merged r3 from groupby_agg_pricing + join_agg_revenue,
    both driver-green in r2, to fit the 50-query correctness cap).

    Pricing rows — TPC-H-Q1-shaped groupBy aggregate (the reference's
    stats/health aggregations generalized, forgetting.py:873-1208):
    partial map-side aggregation from Catalyst, DECIMAL sums for an
    order-independent distributed result.
    Revenue rows — TPC-H-Q5-shaped multi-join star aggregation: dims
    (nation, region) broadcast, only the fact-fact join shuffles; the
    same plan holds at 100 TB because dims stay small."""
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.to_timestamp(F.lit("2000-12-01"))
    )
    pricing = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").cast("double").alias("sum_qty"),
        F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
        F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
        .cast("double")
        .alias("sum_disc_price"),
        _r6(F.sum("l_quantity").cast("double") / F.count("*")).alias("avg_qty"),
        F.count("*").alias("n_rows"),
    ).select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_linestatus").alias("grp2"),
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "avg_qty",
        "n_rows",
    )
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            F.count("*").alias("n_rows"),
        )
        .select(
            F.col("n_name").alias("grp"),
            F.lit(None).cast("string").alias("grp2"),
            F.lit(None).cast("double").alias("sum_qty"),
            F.lit(None).cast("double").alias("sum_base_price"),
            "sum_disc_price",
            F.lit(None).cast("double").alias("avg_qty"),
            "n_rows",
        )
    )
    return pricing.unionByName(revenue)


@register(
    "feedback_summary",
    """
    SELECT user_id,
           count(*) AS total,
           count(*) FILTER (WHERE event_type = 'purchase') AS positive,
           count(*) FILTER (WHERE event_type = 'error') AS negative,
           round((count(*) FILTER (WHERE event_type = 'purchase')
                  - count(*) FILTER (WHERE event_type = 'error')) * 1.0 / count(*), 6) AS feedback_score
    FROM events
    GROUP BY user_id
    """,
)
def feedback_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feedback aggregation: per key, signal counts ->
    (pos - neg) / total in [-1, 1] (reference: FeedbackSummary,
    alma/types.py:383-420 and base.py:1147-1169). Conditional counts
    instead of pivot: one pass, map-side combinable."""
    ev = _t(spark, sf_dir, "events")
    pos = F.count(F.when(F.col("event_type") == "purchase", 1))
    neg = F.count(F.when(F.col("event_type") == "error", 1))
    return ev.groupBy("user_id").agg(
        F.count("*").alias("total"),
        pos.alias("positive"),
        neg.alias("negative"),
        _r6((pos - neg) * F.lit(1.0) / F.count("*")).alias("feedback_score"),
    )


@register(
    "heuristic_extraction",
    """
    SELECT user_id, event_type,
           count(*) AS occurrence_count,
           count(*) FILTER (WHERE value >= 50.0) AS success_count,
           round(count(*) FILTER (WHERE value >= 50.0) * 1.0 / count(*), 6) AS success_rate,
           round((count(*) FILTER (WHERE value >= 50.0) * 1.0 / count(*))
                 * (0.5 + 0.5 * least(count(*) / 20.0, 1.0)), 6) AS confidence
    FROM events
    GROUP BY user_id, event_type
    HAVING count(*) >= 3
       AND count(*) FILTER (WHERE value >= 50.0) * 1.0 / count(*) > 0.5
    """,
)
def heuristic_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic extraction aggregate: group outcomes by (agent,
    task_type[, strategy cluster]); per group n, successes,
    success_rate, confidence = success_rate * (0.5 + 0.5*min(n/20, 1));
    emit when n >= 3 and success_rate > 0.5 (reference:
    alma/learning/heuristic_extractor.py:110-342). Here (user_id,
    event_type) stands in for (agent, task_type); success = value >= 50."""
    ev = _t(spark, sf_dir, "events")
    n = F.count("*")
    succ = F.count(F.when(F.col("value") >= 50.0, 1))
    rate = succ * F.lit(1.0) / n
    conf = rate * (F.lit(0.5) + F.lit(0.5) * F.least(n / F.lit(20.0), F.lit(1.0)))
    return (
        ev.groupBy("user_id", "event_type")
        .agg(
            n.alias("occurrence_count"),
            succ.alias("success_count"),
            _r6(rate).alias("success_rate"),
            _r6(conf).alias("confidence"),
        )
        .filter((F.col("occurrence_count") >= 3) & (F.col("success_rate") > 0.5))
    )


@register(
    "anti_pattern_candidates",
    """
    SELECT user_id, count(*) AS occurrence_count,
           round(least(count(*) / 10.0, 1.0), 6) AS severity
    FROM events
    WHERE event_type = 'error'
    GROUP BY user_id
    HAVING count(*) >= 2
    """,
)
def anti_pattern_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-pattern creation: >= 2 similar failures -> an anti-pattern
    with occurrence_count = n (reference: protocols.py:231-279); severity
    is the scorer's min(occurrences/10, 1) cap (scoring.py:232-247)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("occurrence_count"),
            _r6(F.least(F.count("*") / F.lit(10.0), F.lit(1.0))).alias("severity"),
        )
        .filter(F.col("occurrence_count") >= 2)
    )


# ---------------------------------------------------------------------------
# §2.6 scoring / decay (the composite-score heart, no-embedding path)
# ---------------------------------------------------------------------------

@register(
    "decay_composite_scoring",
    f"""
    WITH base AS (
      SELECT event_id, user_id, event_type,
             pow(0.5, (epoch(TIMESTAMP '{NOW}') - epoch(ts)) / 86400.0 / {HALF_LIFE_DAYS}) AS rec
      FROM events
      WHERE ts <= TIMESTAMP '{NOW}'
    )
    SELECT 'decay' AS shape, event_id, CAST(NULL AS BIGINT) AS user_id,
           round(rec, 6) AS score
    FROM base
    UNION ALL
    SELECT 'composite', event_id, user_id, score FROM (
      SELECT event_id, user_id,
             round(0.4 * 1.0
                   + 0.3 * rec
                   + 0.2 * (CASE WHEN event_type <> 'error' THEN 1.0 ELSE 0.3 END)
                   + 0.1 * 1.0, 6) AS score
      FROM base
      ORDER BY score DESC, event_id ASC
      LIMIT 100
    )
    """,
)
def decay_composite_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite gate: the decay primitive AND the full 4-factor score
    built on it (merged r3 from recency_decay + composite_score_noembed,
    both driver-green in r2, to fit the 50-query correctness cap).

    'decay' rows — exponential half-life recency 0.5**(age_days /
    half_life), fractional days, over every past event (reference:
    scoring.py:271-293; decay-at-read design decay.py:74-122 — strength
    recomputed from timestamps at query time, never stored stale).
    'composite' rows — the no-embedding composite: sim defaults to 1.0,
    score = 0.4*sim + 0.3*recency + 0.2*success + 0.1*confidence with
    success ? 1.0 : 0.3, conf 1.0 (reference: scoring.py:122-170;
    weights scoring.py:16-36), then threshold-free top-100 cut. Both
    shapes are pure column expressions over one shared scan — the
    'composite' branch's orderBy+limit still compiles to
    TakeOrderedAndProject."""
    ev = _t(spark, sf_dir, "events").filter(F.col("ts") <= _now())
    age_days = (_now().cast("double") - F.col("ts").cast("double")) / F.lit(86400.0)
    rec = F.pow(F.lit(0.5), age_days / F.lit(HALF_LIFE_DAYS))
    decay = ev.select(
        F.lit("decay").alias("shape"),
        "event_id",
        F.lit(None).cast("long").alias("user_id"),
        _r6(rec).alias("score"),
    )
    succ = F.when(F.col("event_type") != "error", F.lit(1.0)).otherwise(F.lit(0.3))
    score = (
        F.lit(0.4) * F.lit(1.0) + F.lit(0.3) * rec + F.lit(0.2) * succ + F.lit(0.1) * F.lit(1.0)
    )
    composite = (
        ev.select("event_id", "user_id", _r6(score).alias("score"))
        .orderBy(F.desc("score"), F.asc("event_id"))
        .limit(100)
        .select(F.lit("composite").alias("shape"), "event_id", "user_id", "score")
    )
    return decay.unionByName(composite)


# ---------------------------------------------------------------------------
# §2.6 vector top-k (exact ANN) + §2.3 ANN-candidate join
# ---------------------------------------------------------------------------

_COS_SQL = f"""
      round(
        list_sum(list_transform(range(1, len(embedding)+1), i -> embedding[i]::DOUBLE * q[i]))
        / (sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
           * sqrt(list_sum(list_transform(q, x -> x * x))))
      , 6)
"""


@register(
    "vector_topk",
    f"""
    WITH qv AS (SELECT {_QV_SQL} AS q)
    SELECT vec_id, label, {_COS_SQL} AS similarity
    FROM embeddings, qv
    ORDER BY similarity DESC, vec_id ASC
    LIMIT 20
    """,
)
def vector_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k — the vector candidate stage
    (reference: FAISS IndexFlatIP / numpy fallback,
    sqlite_local.py:555-601). Expressed as a narrow map + global top-k
    (TakeOrderedAndProject): per-partition partial top-k then a k-row
    reduce — the plan that survives 100x scale-up. vec_id is the explicit
    ANN-order tiebreaker (BENCHMARK-REPORT.md:137-159 determinism)."""
    emb = _t(spark, sf_dir, "embeddings")
    qlit = F.array(*[F.lit(float(x)) for x in QUERY_VEC])
    return (
        emb.select(
            "vec_id",
            "label",
            _r6(cosine_similarity("embedding", qlit)).alias("similarity"),
        )
        .orderBy(F.desc("similarity"), F.asc("vec_id"))
        .limit(20)
    )


@register(
    "ann_candidate_join",
    f"""
    WITH qv AS (SELECT {_QV_SQL} AS q),
    cand AS (
      SELECT vec_id, {_COS_SQL} AS similarity
      FROM embeddings, qv
      ORDER BY similarity DESC, vec_id ASC
      LIMIT 40
    )
    SELECT d.doc_id, d.lang, d.n_chars, c.similarity
    FROM cand c JOIN documents d ON d.doc_id = c.vec_id
    ORDER BY c.similarity DESC, d.doc_id ASC
    LIMIT 20
    """,
)
def ann_candidate_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's two-phase retrieval: ANN top-2k ids+scores, then
    relational fetch of the rows, similarity order restored via the score
    carried through the join (reference: sqlite_local.py:555-640 +
    _reorder_by_faiss). In Spark the tiny candidate set broadcasts and
    the score is just a column — no reorder hack. Over-fetch factor 2
    (40 -> final 20) preserved."""
    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents")
    qlit = F.array(*[F.lit(float(x)) for x in QUERY_VEC])
    cand = (
        emb.select(
            "vec_id", _r6(cosine_similarity("embedding", qlit)).alias("similarity")
        )
        .orderBy(F.desc("similarity"), F.asc("vec_id"))
        .limit(40)
    )
    return (
        docs.join(F.broadcast(cand), docs.doc_id == cand.vec_id)
        .select("doc_id", "lang", "n_chars", "similarity")
        .orderBy(F.desc("similarity"), F.asc("doc_id"))
        .limit(20)
    )


