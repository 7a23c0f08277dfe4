"""Distributed text relevance: TF-IDF (reference-exact) and BM25.

Reference (alma/retrieval/text_search.py): SimpleTFIDFProvider —
whitespace-lowercase tokenizer, idf = ln((n+1)/(df+1)) + 1, tf
normalized by doc length, cosine between query and full doc tf-idf
vectors (:61-124); BM25 via the optional bm25s lib with TFIDF fallback.
Here BM25 is implemented directly (Robertson-Sparck Jones Okapi BM25,
public formula) — no optional dependency, same DataFrame contract.

Shape: explode -> (doc, term) counts -> term df/idf (broadcast for the
query's terms) -> per-doc aggregations. Two map-side-combinable
shuffles; zero driver collects — corpus constants (N, avgdl, query
norm) ride broadcast one-row frames inside the one plan.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from alma_memory_spark.functions.text import ws_tokens

BM25_K1 = 1.5
BM25_B = 0.75


def _doc_terms(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    toks = docs.select(
        F.col(id_col).alias("_doc"), ws_tokens(text_col).alias("_toks")
    ).withColumn("_dl", F.size("_toks"))
    return toks.select(
        "_doc", "_dl", F.explode("_toks").alias("term")
    ).groupBy("_doc", "_dl", "term").agg(F.count("*").alias("tf"))


def tfidf_scores(
    docs: DataFrame, query: str, id_col: str = "id", text_col: str = "text"
) -> DataFrame:
    """Reference-exact TF-IDF cosine scores for `query` over a corpus.
    Returns (id, tfidf_score) for docs with score > 0.

    One declarative plan, zero driver collects: corpus size and the
    query norm each ride a broadcast one-row frame. (A dot > 0 row
    implies some qw > 0, hence qn > 0 — the zero-query-norm early
    return the collect form needed is subsumed by the filter.)"""
    qtoks = query.lower().split()
    if not qtoks:
        return docs.sparkSession.createDataFrame([], f"{id_col} string, tfidf_score double")
    terms = _doc_terms(docs, id_col, text_col)
    ndocs = docs.agg(F.count("*").cast("double").alias("n_docs"))
    df_ = terms.groupBy("term").agg(F.countDistinct("_doc").alias("df"))
    idf = (
        df_.crossJoin(F.broadcast(ndocs))
        .withColumn("idf", F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0)
        .select("term", "idf")
    )
    # NEGATIVE RESULT (r15, VERDICT r14 #9): materializing the narrow
    # (term, idf) aggregate once (lazy localCheckpoint) to serve its 4
    # plan references measured a LOSS — +25% process-group CPU and
    # slower walls at sf0.1 AND a 16x corpus (numbers and method at the
    # twin site in plans/text_queries.tfidf_scores_df). ReuseExchange
    # already dedups the identical df_ shuffle inside one execution;
    # do not re-add a manual share here without a new measurement.

    qtf: dict[str, float] = {}
    for t in qtoks:
        qtf[t] = qtf.get(t, 0.0) + 1.0 / len(qtoks)
    qdf = docs.sparkSession.createDataFrame(
        [(t, w) for t, w in qtf.items()], "term string, qtf double"
    )
    qvec = qdf.join(idf, "term", "left").select(
        "term", (F.col("qtf") * F.coalesce(F.col("idf"), F.lit(0.0))).alias("qw")
    )
    qnorm = qvec.agg(F.sqrt(F.sum(F.col("qw") * F.col("qw"))).alias("qn"))

    w = terms.join(idf, "term").select(
        "_doc", "term", (F.col("tf") / F.col("_dl") * F.col("idf")).alias("w")
    )
    dnorm = w.groupBy("_doc").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("dn"))
    dots = (
        w.join(F.broadcast(qvec), "term")
        .groupBy("_doc")
        .agg(F.sum(F.col("w") * F.col("qw")).alias("dot"))
    )
    return (
        dots.join(dnorm, "_doc")
        .crossJoin(F.broadcast(qnorm))
        .filter(F.col("dot") > 0)
        .select(
            F.col("_doc").alias(id_col),
            (F.col("dot") / (F.col("qn") * F.col("dn"))).alias("tfidf_score"),
        )
    )


def bm25_scores(
    docs: DataFrame,
    query: str,
    id_col: str = "id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Okapi BM25: score(q, d) = sum over q-terms of
    idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)),
    idf(t) = ln((N - df + 0.5)/(df + 0.5) + 1). Returns (id, bm25_score).

    Corpus stats (N, avgdl) ride a broadcast one-row frame instead of a
    driver collect, so the whole score is ONE declarative plan; the term
    explode is filtered to the query's terms before any shuffle, so the
    two aggregations (per-doc tf, per-term df) only touch matching
    postings."""
    qterms = sorted(set(query.lower().split()))
    if not qterms:
        return docs.sparkSession.createDataFrame([], f"{id_col} string, bm25_score double")
    toks = docs.select(
        F.col(id_col).alias("_doc"), ws_tokens(text_col).alias("_toks")
    ).withColumn("_dl", F.size("_toks"))
    stats = toks.agg(
        F.count("*").cast("double").alias("n"),
        F.coalesce(F.avg("_dl"), F.lit(1.0)).alias("avgdl"),
    )
    hits = (
        toks.select("_doc", "_dl", F.explode("_toks").alias("term"))
        .filter(F.col("term").isin(qterms))
        .groupBy("_doc", "_dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    idf = (
        hits.groupBy("term")
        .agg(F.countDistinct("_doc").alias("df"))
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            "avgdl",
            F.log(
                (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
            ).alias("idf"),
        )
    )
    contrib = F.col("idf") * (
        F.col("tf") * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("_dl") / F.col("avgdl")))
    )
    return (
        hits.join(F.broadcast(idf), "term")
        .withColumn("_c", contrib)
        .groupBy("_doc")
        .agg(F.sum("_c").alias("bm25_score"))
        .select(F.col("_doc").alias(id_col), "bm25_score")
    )


def bm25_reference_check(
    corpus: list[str], query: str, k1: float = BM25_K1, b: float = BM25_B
) -> list[tuple[int, float]]:
    """Driver-side BM25 for oracle tests (same formula, pure Python)."""
    toks = [d.lower().split() for d in corpus]
    n = len(corpus)
    avgdl = sum(len(t) for t in toks) / max(n, 1)
    out = []
    for i, dt in enumerate(toks):
        score = 0.0
        for t in sorted(set(query.lower().split())):
            tf = dt.count(t)
            if tf == 0:
                continue
            df = sum(1 for d in toks if t in d)
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            score += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(dt) / avgdl))
        if score > 0:
            out.append((i, score))
    return sorted(out, key=lambda x: -x[1])
