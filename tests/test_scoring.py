"""Formula unit tests with literal expected values (mirrors the
reference's tests/unit/test_scoring.py strategy: hand-computed
expectations for the composite scorer and decay)."""

import math
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from alma_memory_spark import schemas
from alma_memory_spark.embedding import hash_embed
from alma_memory_spark.functions.temporal import recency_score, strength_decay
from alma_memory_spark.operators.retrieval import (
    MODES,
    ScoringWeights,
    apply_mode_boosts,
    infer_mode,
    score_memories,
    threshold_topk,
    vector_candidates,
)

NOW = datetime(2024, 6, 1, tzinfo=timezone.utc)


def _days_ago(d):
    return NOW - timedelta(days=d)


def _with_similarity(schema):
    """COPY of a table schema plus a similarity column. StructType.add
    MUTATES in place (and returns self), so calling .add on the shared
    schemas.* globals silently polluted every later test's seeds with a
    NULL similarity column — caught by the r11 compiled-SQL serving
    path, which (unlike withColumn's replace semantics) refuses
    reserved-column collisions."""
    from pyspark.sql import types as T

    return T.StructType(list(schema.fields) + [T.StructField("similarity", T.DoubleType())])


def test_weights_normalize():
    w = ScoringWeights(0.8, 0.6, 0.4, 0.2)  # sums to 2.0
    assert abs(w.similarity - 0.4) < 1e-9
    assert abs(w.recency - 0.3) < 1e-9
    assert abs(w.success_rate - 0.2) < 1e-9
    assert abs(w.confidence - 0.1) < 1e-9


def test_recency_half_life(spark):
    df = spark.createDataFrame(
        [("a", _days_ago(0)), ("b", _days_ago(30)), ("c", _days_ago(60))],
        "id string, ts timestamp",
    )
    out = {
        r["id"]: r["rec"]
        for r in df.select("id", recency_score("ts", NOW, 30.0).alias("rec")).collect()
    }
    assert abs(out["a"] - 1.0) < 1e-9
    assert abs(out["b"] - 0.5) < 1e-9
    assert abs(out["c"] - 0.25) < 1e-9


def test_outcome_composite_score_literal(spark):
    # success outcome, 30 days old, sim 0.8:
    # 0.4*0.8 + 0.3*0.5 + 0.2*1.0 + 0.1*1.0 = 0.77
    # failure outcome, 0 days old, sim 0.5:
    # 0.4*0.5 + 0.3*1.0 + 0.2*0.3 + 0.1*1.0 = 0.66
    rows = [
        {
            "id": "o1", "agent": "a", "project_id": "p", "task_type": "t",
            "task_description": "x", "success": True, "strategy_used": "s",
            "duration_ms": 1, "error_message": None, "user_feedback": None,
            "timestamp": _days_ago(30), "verification_status": None,
            "embedding": [1.0, 0.0], "metadata": {}, "similarity": 0.8,
        },
        {
            "id": "o2", "agent": "a", "project_id": "p", "task_type": "t",
            "task_description": "y", "success": False, "strategy_used": "s",
            "duration_ms": 1, "error_message": "e", "user_feedback": None,
            "timestamp": _days_ago(0), "verification_status": None,
            "embedding": [1.0, 0.0], "metadata": {}, "similarity": 0.5,
        },
    ]
    schema = _with_similarity(schemas.OUTCOMES)
    df = spark.createDataFrame(rows, schema)
    out = {r["id"]: r["score"] for r in score_memories(df, "outcomes", NOW).collect()}
    assert abs(out["o1"] - 0.77) < 1e-9
    assert abs(out["o2"] - 0.66) < 1e-9


def test_heuristic_and_antipattern_conventions(spark):
    hrows = [
        {
            "id": "h1", "agent": "a", "project_id": "p",
            "condition": "c", "strategy": "s", "confidence": 0.6,
            "occurrence_count": 10, "success_count": 8,
            "last_validated": _days_ago(0), "created_at": _days_ago(10),
            "verification_status": None, "embedding": [1.0], "metadata": {},
            "similarity": 1.0,
        }
    ]
    hdf = spark.createDataFrame(hrows, _with_similarity(schemas.HEURISTICS))
    h = score_memories(hdf, "heuristics", NOW).collect()[0]
    # 0.4*1 + 0.3*1 + 0.2*0.8 + 0.1*0.6 = 0.92
    assert abs(h["score"] - 0.92) < 1e-9

    arows = [
        {
            "id": "ap1", "agent": "a", "project_id": "p", "pattern": "x",
            "why_bad": "y", "better_alternative": None, "occurrence_count": 25,
            "last_seen": _days_ago(0), "created_at": _days_ago(10),
            "verification_status": None, "embedding": [1.0], "metadata": {},
            "similarity": 1.0,
        }
    ]
    adf = spark.createDataFrame(arows, _with_similarity(schemas.ANTI_PATTERNS))
    ap = score_memories(adf, "anti_patterns", NOW).collect()[0]
    # success term capped at min(25/10, 1) = 1.0 -> 0.4+0.3+0.2+0.1 = 1.0
    assert abs(ap["score"] - 1.0) < 1e-9


def test_domain_knowledge_conventions_literal(spark):
    rows = [
        {
            "id": "dk1", "agent": "a", "project_id": "p", "domain": "d",
            "fact": "f", "source": "user_stated", "confidence": 0.25,
            "last_verified": _days_ago(30), "verification_status": None,
            "embedding": [1.0], "metadata": {}, "similarity": 0.5,
        }
    ]
    df = spark.createDataFrame(rows, _with_similarity(schemas.DOMAIN_KNOWLEDGE))
    r = score_memories(df, "domain_knowledge", NOW).collect()[0]
    # success is 1.0 for every fact; confidence comes from the column
    assert r["success_score"] == 1.0
    assert r["confidence_score"] == 0.25
    assert abs(r["recency_score"] - 0.5) < 1e-9
    # 0.4*0.5 + 0.3*0.5 + 0.2*1.0 + 0.1*0.25 = 0.575
    assert abs(r["score"] - 0.575) < 1e-9


def test_heuristic_without_occurrences_has_zero_success(spark):
    rows = [
        {
            "id": "h0", "agent": "a", "project_id": "p",
            "condition": "c", "strategy": "s", "confidence": 0.5,
            "occurrence_count": 0, "success_count": 0,
            "last_validated": _days_ago(0), "created_at": _days_ago(10),
            "verification_status": None, "embedding": [1.0], "metadata": {},
            "similarity": 1.0,
        }
    ]
    df = spark.createDataFrame(rows, _with_similarity(schemas.HEURISTICS))
    r = score_memories(df, "heuristics", NOW).collect()[0]
    assert r["success_score"] == 0.0
    # 0.4*1 + 0.3*1 + 0.2*0 + 0.1*0.5 = 0.75
    assert abs(r["score"] - 0.75) < 1e-9


def test_future_dated_row_recency_clamps_to_one(spark):
    rows = [
        {
            "id": "o_future", "agent": "a", "project_id": "p", "task_type": "t",
            "task_description": "x", "success": True, "strategy_used": "s",
            "duration_ms": 1, "error_message": None, "user_feedback": None,
            "timestamp": NOW + timedelta(days=10), "verification_status": None,
            "embedding": [1.0, 0.0], "metadata": {}, "similarity": 0.5,
        }
    ]
    df = spark.createDataFrame(rows, _with_similarity(schemas.OUTCOMES))
    r = score_memories(df, "outcomes", NOW).collect()[0]
    assert r["recency_score"] == 1.0
    # 0.4*0.5 + 0.3*1 + 0.2*1 + 0.1*1 = 0.8
    assert abs(r["score"] - 0.8) < 1e-9


def test_vector_candidates_order_and_rank(spark):
    q = hash_embed("target text about spark joins", 16)
    texts = ["target text about spark joins", "unrelated words entirely", "spark joins"]
    df = spark.createDataFrame(
        [(f"m{i}", hash_embed(t, 16)) for i, t in enumerate(texts)],
        "id string, embedding array<float>",
    )
    out = vector_candidates(df, q, 3).collect()
    assert out[0]["id"] == "m0"
    assert abs(out[0]["similarity"] - 1.0) < 1e-6
    assert [r["ann_rank"] for r in out] == [1, 2, 3]
    sims = [r["similarity"] for r in out]
    assert sims == sorted(sims, reverse=True)


def test_threshold_topk(spark):
    df = spark.createDataFrame(
        [("a", 0.9), ("b", 0.5), ("c", 0.19), ("d", 0.21)], "id string, score double"
    )
    out = threshold_topk(df, 2, 0.2).collect()
    assert [r["id"] for r in out] == ["a", "b"]


def test_mode_boosts_diagnostic_and_exact_match(spark):
    df = spark.createDataFrame(
        [("a", 0.4, True, 0.95), ("b", 0.4, False, 0.85), ("c", 0.4, False, 0.5)],
        "id string, score double, success boolean, sim_score double",
    )
    out = {
        r["id"]: r["score"]
        for r in apply_mode_boosts(df, MODES["diagnostic"]).collect()
    }
    # diagnostic: failures x1.5; exact boost B=1.5: sim>0.9 -> x1.5, sim>0.8 -> x1.25
    assert abs(out["a"] - 0.4 * 1.5) < 1e-9  # success, sim>0.9
    assert abs(out["b"] - 0.4 * 1.5 * 1.25) < 1e-9  # failure + sim>0.8
    assert abs(out["c"] - 0.4 * 1.5) < 1e-9  # failure only


def _ref_strength(days, half_life=30.0, access=0, importance=0.5, reinf=0):
    """Reference current_strength(), decay.py:76-126."""
    base = math.exp(-0.693 * days / half_life) if half_life > 0 else 1.0
    access_bonus = min(0.4, 0.1 * math.log1p(access))
    reinf_bonus = min(0.3, 0.1 * reinf)
    factor = 0.5 + 0.5 * importance
    return min(1.0, max(0.0, (base + access_bonus + reinf_bonus) * factor))


def test_strength_decay_literal(spark):
    df = spark.createDataFrame([("m", _days_ago(30))], "id string, last_accessed timestamp")
    out = df.select(
        strength_decay("last_accessed", NOW, 30.0, 1.0, 0, 0.0).alias("s")
    ).collect()[0]["s"]
    assert abs(out - _ref_strength(30, importance=0.0)) < 1e-6
    out2 = df.select(
        strength_decay("last_accessed", NOW, 30.0, 1.0, 10, 0.5).alias("s")
    ).collect()[0]["s"]
    assert abs(out2 - _ref_strength(30, access=10, importance=0.5)) < 1e-6
    # fresh memory at all-default inputs: reference gives 0.75, not 1.0
    fresh = spark.createDataFrame([("m", _days_ago(0))], "id string, last_accessed timestamp")
    out3 = fresh.select(strength_decay("last_accessed", NOW).alias("s")).collect()[0]["s"]
    assert abs(out3 - 0.75) < 1e-6


def test_strength_decay_null_importance(spark):
    """Regression: NULL explicit_importance must coalesce to the 0.5
    default, not propagate to NULL-then-0.0 (which inverted
    reinforcement and fed just-reinforced memories to forget)."""
    df = spark.createDataFrame(
        [("m", _days_ago(1), None)],
        "id string, last_accessed timestamp, explicit_importance double",
    )
    out = df.select(
        strength_decay(
            "last_accessed", NOW, 30.0, 1.0, 1, F.col("explicit_importance")
        ).alias("s")
    ).collect()[0]["s"]
    assert abs(out - _ref_strength(1, access=1, importance=0.5)) < 1e-6
    assert out > 0.5  # a just-accessed memory is never 'forgotten'


def test_strength_decay_caps_and_zero_half_life(spark):
    df = spark.createDataFrame([("m", _days_ago(10))], "id string, last_accessed timestamp")
    # access bonus caps at 0.4, reinforcement bonus at 0.3
    out = df.select(
        strength_decay("last_accessed", NOW, 30.0, 1.0, 10_000, 1.0, 99).alias("s")
    ).collect()[0]["s"]
    assert abs(out - _ref_strength(10, access=10_000, importance=1.0, reinf=99)) < 1e-6
    # half_life 0 -> no decay (decay.py:100-105)
    out2 = df.select(
        strength_decay("last_accessed", NOW, 0.0, 1.0, 0, 0.5).alias("s")
    ).collect()[0]["s"]
    assert abs(out2 - 0.75) < 1e-6


def test_infer_mode():
    assert infer_mode("fix the login bug error") == "diagnostic"
    assert infer_mode("plan the new design approach") == "broad"
    assert infer_mode("implement the api endpoint") == "precise"
    assert infer_mode("consolidate similar memories") == "learning"
    assert infer_mode("completely unrelated text") == "precise"


def test_cached_embedder_lru_and_batch_semantics():
    """EmbeddingCache parity (reference embeddings_optimized.py:24-209):
    md5-keyed LRU, batch encode hits the provider only for unique
    misses, stats/clear surface, identical vectors to the inner
    provider."""
    from alma_memory_spark.embedding import CachedEmbedder, HashEmbedder

    calls = []

    class Spy(HashEmbedder):
        def encode_batch(self, texts):
            calls.append(list(texts))
            return super().encode_batch(texts)

    ce = CachedEmbedder(Spy(), max_size=3)
    plain = HashEmbedder()

    out = ce.encode_batch(["a", "b", "a", "c"])
    assert out == plain.encode_batch(["a", "b", "a", "c"])
    assert calls == [["a", "b", "c"]]  # unique misses only, input order
    assert ce.get_stats()["hits"] == 1 and ce.get_stats()["misses"] == 3

    assert ce.encode("b") == plain.encode("b")
    assert calls == [["a", "b", "c"]]  # served from cache
    assert ce.get_stats()["hits"] == 2

    ce.encode("d")  # evicts the LRU entry ("a": c/b were touched later)
    assert ce.get_stats()["size"] == 3
    ce.encode("a")
    assert calls[-1] == ["a"]  # "a" was evicted, re-encoded

    ce.clear()
    assert ce.get_stats() == {
        "size": 0, "max_size": 3, "hits": 0, "misses": 0, "hit_rate_pct": 0,
    }
