"""Unit tests for lifecycle, feedback, trust, fusion, MMR, workflow,
graph, and consolidation operators — literal expected values mirroring
the reference's unit-test strategy."""

import math
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from alma_memory_spark import schemas
from alma_memory_spark.embedding import hash_embed
from alma_memory_spark.operators.consolidation import consolidate
from alma_memory_spark.operators.feedback import apply_feedback_blend, feedback_summary
from alma_memory_spark.operators.fusion import rrf_fuse
from alma_memory_spark.operators.lifecycle import select_over_quota, with_strength
from alma_memory_spark.operators.mmr import mmr_rerank
from alma_memory_spark.operators.trust import trust_aware_score, with_trust
from alma_memory_spark.operators.workflow import (
    latest_checkpoints,
    merge_checkpoint_states,
    merge_states,
)
from alma_memory_spark.operators.graph import k_hop_neighbors, relationships_as_of
from alma_memory_spark.testing import fixtures as FX

NOW = FX.NOW


# ---------------------------------------------------------------- feedback

def test_feedback_summary_score(spark):
    rows = [
        ("f1", "m1", "heuristics", None, "a", "p", "used", NOW),
        ("f2", "m1", "heuristics", None, "a", "p", "thumbs_up", NOW),
        ("f3", "m1", "heuristics", None, "a", "p", "thumbs_down", NOW),
        ("f4", "m1", "heuristics", None, "a", "p", "ignored", NOW),
        ("f5", "m2", "heuristics", None, "a", "p", "thumbs_down", NOW),
    ]
    df = spark.createDataFrame(rows, schemas.RETRIEVAL_FEEDBACK)
    out = {r["memory_id"]: r for r in feedback_summary(df).collect()}
    # m1: pos=2 (used+thumbs_up), neg=1, total=4 -> (2-1)/4 = 0.25
    assert abs(out["m1"]["feedback_score"] - 0.25) < 1e-9
    assert out["m1"]["used_count"] == 1 and out["m1"]["ignored_count"] == 1
    assert abs(out["m2"]["feedback_score"] - (-1.0)) < 1e-9


def test_feedback_blend(spark):
    scored = spark.createDataFrame(
        [("m1", 0.8), ("m3", 0.6)], "id string, score double"
    )
    summary = spark.createDataFrame(
        [("m1", "heuristics", 4, 1, 1, 2, 1, 0.25)],
        "memory_id string, memory_type string, total long, used_count long, "
        "ignored_count long, positive long, negative long, feedback_score double",
    )
    out = {r["id"]: r["score"] for r in apply_feedback_blend(scored, summary).collect()}
    # m1: 0.85*0.8 + 0.15*(0.25+1)/2 = 0.68 + 0.09375 = 0.77375
    assert abs(out["m1"] - 0.77375) < 1e-9
    assert abs(out["m3"] - 0.6) < 1e-9  # no feedback -> unchanged


# ---------------------------------------------------------------- trust

def test_trust_formula(spark):
    profiles = FX.seed_trust(spark)
    out = {r["agent"]: r["trust"] for r in with_trust(profiles, NOW).collect()}
    # helena: base = 0.4*0.9 + 0.4*0.8 + 0.1 = 0.78; fresh -> decay 1.0
    # (floor applies at >=0.5); streak bonus min(7*0.02, 0.1) = 0.1 -> 0.88
    assert abs(out["helena"] - 0.88) < 1e-9
    # victor: base = 0.4*0.4 + 0.4*0.5 + 0.1 = 0.46; 60d -> decay
    # e^(-.693*2) = 0.2500 -> floored to 0.5 -> 0.23; no streak
    assert abs(out["victor"] - 0.46 * 0.5) < 1e-6


def test_trust_aware_score(spark):
    profiles = FX.seed_trust(spark)
    scored = spark.createDataFrame(
        [("m1", "helena", 1.0, 1.0, 1.0, 1.0)],
        "id string, agent string, sim_score double, recency_score double, "
        "success_score double, confidence_score double",
    )
    out = trust_aware_score(scored, profiles, NOW).collect()[0]
    # .35 + .25 + .15 + .10 + .15*0.88 = 0.982
    assert abs(out["score"] - 0.982) < 1e-9


# ---------------------------------------------------------------- fusion / mmr

def test_rrf_fuse_values(spark):
    v = spark.createDataFrame([("a", 0.9), ("b", 0.8)], "id string, similarity double")
    t = spark.createDataFrame([("b", 5.0), ("c", 4.0)], "id string, text_score double")
    out = {r["id"]: r["rrf_score"] for r in rrf_fuse(v, t).collect()}
    assert abs(out["a"] - 0.5 / 61) < 1e-9
    assert abs(out["b"] - (0.5 / 62 + 0.5 / 61)) < 1e-9
    assert abs(out["c"] - 0.5 / 62) < 1e-9
    # b ranks first: present in both lists
    assert max(out, key=out.get) == "b"


def test_mmr_diversifies():
    rows = [
        {"id": "a", "score": 0.9, "sim_score": 0.9},
        {"id": "b", "score": 0.89, "sim_score": 0.9},  # near-dup of a
        {"id": "c", "score": 0.5, "sim_score": 0.1},  # diverse
    ]
    out = mmr_rerank(rows, diversity_factor=0.8, top_k=2)
    assert [r["id"] for r in out] == ["a", "c"]
    out_norel = mmr_rerank(rows, diversity_factor=0.0, top_k=2)
    assert [r["id"] for r in out_norel] == ["a", "b"]


# ---------------------------------------------------------------- lifecycle

def test_quota_select(spark):
    h = FX.seed_heuristics(spark)
    over = select_over_quota(h, "heuristics", 4)
    per_group = (
        over.groupBy("project_id", "agent").count().collect()
    )
    for r in per_group:
        assert r["count"] == 2  # 6 seeded per (project, agent), quota 4
    kept = h.join(over.select("id"), "id", "left_anti")
    mins = (
        kept.groupBy("project_id", "agent").agg(F.min("confidence").alias("mn")).collect()
    )
    maxs = over.groupBy("project_id", "agent").agg(F.max("confidence").alias("mx")).collect()
    mn = {(r["project_id"], r["agent"]): r["mn"] for r in mins}
    for r in maxs:
        assert r["mx"] <= mn[(r["project_id"], r["agent"])]


def test_strength_bands(spark):
    # importance 1.0 -> factor 1.0, so bands depend on base decay alone:
    # 1d -> 0.977 active, 45d -> 0.354 weak, 80d -> 0.158 stale,
    # 150d -> 0.031 forgotten (reference formula, decay.py:76-126)
    rows = [
        ("m1", "heuristics", "p", "a", 1.0, 30, NOW - timedelta(days=200),
         NOW - timedelta(days=1), 0, 1.0, []),
        ("m2", "heuristics", "p", "a", 1.0, 30, NOW - timedelta(days=200),
         NOW - timedelta(days=45), 0, 1.0, []),
        ("m3", "heuristics", "p", "a", 1.0, 30, NOW - timedelta(days=200),
         NOW - timedelta(days=80), 0, 1.0, []),
        ("m4", "heuristics", "p", "a", 1.0, 30, NOW - timedelta(days=200),
         NOW - timedelta(days=150), 0, 1.0, []),
    ]
    df = spark.createDataFrame(rows, schemas.MEMORY_STRENGTH)
    out = {r["memory_id"]: r["band"] for r in with_strength(df, NOW).collect()}
    assert out == {"m1": "active", "m2": "weak", "m3": "stale", "m4": "forgotten"}
    # NULL importance coalesces to 0.5 (never NULL->0.0): 1-day-old row
    # must stay out of the forgotten band
    null_imp = spark.createDataFrame(
        [("m5", "heuristics", "p", "a", 1.0, 30, NOW - timedelta(days=200),
          NOW - timedelta(days=1), 0, None, [])],
        schemas.MEMORY_STRENGTH,
    )
    r5 = with_strength(null_imp, NOW).collect()[0]
    assert r5["band"] == "active" and abs(r5["strength"] - 0.7329) < 1e-3


# ---------------------------------------------------------------- workflow

def test_latest_checkpoint_per_branch(spark):
    cps = FX.seed_checkpoints(spark)
    out = latest_checkpoints(cps).collect()
    key = {(r["run_id"], r["branch_id"]): r["sequence_number"] for r in out}
    assert key == {("run-1", None): 5, ("run-2", "b1"): 5, ("run-2", "b2"): 5}


def test_merge_states_reducers():
    states = [
        {"step": 3, "items": ["a"], "n": 10, "tags": ["x", "y"]},
        {"step": 5, "items": ["b"], "n": 7, "tags": ["y", "z"]},
    ]
    out = merge_states(
        states,
        {"items": "append", "n": "sum", "tags": "union", "step": "max"},
    )
    assert out == {"step": 5, "items": ["a", "b"], "n": 17, "tags": ["x", "y", "z"]}
    # default last_value
    assert merge_states(states)["step"] == 5


def test_merge_checkpoint_states(spark):
    cps = FX.seed_checkpoints(spark)
    out = merge_checkpoint_states(
        cps, ["run-2"], {"items": "append", "n": "sum"}
    )
    assert out["n"] == 100  # 50 (b1 seq5) + 50 (b2 seq5)
    assert out["items"] == ["i5", "i5"]


# ---------------------------------------------------------------- graph

def test_k_hop_traversal(spark):
    _, rels = FX.seed_graph(spark)
    hops = {
        r["id"]: r["hop"]
        for r in k_hop_neighbors(rels, ["e0"], max_hops=2, at=NOW).collect()
    }
    # at NOW, edge r6 (e0-e5, open interval) is valid; r5 expired
    assert hops["e1"] == 1 and hops["e5"] == 1
    assert hops["e2"] == 2 and hops["e4"] == 2
    assert "e3" not in hops  # 3 hops away
    hops3 = {
        r["id"]: r["hop"]
        for r in k_hop_neighbors(rels, ["e0"], max_hops=3, at=NOW).collect()
    }
    assert "e3" in hops3  # strict superset at 3 hops


def test_as_of_semantics(spark):
    _, rels = FX.seed_graph(spark)
    # 70 days ago: r5 (valid 100..50 days ago) active, r6 not yet, r7 active
    at = NOW - timedelta(days=70)
    ids = {r["id"] for r in relationships_as_of(rels, at).collect()}
    assert "r5" in ids and "r6" not in ids and "r7" in ids
    # both-null edges always valid
    assert "r0" in ids
    # now: r5 expired, r6 active, r7 (valid_to 40 days ago) expired
    ids_now = {r["id"] for r in relationships_as_of(rels, NOW).collect()}
    assert "r6" in ids_now and "r5" not in ids_now and "r7" not in ids_now


# ---------------------------------------------------------------- consolidation

def test_consolidate_merges_near_duplicates(spark):
    base = {
        "agent": "a", "project_id": "p", "condition": "c",
        "occurrence_count": 2, "success_count": 1,
        "last_validated": NOW, "created_at": NOW,
        "verification_status": None, "metadata": {},
    }
    rows = [
        {**base, "id": "h1", "strategy": "use explicit waits always",
         "confidence": 0.9, "embedding": hash_embed("use explicit waits always", 16)},
        {**base, "id": "h2", "strategy": "always use explicit waits",
         "confidence": 0.7, "embedding": hash_embed("always use explicit waits", 16)},
        {**base, "id": "h3", "strategy": "something entirely different here",
         "confidence": 0.5, "embedding": hash_embed("something entirely different here", 16)},
    ]
    df = spark.createDataFrame(rows, schemas.HEURISTICS)
    survivors, merged = consolidate(df, threshold=0.85)
    s_ids = {r["id"] for r in survivors.select("id").collect()}
    m = merged.collect()
    assert s_ids == {"h3"}
    assert len(m) == 1
    row = m[0]
    assert row["id"] == "h1"  # highest confidence wins
    assert row["occurrence_count"] == 4  # 2 + 2
    assert row["metadata"]["merged_from"] == "h2"


def test_bpe_token_count_matches_pretokenizer(spark):
    from alma_memory_spark.functions import text as X

    df = spark.createDataFrame(
        [("hello  world42, ok!",), ("",), ("df.groupBy('k').agg(F.sum)",)],
        "t string",
    )
    got = [r[0] for r in df.select(X.bpe_token_count("t")).collect()]
    # 'hello',' world','42',',',' ok','!' / none / code splits on punct runs
    assert got[0] == 6
    assert got[1] == 0
    assert got[2] > 6  # punctuation-heavy code yields more tokens than words


def test_winnowing_shared_substring_guarantee(spark):
    """Winnowing property (SIGMOD 2003): two documents sharing a
    substring of length >= k + w - 1 MUST share at least one
    fingerprint. Exercised through the real Spark shingle-hash
    expressions + the same numpy window-min kernel the gate uses."""
    import numpy as np
    from numpy.lib.stride_tricks import sliding_window_view

    from alma_memory_spark.functions import text as X

    shared = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [
            ("a", f"completely unrelated prefix alpha {shared} suffix one"),
            ("b", f"different beginning text here {shared} other ending"),
            ("c", "no overlap with anything else at all in this row"),
        ],
        "id string, text string",
    )
    rows = {
        r["id"]: X.rolling_shingle_hashes(r["nm"].encode("ascii"))
        for r in df.select("id", X.winnow_norm("text").alias("nm")).collect()
    }

    def winnow(a):
        w = X.WINNOW_W
        mins = sliding_window_view(a, w).min(axis=1) if len(a) >= w else a.min(
            keepdims=True
        )
        return set(np.unique(mins).tolist())

    fa, fb, fc = winnow(rows["a"]), winnow(rows["b"]), winnow(rows["c"])
    assert fa & fb, "docs sharing a long substring must share a fingerprint"
    assert not (fa & fc) or len(fa & fc) < len(fa & fb)
