"""Parity of the learning kernel (one grouped Arrow pass per block) with
the JVM: the expected similarity edges come from Spark evaluating
functions/vector.cosine_similarity over a blocked self-join, the expected
components from a plain graph walk here, so the JVM fold stays the
reference for every edge case the kernel re-implements."""

import math
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from alma_memory_spark import schemas
from alma_memory_spark.engine import AlmaSpark
from alma_memory_spark.functions.vector import cosine_similarity
from alma_memory_spark.operators.learning import (
    cluster_by_similarity,
    extract_anti_patterns,
    extract_heuristics,
)

OLD = datetime(1600, 1, 1, tzinfo=timezone.utc)  # before pandas' ns range
LATE = datetime(2300, 6, 1, tzinfo=timezone.utc)  # after it
ROWS = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("project_id", T.StringType()),
        T.StructField("agent", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def _at(deg):
    r = math.radians(deg)
    return [math.cos(r), math.sin(r), 0.0, 0.0, 0.0]


EMBEDDING_CASES = [
    # "10" and "9": cosine exactly 0.75 (6/8); string order != numeric order
    ("10", "c", [1.0, 0.0, 0.0, 0.0, 0.0]),
    ("9", "c", [6.0, 4.0, 2.0, 2.0, 2.0]),
    # chain: 0°~35°~70°, but 0° and 70° are not similar
    ("c1", "a", _at(0.5)),
    ("c2", "a", _at(35.0)),
    ("c3", "a", _at(70.0)),
    ("null", "a", None),
    ("short", "a", [1.0, 0.0, 0.0]),  # mismatched dimension
    ("zero", "a", [0.0] * 5),
    ("nullelem", "a", [1.0, None, 0.0, 0.0, 0.0]),
    # a NaN element compares as similar to every same-dim nonzero row
    ("nan", "b", [float("nan"), 1.0, 0.0, 0.0, 0.0]),
    ("b1", "b", [1.0, 0.0, 0.0, 0.0, 0.0]),
    ("b2", "b", [0.0, 0.0, 1.0, 0.0, 0.0]),
    ("b3", "b", [0.0, 0.0, 0.0]),
    (None, "b", [1.0, 0.0, 0.0, 0.0, 0.0]),  # a null id links nothing
]


def _jvm_edges(df, keys, threshold):
    a = df.select(*keys, F.col("id").alias("ia"), F.col("embedding").alias("ea"))
    b = df.select(*keys, F.col("id").alias("ib"), F.col("embedding").alias("eb"))
    pairs = a.join(b, keys).filter(
        (F.col("ia") < F.col("ib")) & (cosine_similarity("ea", "eb") >= threshold)
    )
    return {(r["ia"], r["ib"]) for r in pairs.collect()}


def _components(ids, edges):
    """id -> string-min id of its connected component."""
    adj = {i: set() for i in ids}
    for x, y in edges:
        adj[x].add(y)
        adj[y].add(x)
    label = {}
    for start in sorted(adj):
        if start in label:
            continue
        seen, todo = {start}, [start]
        while todo:
            for nxt in adj[todo.pop()] - seen:
                seen.add(nxt)
                todo.append(nxt)
        for node in seen:
            label[node] = min(seen)
    return label


@pytest.mark.parametrize("threshold", [0.75, 0.0])
def test_cluster_by_similarity_matches_jvm_cosine(spark, threshold):
    df = spark.createDataFrame(
        [(i, "p", agent, e) for i, agent, e in EMBEDDING_CASES], ROWS
    )
    edges = _jvm_edges(df, ["project_id", "agent"], threshold)
    if threshold == 0.75:  # the cases mean what they say
        assert {("10", "9"), ("c1", "c2"), ("c2", "c3")} <= edges
        assert ("c1", "c3") not in edges
        assert {("b1", "nan"), ("b2", "nan")} <= edges
        assert not {e for e in edges if {"null", "short", "zero", "nullelem"} & set(e)}
    expected = _components([i for i, _, _ in EMBEDDING_CASES if i is not None], edges)
    got = {
        r["id"]: r["cluster_id"]
        for r in cluster_by_similarity(df, ["project_id", "agent"], threshold=threshold)
        .select("id", "cluster_id")
        .collect()
    }
    assert got == {**expected, None: None}
    if threshold == 0.75:
        assert got["9"] == "10" and got["c3"] == "c1"


def _outcome(i, success=True, strategy="s", error=None, ts=OLD, emb=None, agent="a"):
    return {
        "id": f"o{i}", "agent": agent, "project_id": "p", "task_type": "tt",
        "task_description": f"task {i}", "success": success,
        "strategy_used": strategy, "duration_ms": 1, "error_message": error,
        "user_feedback": None, "timestamp": ts, "verification_status": None,
        "embedding": emb if emb is not None else [1.0, 0.0], "metadata": {},
    }


def _micros(df, *cols):
    return df.select(*[F.unix_micros(c).alias(c) for c in cols]).collect()


def test_heuristic_over_transitive_chain_and_far_timestamps(spark):
    """A~B~C with A!~C forms one 3-row cluster; the representative is the
    min strategy and the timestamps span 1600..2300 exactly."""
    rows = [
        _outcome(1, strategy="s b", emb=_at(0.5)[:2], ts=LATE),
        _outcome(2, strategy="s a", emb=_at(35.0)[:2], ts=OLD),
        _outcome(3, strategy="s c", emb=_at(70.0)[:2], ts=LATE),
    ]
    df = spark.createDataFrame(rows, schemas.OUTCOMES)
    out = extract_heuristics(df)
    (h,) = out.collect()
    assert (h["occurrence_count"], h["success_count"], h["strategy"]) == (3, 3, "s a")
    assert h["confidence"] == 1.0 * (0.5 + 0.5 * min(3 / 20.0, 1.0))
    assert [tuple(r) for r in _micros(out, "created_at", "last_validated")] == [
        (int(OLD.timestamp() * 1e6), int(LATE.timestamp() * 1e6))
    ]
    assert [f.name for f in out.schema] == [
        "project_id", "agent", "task_type", "occurrence_count", "success_count",
        "success_rate", "confidence", "strategy", "last_validated", "created_at",
        "condition", "id",
    ]


def test_anti_patterns_containment_chain_and_text_cases(spark):
    rows = [
        # "timeout" ⊂ "timeout waiting for selector" ⊃ "selector", but
        # "timeout" and "selector" do not contain each other
        _outcome(1, False, "zz", "Timeout", ts=LATE),
        _outcome(2, False, None, "timeout waiting for  SELECTOR", ts=OLD),
        _outcome(3, False, "ab", " selector", ts=LATE),
        # a null success is not a failure: not counted
        _outcome(4, None, "aa", "timeout"),
        # non-ASCII and mixed whitespace normalise in the JVM first
        _outcome(5, False, "u1", "Ünïcode\t FAILURE  here"),
        _outcome(6, False, "u2", "ünïcode failure"),
        _outcome(7, False, "x", "unrelated"),
    ]
    df = spark.createDataFrame(rows, schemas.OUTCOMES)
    out = extract_anti_patterns(df, min_failures=2)
    got = sorted(
        (r["occurrence_count"], r["pattern"], r["why_bad"]) for r in out.collect()
    )
    assert got == [(2, "u1", "ünïcode failure"), (3, "ab", "timeout")]
    stamps = {
        (r["created_at"], r["last_seen"])
        for r in _micros(out.filter(F.col("why_bad") == "timeout"), "created_at", "last_seen")
    }
    assert stamps == {(int(OLD.timestamp() * 1e6), int(LATE.timestamp() * 1e6))}


def _learn(eng, agent, project, task_type, i, strategy):
    eng.learn(agent=agent, task=f"{task_type} task {i}", outcome=True,
              project_id=project, strategy_used=strategy, task_type=task_type)


def test_success_learn_job_count(spark, tmp_path):
    """A success learn in a scope that already holds a heuristic runs at
    most 11 Spark jobs (17 with the self-join extractor, the id-join
    write guard and the guarded append), so the join chain cannot creep
    back unnoticed."""
    eng = AlmaSpark(spark, str(tmp_path / "s"),
                    clock=lambda: datetime(2024, 2, 15, tzinfo=timezone.utc))
    for i in range(3):
        _learn(eng, "a", "p", "tt", i, "same steady strategy")
    assert eng.store.read("heuristics").count() == 1
    sc = spark.sparkContext
    sc.setJobGroup("one-learn", "one success learn")
    try:
        _learn(eng, "a", "p", "tt", 3, "same steady strategy")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("one-learn")
    assert 0 < len(jobs) <= 11, len(jobs)


def test_batch_extraction_matches_inline_learns(spark, tmp_path):
    """extract_heuristics_batch over three scopes writes the same
    heuristic rows as the per-scope inline learns did."""
    clock = lambda: datetime(2024, 2, 15, tzinfo=timezone.utc)  # noqa: E731
    inline = AlmaSpark(spark, str(tmp_path / "inline"), clock=clock)
    for agent, project, tt in (("a", "p1", "t1"), ("b", "p1", "t1"), ("a", "p2", "t2")):
        for i in range(3):
            _learn(inline, agent, project, tt, i, f"steady {tt} plan")
    batch = AlmaSpark(spark, str(tmp_path / "batch"), clock=clock)
    batch.store.append("outcomes", inline.store.read("outcomes"))
    assert batch.extract_heuristics_batch() == 3

    def rows(eng):
        return sorted(map(repr, eng.store.read("heuristics").drop("metadata").collect()))

    assert rows(batch) == rows(inline)
