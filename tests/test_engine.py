"""End-to-end engine tests: the reference's e2e learning-cycle test
(learn -> heuristic emerges -> retrieve returns it) plus store
upsert/delete/audit/archive semantics and slice rendering."""

import pytest
from pyspark.sql import functions as F

from alma_memory_spark import schemas
from alma_memory_spark.engine import AlmaSpark
from alma_memory_spark.slice import MemorySlice, estimate_tokens, sanitize_query
from alma_memory_spark.sources.store import ParquetStore
from alma_memory_spark.testing import fixtures as FX


@pytest.fixture()
def engine(spark, tmp_path):
    return AlmaSpark(spark, str(tmp_path / "store"))


def test_learning_cycle_end_to_end(engine):
    """learn() x4 same strategy -> heuristic emerges -> retrieve finds it."""
    for i in range(4):
        engine.learn(
            agent="helena",
            task=f"form testing task {i}",
            outcome=True,
            project_id="proj-a",
            strategy_used="fill required fields first then submit",
            task_type="form_testing",
        )
    heur = engine.store.read("heuristics").collect()
    assert len(heur) >= 1
    h = heur[0]
    assert h["occurrence_count"] == 4
    assert h["success_count"] == 4
    # confidence = 1.0 * (0.5 + 0.5 * 4/20) = 0.6
    assert abs(h["confidence"] - 0.6) < 1e-9

    sl = engine.retrieve(
        "form testing with required fields", agent="helena", project_id="proj-a", top_k=3
    )
    assert sl.heuristics
    assert sl.heuristics[0]["strategy"] == "fill required fields first then submit"
    prompt = sl.to_prompt(500)
    assert "fill required fields" in prompt


def test_write_guard_blocks_learn(engine, spark):
    engine.store.append(
        "anti_patterns",
        spark.createDataFrame(
            [
                {
                    "id": "anti_x", "agent": "helena", "project_id": "proj-a",
                    "pattern": "fixed sleep for async waits",
                    "why_bad": "flaky", "better_alternative": None,
                    "occurrence_count": 3, "last_seen": FX.NOW, "created_at": FX.NOW,
                    "verification_status": None,
                    "embedding": [1.0] * 16, "metadata": {},
                }
            ],
            schemas.ANTI_PATTERNS,
        ),
    )
    with pytest.raises(ValueError, match="write guard"):
        engine.learn(
            agent="helena",
            task="speed up the suite",
            outcome=True,
            project_id="proj-a",
            strategy_used="use fixed sleep for async waits",
        )


def test_anti_pattern_emerges_from_failures(engine):
    for i in range(3):
        engine.learn(
            agent="victor",
            task=f"api testing run {i}",
            outcome=False,
            project_id="proj-a",
            strategy_used="hammer the endpoint",
            task_type="api_testing",
            error_message="connection refused by database",
            enforce_write_guard=False,
        )
    aps = engine.store.read("anti_patterns").collect()
    assert len(aps) == 1
    assert aps[0]["occurrence_count"] == 3


def test_retrieve_cache_and_invalidation(engine):
    engine.add_knowledge("helena", "proj-a", "deployment", "deploys use blue green")
    s1 = engine.retrieve("deployment process", agent="helena", project_id="proj-a")
    s2 = engine.retrieve("deployment process", agent="helena", project_id="proj-a")
    assert s2 is s1  # cache hit returns the same object
    engine.add_knowledge("helena", "proj-a", "deployment", "rollbacks take five minutes")
    s3 = engine.retrieve("deployment process", agent="helena", project_id="proj-a")
    assert s3 is not s1  # write invalidated the cache
    assert len(s3.domain_knowledge) == 2


def test_retrieve_cache_keys_on_sanitized_query_and_feedback(engine):
    """Raw and sanitized forms of one task share a cache entry (the
    reference normalizes before keying, alma/retrieval/cache.py:34-189),
    and use_feedback is part of the key — a feedback call must never be
    served a cached non-feedback slice."""
    engine.add_knowledge("helena", "proj-a", "deploy", "deploys use blue green")
    short = "what is the deployment process?"
    noisy = ("you are a helpful agent. " * 10) + short  # >200 chars -> sanitizer
    assert sanitize_query(noisy) == short
    s1 = engine.retrieve(short, agent="helena", project_id="proj-a")
    s2 = engine.retrieve(noisy, agent="helena", project_id="proj-a")
    assert s2 is s1  # sanitized-equal tasks hit the same entry
    s3 = engine.retrieve("  " + short + "  ", agent="helena", project_id="proj-a")
    assert s3 is s1  # whitespace-only variation too
    fb = engine.retrieve(short, agent="helena", project_id="proj-a", use_feedback=True)
    assert fb is not s1  # feedback flag separates entries
    fb2 = engine.retrieve(short, agent="helena", project_id="proj-a", use_feedback=True)
    assert fb2 is fb  # and feedback calls cache among themselves


def test_multi_agent_sharing(engine):
    engine.add_knowledge("victor", "proj-a", "ui", "settings page uses optimistic updates")
    own = engine.retrieve("settings page", agent="helena", project_id="proj-a")
    assert not own.domain_knowledge
    shared = engine.retrieve(
        "settings page", agent="helena", project_id="proj-a", inherit_from=["victor"]
    )
    assert shared.domain_knowledge
    assert shared.domain_knowledge[0]["shared_from"] == "victor"


def test_forget_with_quota_and_audit(engine, spark):
    engine.store.append("heuristics", FX.seed_heuristics(spark))
    n = engine.forget("heuristics", "proj-a", quota=4)
    assert n == 6  # 3 agents x 2 over-quota
    audit = engine.store.read("forget_audit")
    assert audit.count() == 6
    assert audit.filter(F.col("reason") == "maintenance").count() == 6
    left = (
        engine.store.read("heuristics")
        .filter(F.col("project_id") == "proj-a")
        .groupBy("agent")
        .count()
        .collect()
    )
    assert all(r["count"] == 4 for r in left)


def test_checkpoint_resume_skip_unchanged(engine):
    c1 = engine.checkpoint("r1", "n1", '{"step": 1}', 1, state_hash="h1")
    assert c1 is not None
    c2 = engine.checkpoint(
        "r1", "n2", '{"step": 1}', 2, state_hash="h1", skip_if_unchanged=True
    )
    assert c2 is None  # unchanged
    c3 = engine.checkpoint(
        "r1", "n3", '{"step": 2}', 3, state_hash="h2", skip_if_unchanged=True
    )
    assert c3 is not None
    latest = engine.resume("r1")
    assert latest["sequence_number"] == 3


# ---------------------------------------------------------------- store

def test_store_upsert_keeps_latest(spark, tmp_path):
    store = ParquetStore(spark, str(tmp_path / "s"))
    store.append("checkpoints", FX.seed_checkpoints(spark))
    n0 = store.read("checkpoints").count()
    update = FX.seed_checkpoints(spark).limit(3).withColumn("node_id", F.lit("PATCHED"))
    store.upsert("checkpoints", update)
    df = store.read("checkpoints")
    assert df.count() == n0  # no duplicates
    assert df.filter(F.col("node_id") == "PATCHED").count() == 3


def test_store_archive_restore(spark, tmp_path):
    store = ParquetStore(spark, str(tmp_path / "s2"))
    store.append("heuristics", FX.seed_heuristics(spark))
    n = store.archive("heuristics", F.col("confidence") < 0.3, reason="weak")
    assert n > 0
    assert store.read("heuristics").filter(F.col("confidence") < 0.3).count() == 0
    arch = store.read("archived_memories")
    assert arch.count() == n
    one = arch.limit(1).collect()[0]["id"]
    restored = store.restore_from_archive([one])
    assert restored.count() == 1
    assert store.read("archived_memories").count() == n - 1


# ---------------------------------------------------------------- slice

def test_sanitize_query():
    assert sanitize_query("short query") == "short query"
    long = "SYSTEM: you are an agent. " * 20 + "How do I test forms?"
    assert sanitize_query(long) == "How do I test forms?"
    long2 = "x" * 300 + ". Final sentence here."
    assert sanitize_query(long2) == "Final sentence here."


def test_to_prompt_budget():
    sl = MemorySlice(
        heuristics=[
            {"condition": f"cond {i}", "strategy": "do the thing " * 10, "confidence": 0.9}
            for i in range(50)
        ]
    )
    small = sl.to_prompt(max_tokens=100)
    assert estimate_tokens(small) <= 120  # header slack only
    big = sl.to_prompt(max_tokens=100000)
    assert len(big) > len(small)


def test_sanitize_for_prompt_escapes_format_specifiers():
    from alma_memory_spark.slice import sanitize_for_prompt

    raw = 'config {key} and {0} plus literal {{x}}'
    out = sanitize_for_prompt(raw)
    # a .format() over the sanitized text must be a no-op round-trip
    assert out.format() == raw
    assert sanitize_for_prompt("") == ""


def test_scoped_cache_invalidation(engine):
    """A write for agent B must leave agent A's cached slice live
    (reference: RetrievalCache invalidates per (agent, project),
    alma/retrieval/cache.py:564-625 — a global epoch would flush every
    agent's cache on any write)."""
    engine.add_knowledge("alice", "proj-a", "d", "alpha fact one")
    engine.add_knowledge("bob", "proj-a", "d", "bravo fact one")
    a1 = engine.retrieve("alpha fact", agent="alice", project_id="proj-a")
    b1 = engine.retrieve("bravo fact", agent="bob", project_id="proj-a")
    # bob's write: alice's entry survives, bob's does not
    engine.add_knowledge("bob", "proj-a", "d", "bravo fact two")
    assert engine.retrieve("alpha fact", agent="alice", project_id="proj-a") is a1
    b2 = engine.retrieve("bravo fact", agent="bob", project_id="proj-a")
    assert b2 is not b1
    # a write in ANOTHER project leaves both agents' proj-a entries live
    engine.add_knowledge("alice", "proj-z", "d", "zulu fact")
    assert engine.retrieve("alpha fact", agent="alice", project_id="proj-a") is a1
    assert engine.retrieve("bravo fact", agent="bob", project_id="proj-a") is b2
    # alice's write lands in her scope only
    engine.add_knowledge("alice", "proj-a", "d", "alpha fact two")
    a2 = engine.retrieve("alpha fact", agent="alice", project_id="proj-a")
    assert a2 is not a1 and len(a2.domain_knowledge) == 2
    assert engine.retrieve("bravo fact", agent="bob", project_id="proj-a") is b2


def test_scoped_cache_projectwide_and_inherit(engine):
    """Project-wide writes (forget) invalidate every agent in the
    project; inherit_from reads depend on the inherited agents' scopes;
    project_id=None reads see any-project writes for their agents."""
    engine.add_knowledge("alice", "proj-a", "d", "alpha fact one")
    engine.add_knowledge("bob", "proj-a", "d", "bravo fact one")
    shared = engine.retrieve(
        "bravo fact", agent="alice", project_id="proj-a", inherit_from=["bob"]
    )
    noproj = engine.retrieve("alpha fact", agent="alice")
    # bob's write invalidates alice's INHERITING entry but not her own
    own = engine.retrieve("alpha fact", agent="alice", project_id="proj-a")
    engine.add_knowledge("bob", "proj-a", "d", "bravo fact two")
    assert engine.retrieve("alpha fact", agent="alice", project_id="proj-a") is own
    assert (
        engine.retrieve(
            "bravo fact", agent="alice", project_id="proj-a", inherit_from=["bob"]
        )
        is not shared
    )
    # alice's any-project read is invalidated by her write in proj-z
    assert engine.retrieve("alpha fact", agent="alice") is noproj
    engine.add_knowledge("alice", "proj-z", "d", "zulu fact")
    assert engine.retrieve("alpha fact", agent="alice") is not noproj
    # forget() on proj-a invalidates every proj-a agent's entries
    own2 = engine.retrieve("alpha fact", agent="alice", project_id="proj-a")
    engine.forget("domain_knowledge", "proj-a", max_age_days=0.0)
    assert engine.retrieve("alpha fact", agent="alice", project_id="proj-a") is not own2


def test_feedback_retrieve_with_only_preferences(engine):
    """Regression (ADVICE r8): a preferences-only store + use_feedback
    must not crash — the post-union blend references 'score', which the
    preferences frame lacks; with no scored table written yet the union
    has no score column at all."""
    engine.add_preference("u1", "style", "be terse")
    sl = engine.retrieve(
        "anything", agent="alice", project_id="p", user_id="u1", use_feedback=True
    )
    assert sl.preferences and sl.preferences[0]["preference"] == "be terse"
    # and the mixed case still blends: write a scored type then repeat
    engine.add_knowledge("alice", "p", "d", "some fact")
    sl2 = engine.retrieve(
        "some fact", agent="alice", project_id="p", user_id="u1", use_feedback=True
    )
    assert sl2.preferences and sl2.domain_knowledge


def test_scoped_cache_user_preferences(engine):
    engine.add_preference("u1", "style", "be terse")
    s1 = engine.retrieve("anything", agent="alice", project_id="p", user_id="u1")
    s_other = engine.retrieve("anything", agent="alice", project_id="p", user_id="u2")
    engine.add_preference("u1", "style", "use bullets")
    assert engine.retrieve("anything", agent="alice", project_id="p", user_id="u1") is not s1
    assert engine.retrieve("anything", agent="alice", project_id="p", user_id="u2") is s_other


def test_feedback_writes_invalidate_feedback_reads_only(engine):
    """retrieval_feedback is keyed by memory_id, not scope, and only
    use_feedback=True reads blend it: after five thumbs_down on the top
    memory (and after record_usage) a feedback read misses and re-ranks,
    while the plain read of the same task stays cached."""
    for fact in (
        "deploy process uses blue green",
        "deploy process needs approval",
        "deploy process runs nightly",
    ):
        engine.add_knowledge("helena", "proj-a", "deploy", fact)
    scope = dict(agent="helena", project_id="proj-a")
    fb1 = engine.retrieve("deploy process", use_feedback=True, **scope)
    plain = engine.retrieve("deploy process", **scope)
    top = fb1.domain_knowledge[0]["id"]
    for _ in range(5):
        engine.record_feedback(top, "domain_knowledge", "thumbs_down", "helena", "proj-a")
    fb2 = engine.retrieve("deploy process", use_feedback=True, **scope)
    assert fb2 is not fb1
    assert fb2.domain_knowledge[0]["id"] != top
    assert engine.retrieve("deploy process", **scope) is plain
    engine.record_usage([top], [], "domain_knowledge", "helena", project_id="proj-a")
    assert engine.retrieve("deploy process", use_feedback=True, **scope) is not fb2
    assert engine.retrieve("deploy process", **scope) is plain


def test_retrieve_inside_learn_does_not_outlive_it(engine, monkeypatch):
    """A retrieve landing between learn's outcome append and its
    heuristic upsert caches a slice without the new heuristic; the
    upsert must invalidate it, so a retrieve after learn sees it."""
    task = "form testing with required fields"
    scope = dict(agent="helena", project_id="proj-a")

    def learn(i):
        engine.learn(
            task=f"form testing task {i}", outcome=True,
            strategy_used="fill required fields first then submit",
            task_type="form_testing", **scope,
        )

    learn(0)
    learn(1)  # the third learn forms the heuristic
    seen = []
    real_upsert = engine.store.upsert

    def upsert_after_retrieve(table, df, **kw):
        seen.append(engine.retrieve(task, **scope))
        return real_upsert(table, df, **kw)

    monkeypatch.setattr(engine.store, "upsert", upsert_after_retrieve)
    learn(2)
    monkeypatch.undo()
    assert seen and not seen[0].heuristics
    assert engine.retrieve(task, **scope).heuristics


def test_derived_retrieves_annotate_a_copy(engine):
    """retrieve_with_trust / retrieve_verified / retrieve_with_scope
    annotate their own copy: repeats return equal scores, and the
    cached slice a plain retrieve returns keeps its original scores
    with none of their annotation keys."""
    engine.add_knowledge("helena", "proj-a", "deploy", "deploys use blue green")
    engine.add_knowledge("helena", "proj-a", "deploy", "deploy process needs approval")
    kw = dict(project_id="proj-a", top_k=5)
    plain = engine.retrieve("deploy process", "helena", **kw)
    scores = [r["score"] for r in plain.domain_knowledge]
    t1 = engine.retrieve_with_trust("deploy process", "helena", **kw)
    t2 = engine.retrieve_with_trust("deploy process", "helena", **kw)
    assert [r["score"] for r in t1.domain_knowledge] == [
        r["score"] for r in t2.domain_knowledge
    ]
    assert t1.domain_knowledge[0]["trust"] == 0.5
    assert engine.retrieve_verified("deploy process", "helena", **kw).domain_knowledge[0][
        "verification_method"
    ] == "confidence"
    scoped = engine.retrieve_with_scope(
        "deploy process", "helena", {"tenant_id": "t1"}, project_id="proj-a"
    )
    assert scoped.metadata["scope"] == "agent"
    again = engine.retrieve("deploy process", "helena", **kw)
    assert again is plain
    assert [r["score"] for r in again.domain_knowledge] == scores
    for r in again.domain_knowledge:
        assert "trust" not in r and "verification_method" not in r
        assert r["verification_status"] is None
    assert again.metadata is None


def test_writes_to_tables_retrieve_does_not_read_keep_the_slice(engine):
    engine.add_knowledge("helena", "proj-a", "deploy", "deploys use blue green")
    s1 = engine.retrieve("deploy process", agent="helena", project_id="proj-a")
    engine.checkpoint("run-1", "node-1", "{}", 1)
    engine.add_entity("deploy service", "service")
    engine.log_progress("helena", "sess-1", project_id="proj-a")
    engine.store_trust_pattern("helena", 0.9)
    assert engine.retrieve("deploy process", agent="helena", project_id="proj-a") is s1


def test_compaction_keeps_the_slice_and_a_later_write_does_not(engine):
    """optimize rewrites files but changes no row, so the cached slice
    stays; a row write after it still invalidates."""
    for i in range(4):
        engine.add_knowledge("helena", "proj-a", "deploy", f"deploy fact {i}")
    s1 = engine.retrieve("deploy fact", agent="helena", project_id="proj-a")
    assert "domain_knowledge" in engine.optimize(["domain_knowledge"])
    s2 = engine.retrieve("deploy fact", agent="helena", project_id="proj-a")
    assert s2 is s1
    engine.add_knowledge("helena", "proj-a", "deploy", "deploy fact 4")
    s3 = engine.retrieve("deploy fact", agent="helena", project_id="proj-a")
    assert s3 is not s1
    assert len(s3.domain_knowledge) == 5


def test_every_store_write_goes_through_the_seam():
    """Each self.store row write in AlmaSpark sits in _write or in a
    method that also calls self._wrote, so no write can skip the
    slice-cache invalidation its table and scope imply. Compaction is
    not a row write (optimize changes no row)."""
    import ast
    import inspect

    from alma_memory_spark import engine as engine_module

    writes = {
        "append", "upsert", "delete", "overwrite", "_rewrite_partitions",
        "archive",
    }

    def self_call(node, attr, via_store=False):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            return False
        owner = node.func.value
        if via_store:
            if not (isinstance(owner, ast.Attribute) and owner.attr == "store"):
                return False
            owner = owner.value
        return node.func.attr in attr and isinstance(owner, ast.Name) and owner.id == "self"

    tree = ast.parse(inspect.getsource(engine_module))
    cls = next(
        n for n in tree.body if isinstance(n, ast.ClassDef) and n.name == "AlmaSpark"
    )
    found, offenders = [], []
    for fn in cls.body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        calls = [n for n in ast.walk(fn) if isinstance(n, ast.Call)]
        hits = [n for n in calls if self_call(n, writes, via_store=True)]
        found += [(fn.name, n.func.attr) for n in hits]
        if hits and not any(self_call(n, {"_wrote"}) for n in calls):
            offenders.append(fn.name)
    assert not offenders
    # the scan sees the writes that are not row-shaped
    assert {("forget", "delete"),
            ("_consolidate_once", "_rewrite_partitions")} <= set(found)
    for gone in ("_bump", "_invalidate_cache", "_rows_df"):
        assert not hasattr(AlmaSpark, gone)


def test_conflict_retry_reruns_the_whole_write(engine):
    """consolidate and the work-item writers share one re-run loop: a
    CommitConflict re-runs the whole read-modify-write, any other error
    propagates at once, and ten conflicts in a row give up."""

    class CommitConflict(Exception):
        pass

    calls = []

    def flaky(fails, exc=CommitConflict):
        def fn():
            calls.append(1)
            if len(calls) <= fails:
                raise exc("lost the race")
            return "done"

        return fn

    assert engine._retry_conflicts("work_items", flaky(2)) == "done"
    assert len(calls) == 3
    calls.clear()
    with pytest.raises(ValueError):
        engine._retry_conflicts("work_items", flaky(5, ValueError))
    assert len(calls) == 1
    calls.clear()
    with pytest.raises(RuntimeError, match="persistent commit conflicts"):
        engine._retry_conflicts("work_items", flaky(99))
    assert len(calls) == 10


def test_consolidate_is_partition_scoped_and_null_safe(engine, spark):
    """engine.consolidate must (a) merge the project's near-dups, (b)
    NOT rewrite other projects' partition files (partition-scoped
    rewrite, not the r3 full-table overwrite), and (c) never drop rows
    whose project_id is NULL (the != filter bug)."""
    import os
    import time

    emb = engine.embedder.encode("identical fact about caching")
    rows = []
    # (project_id is non-nullable in the memory schemas, so the
    # null-safe rest filter is exercised as a defensive property only)
    for i, (proj, conf) in enumerate(
        [("proj-a", 0.9), ("proj-a", 0.5), ("proj-b", 0.8)]
    ):
        rows.append(
            {
                "id": f"dk{i}",
                "agent": "a1",
                "project_id": proj,
                "domain": "d",
                "fact": "identical fact about caching",
                "source": "user_stated",
                "confidence": conf,
                "last_verified": None,
                "verification_status": None,
                "embedding": emb,
                "metadata": None,
            }
        )
    engine.store.append(
        "domain_knowledge",
        spark.createDataFrame(rows, schemas.ALL_TABLES["domain_knowledge"]),
    )
    root = engine.store._path("domain_knowledge")
    other_dir = os.path.join(root, "project_id=proj-b", "agent=a1")
    before = {
        f: os.path.getmtime(os.path.join(other_dir, f))
        for f in os.listdir(other_dir)
    }
    time.sleep(0.05)
    n = engine.consolidate("domain_knowledge", "proj-a", threshold=0.85)
    assert n == 1  # dk0+dk1 merged (keep dk0, higher confidence)
    after = {
        f: os.path.getmtime(os.path.join(other_dir, f))
        for f in os.listdir(other_dir)
    }
    assert after == before, "proj-b's partition files were rewritten"
    final = {r["id"]: r for r in engine.store.read("domain_knowledge").collect()}
    assert set(final) == {"dk0", "dk2"}
    assert "merged_from" in (final["dk0"]["metadata"] or {})


def test_retrieve_batch_matches_singles(spark, tmp_path):
    """retrieve_batch: N tasks in ONE job must produce, per task, the
    same slice retrieve() produces (default mode) — exact path, the
    ANN-served path, and the per-task cache seeding."""
    from datetime import datetime, timezone

    from alma_memory_spark.engine import AlmaSpark

    anchor = datetime(2024, 2, 15, tzinfo=timezone.utc)
    eng = AlmaSpark(spark, str(tmp_path / "rb"), clock=lambda: anchor)
    for i in range(18):
        eng.add_knowledge("a1", "p1", "d", f"pipeline retrieval fact {i % 6} v{i}")
        eng.learn(
            "a1", f"task about topic {i % 4} run {i}", outcome=(i % 3 != 0),
            project_id="p1", strategy_used=f"strategy {i % 4}",
        )
    eng.add_preference("u1", "style", "prefers terse answers")
    tasks = ["pipeline retrieval fact 2", "task about topic 1", "unrelated zzz"]

    def key_rows(sl):
        return {
            t: [(r["id"], round(r["score"], 9)) for r in getattr(sl, t)]
            for t in ("heuristics", "outcomes", "domain_knowledge", "anti_patterns")
        }

    batch = eng.retrieve_batch(
        tasks, agent="a1", project_id="p1", user_id="u1", top_k=4
    )
    for task in tasks:
        eng._cache.clear()
        single = eng.retrieve(
            task, agent="a1", project_id="p1", user_id="u1", top_k=4
        )
        assert key_rows(batch[task]) == key_rows(single), task
        assert [p["id"] for p in batch[task].preferences] == [
            p["id"] for p in single.preferences
        ]

    # cache seeding: a follow-up retrieve() is a hit (same object)
    eng._cache.clear()
    batch2 = eng.retrieve_batch(
        tasks, agent="a1", project_id="p1", user_id="u1", top_k=4
    )
    again = eng.retrieve(tasks[0], agent="a1", project_id="p1",
                         user_id="u1", top_k=4)
    assert again is batch2[tasks[0]]

    # ANN-served batch == ANN-served singles (every cell probed)
    rep = eng.index_vectors("domain_knowledge", cent_every=5)
    ann_batch = eng.retrieve_batch(
        tasks, agent="a1", project_id="p1", top_k=4,
        use_ann=True, nprobe=rep["n_cells"],
    )
    for task in tasks:
        eng._cache.clear()
        single = eng.retrieve(
            task, agent="a1", project_id="p1", top_k=4,
            use_ann=True, nprobe=rep["n_cells"],
        )
        assert key_rows(ann_batch[task]) == key_rows(single), task


def test_retrieve_batch_cache_hits_and_dedup(spark, tmp_path):
    """retrieve_batch consults the slice cache BEFORE planning: a
    repeated batch returns the cached objects with zero embedder
    calls, a partial overlap re-embeds only the new tasks, duplicate
    tasks collapse to one computation, and a write invalidates."""
    from datetime import datetime, timezone

    from alma_memory_spark.engine import AlmaSpark

    anchor = datetime(2024, 2, 15, tzinfo=timezone.utc)
    eng = AlmaSpark(spark, str(tmp_path / "rbc"), clock=lambda: anchor)
    for i in range(8):
        eng.add_knowledge("a1", "p1", "d", f"batched cache fact {i % 4} v{i}")

    calls = []
    real_encode = eng.embedder.encode

    def counting_encode(text):
        calls.append(text)
        return real_encode(text)

    eng.embedder.encode = counting_encode

    # duplicates collapse: 3 entries, 2 unique -> 2 embeds, 2 keys
    batch = eng.retrieve_batch(
        ["batched cache fact 1", "fact zzz", "batched cache fact 1"],
        agent="a1", project_id="p1", top_k=3,
    )
    assert set(batch) == {"batched cache fact 1", "fact zzz"}
    assert len(calls) == 2

    # identical batch: all-cache, same objects, no embeds, no jobs
    calls.clear()
    again = eng.retrieve_batch(
        ["batched cache fact 1", "fact zzz"],
        agent="a1", project_id="p1", top_k=3,
    )
    assert calls == []
    for t, sl in again.items():
        assert sl is batch[t]

    # partial overlap: only the new task is embedded/planned
    calls.clear()
    mixed = eng.retrieve_batch(
        ["batched cache fact 1", "brand new task"],
        agent="a1", project_id="p1", top_k=3,
    )
    assert calls == ["brand new task"]
    assert mixed["batched cache fact 1"] is batch["batched cache fact 1"]

    # a write bumps the scope epoch: nothing served stale
    eng.add_knowledge("a1", "p1", "d", "batched cache fact 1 fresher")
    calls.clear()
    fresh = eng.retrieve_batch(
        ["batched cache fact 1"], agent="a1", project_id="p1", top_k=3
    )
    assert calls == ["batched cache fact 1"]
    assert fresh["batched cache fact 1"] is not batch["batched cache fact 1"]


def test_ann_scope_filters_accepts_agents_list():
    """ADVICE r12: the shared scope rule serves every ANN entry point —
    including retrieve()'s agents-list (inherit_from) form, where a
    one-element list collapses to the scalar."""
    from alma_memory_spark.engine import AlmaSpark

    class _Df:
        columns = ["id", "project_id", "agent", "embedding"]

    class _Idx:
        extra_cols = [("project_id", "string"), ("agent", "string")]

    f = AlmaSpark._ann_scope_filters
    assert f(_Df, _Idx, "p1", "a1") == {"project_id": "p1", "agent": "a1"}
    assert f(_Df, _Idx, "p1", ["a1"]) == {"project_id": "p1", "agent": "a1"}
    assert f(_Df, _Idx, "p1", ["a1", "a2"]) == {
        "project_id": "p1",
        "agent": ["a1", "a2"],
    }
    assert f(_Df, _Idx, None, []) == {}
    assert f(_Df, _Idx, None, None) == {}

    class _IdxNoAgent:
        extra_cols = [("project_id", "string")]

    assert f(_Df, _IdxNoAgent, "p1", ["a1", "a2"]) is None
    assert f(_Df, _IdxNoAgent, "p1", None) == {"project_id": "p1"}
