"""SQL-compiled serving plan (operators/serving_sql.py, VERDICT r10 #1).

The contract under test: the compiled statement, the engine's one
serving path, is BIT-identical to a reference built from the DataFrame
operators (retrieval.retrieve_type, feedback.apply_feedback_blend and
the preferences read) for every retrieve() variant — full-precision
float equality, not rounded — under either parser mode and for scope
strings carrying quotes, backslashes or substitution tokens.
Staleness: templates/views are keyed on the store version stamp, so a
write is visible to the very next retrieve."""

from __future__ import annotations

from datetime import datetime, timezone
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from alma_memory_spark import schemas
from alma_memory_spark.engine import AlmaSpark
from alma_memory_spark.operators import retrieval as R
from alma_memory_spark.operators.feedback import (
    apply_feedback_blend,
    feedback_summary,
)
from alma_memory_spark.operators.mmr import mmr_rerank
from alma_memory_spark.slice import sanitize_query
from alma_memory_spark.testing import fixtures as FX

ANCHOR = datetime(2024, 6, 2, tzinfo=timezone.utc)


def _seed_prefs(spark):
    rows = [
        {
            "id": f"pref_{i:03d}",
            "user_id": "u1" if i % 2 else "u2",
            "category": "style",
            "preference": f"preference number {i}",
            "source": "explicit",
            "confidence": (i % 10) / 10.0,
            "timestamp": FX.NOW,
            "metadata": {},
        }
        for i in range(12)
    ]
    return spark.createDataFrame(rows, schemas.PREFERENCES)


@pytest.fixture()
def seeded(spark, tmp_path):
    from alma_memory_spark.embedding import HashEmbedder

    eng = AlmaSpark(
        spark,
        str(tmp_path / "store"),
        embedder=HashEmbedder(16),
        clock=lambda: ANCHOR,
    )
    eng.store.append("heuristics", FX.seed_heuristics(spark))
    eng.store.append("outcomes", FX.seed_outcomes(spark))
    eng.store.append("domain_knowledge", FX.seed_knowledge(spark))
    eng.store.append("anti_patterns", FX.seed_anti_patterns(spark))
    eng.store.append("preferences", _seed_prefs(spark))
    eng.store.append("retrieval_feedback", FX.seed_feedback(spark))
    return eng


def _slices_equal(a, b):
    """Full-precision comparison of two MemorySlice results."""
    for attr in (
        "heuristics",
        "outcomes",
        "preferences",
        "domain_knowledge",
        "anti_patterns",
    ):
        ra, rb = getattr(a, attr), getattr(b, attr)
        assert len(ra) == len(rb), (attr, len(ra), len(rb))
        for da, db in zip(ra, rb):
            assert set(da) == set(db), (attr, set(da) ^ set(db))
            for k in da:
                va, vb = da[k], db[k]
                if isinstance(va, list):
                    va, vb = list(va), list(vb)
                assert va == vb, (attr, k, va, vb)


_SCORED_TYPES = ["heuristics", "outcomes", "domain_knowledge", "anti_patterns"]


def _reference_type_rows(eng, t, qvec, fetch_k, min_score, weights, cfg,
                         project_id, agents, candidates, use_feedback):
    """One memory type's candidate rows from the DataFrame operators."""
    scored = R.retrieve_type(
        eng.store.read(t), t, eng._now(), qvec, top_k=fetch_k,
        project_id=project_id, agents=agents, min_score=min_score,
        weights=weights, mode=cfg, candidates=candidates,
    )
    if use_feedback:
        fb = feedback_summary(
            eng.store.read("retrieval_feedback", declared_schema=True)
        )
        scored = apply_feedback_blend(
            scored.withColumn("memory_type", F.lit(t)), fb,
            eng.feedback_weight, type_col="memory_type",
        ).drop("memory_type")
    rows = [r.asDict(recursive=True) for r in scored.collect()]
    rows.sort(key=lambda d: (-d["score"], d["ann_rank"]))
    return rows


def _reference_prefs(eng, user_id, k):
    if user_id is None:
        return []
    pdf = (
        eng.store.read("preferences")
        .filter(F.col("user_id") == user_id)
        .orderBy(F.desc("confidence"), F.asc("id"))
        .limit(k)
    )
    return [r.asDict(recursive=True) for r in pdf.collect()]


def _ann_candidates(eng, t, qvec, k, nprobe, project_id, agents):
    """The IVF probe the engine serves `t` from, or None (exact scan)."""
    if not eng._has_ivf_index(t):
        return None
    idx = eng._load_ivf(t)
    want = eng._ann_scope_filters(eng.store.read(t), idx, project_id, agents)
    if want is None:
        return None
    return idx.search(qvec, k=k, nprobe=nprobe, filters=want)


def _reference_slice(eng, task, agent, project_id=None, user_id=None,
                     top_k=None, mode=None, inherit_from=None,
                     use_feedback=False, use_ann=False, nprobe=8):
    """What retrieve() must return, from the DataFrame operators."""
    cfg = R.MODES.get(mode) if mode else None
    weights = cfg.weights if cfg else R.ScoringWeights()
    k = top_k if top_k is not None else (cfg.top_k if cfg else 5)
    min_score = 0.2 if cfg is None else (cfg.min_confidence or 0.0)
    diversity = cfg.diversity_factor if cfg else 0.0
    fetch_k = 3 * k if diversity > 0 else k
    qvec = eng.embedder.encode(sanitize_query(task))
    agents = [agent] + [a for a in (inherit_from or []) if a != agent]
    out = {t: [] for t in _SCORED_TYPES}
    for t in _SCORED_TYPES:
        if t == "anti_patterns" and cfg is not None and not cfg.include_anti_patterns:
            continue
        if not eng.store.exists(t):
            continue
        cands = (
            _ann_candidates(eng, t, qvec, 2 * fetch_k, nprobe, project_id, agents)
            if use_ann else None
        )
        rows = _reference_type_rows(
            eng, t, qvec, fetch_k, min_score, weights, cfg, project_id,
            agents, cands, use_feedback,
        )
        if diversity > 0:
            rows = mmr_rerank(rows, diversity, k)
        out[t] = rows[:k]
    return SimpleNamespace(preferences=_reference_prefs(eng, user_id, k), **out)


def _reference_batch(eng, tasks, agent, project_id=None, user_id=None,
                     top_k=None, use_ann=False, nprobe=8):
    """What retrieve_batch() must return per task: the default-mode
    reference slice, with ANN candidates from one IVFIndex.search_batch
    probe over all tasks (the batch probe the engine serves from)."""
    k = top_k if top_k is not None else 5
    qvecs = [eng.embedder.encode(sanitize_query(t)) for t in tasks]
    probes = {}
    for t in _SCORED_TYPES if use_ann else []:
        if eng.store.exists(t) and eng._has_ivf_index(t):
            idx = eng._load_ivf(t)
            want = eng._ann_scope_filters(eng.store.read(t), idx, project_id, agent)
            if want is not None:
                probes[t] = idx.search_batch(
                    [(str(i), v) for i, v in enumerate(qvecs)],
                    k=2 * k, nprobe=nprobe, filters=want,
                )
    prefs = _reference_prefs(eng, user_id, k)
    out = {}
    for i, (task, qvec) in enumerate(zip(tasks, qvecs)):
        rows = {}
        for t in _SCORED_TYPES:
            if not eng.store.exists(t):
                rows[t] = []
                continue
            cands = (
                probes[t].filter(F.col("qid") == str(i)).select("id", "similarity")
                if t in probes else None
            )
            rows[t] = _reference_type_rows(
                eng, t, qvec, k, 0.2, R.ScoringWeights(), None, project_id,
                [agent], cands, False,
            )[:k]
        out[task] = SimpleNamespace(preferences=prefs, **rows)
    return out


VARIANTS = [
    dict(task="validate schema before writing", agent="helena", project_id="proj-a"),
    dict(
        task="remember what did we deploy",
        agent="helena",
        project_id="proj-a",
        top_k=7,
        mode="recall",
    ),
    dict(
        task="error debugging broken test",
        agent="victor",
        project_id="proj-b",
        mode="diagnostic",
    ),
    dict(
        task="how to test forms",
        agent="helena",
        project_id="proj-a",
        use_feedback=True,
    ),
    dict(
        task="preferences and style",
        agent="helena",
        project_id="proj-a",
        user_id="u1",
    ),
    dict(
        task="shared memory read",
        agent="helena",
        project_id="proj-a",
        inherit_from=["victor"],
    ),
    dict(task="no project scope read", agent="senior_dev"),
    dict(
        task="plan design options broadly",
        agent="helena",
        project_id="proj-a",
        mode="broad",
    ),
]


def test_sql_path_bitwise_equals_df_path(seeded):
    """Every VARIANTS shape: the compiled statement's slice equals the
    DataFrame-operator reference at full precision, one template per
    shape."""
    for kw in VARIANTS:
        seeded._cache.clear()
        _slices_equal(seeded.retrieve(**kw), _reference_slice(seeded, **kw))
    assert len(seeded._srv_templates) == len(VARIANTS)


def test_sql_path_sees_fresh_writes(seeded, spark):
    sl1 = seeded.retrieve("authentication oauth tokens", agent="helena", project_id="proj-a")
    n1 = len(sl1.domain_knowledge)
    # append a new high-similarity fact and retrieve again: the stamp
    # bump must invalidate views + template and serve the new row
    from alma_memory_spark.embedding import hash_embed

    row = {
        "id": "dk_fresh",
        "agent": "helena",
        "project_id": "proj-a",
        "domain": "authentication",
        "fact": "authentication oauth tokens",
        "source": "user_stated",
        "confidence": 1.0,
        "last_verified": ANCHOR,
        "verification_status": None,
        "embedding": hash_embed("authentication oauth tokens", 16),
        "metadata": {},
    }
    seeded.store.append(
        "domain_knowledge", spark.createDataFrame([row], schemas.DOMAIN_KNOWLEDGE)
    )
    seeded._cache.clear()
    sl2 = seeded.retrieve("authentication oauth tokens", agent="helena", project_id="proj-a")
    ids = [r["id"] for r in sl2.domain_knowledge]
    assert "dk_fresh" in ids
    assert len(sl2.domain_knowledge) >= n1


def test_compiler_literals_roundtrip():
    from alma_memory_spark.operators import serving_sql as SS

    assert SS.double_literal(0.1) == "0.1D"
    assert SS.double_literal(1e-07) == "1e-07D"
    # plain values keep plain text; a quote, backslash or `@` moves the
    # value to a hex binary literal, exact under either parser mode
    assert SS.string_literal("proj-a") == "'proj-a'"
    assert SS.string_literal("o'brien") == "CAST(X'6F27627269656E' AS STRING)"
    # the python fold must equal the JVM's left-to-right double fold
    import math

    qv = [0.1, 0.2, 0.3]
    acc = 0.0
    for v in qv:
        acc += v * v
    assert SS.qv_norm(qv) == math.sqrt(acc)


@pytest.mark.parametrize("mode", ["false", "true"])
def test_string_literal_reads_back_exactly_in_both_parser_modes(spark, mode):
    """Every string the compiled statement embeds must read back as the
    same value under either spark.sql.parser.escapedStringLiterals
    setting: quotes, backslashes (a trailing one too), a substitution
    token, non-ASCII text and control characters."""
    from alma_memory_spark.operators import serving_sql as SS

    values = [
        "o'brien", "a\\b", "trailing\\", "x'y\\'z", "@QV@",
        "héllo wörld 日本", "\n\t", "plain-scope_1",
    ]
    spark.conf.set("spark.sql.parser.escapedStringLiterals", mode)
    try:
        for v in values:
            got = spark.sql("SELECT " + SS.string_literal(v)).collect()[0][0]
            assert got == v, (mode, v, got)
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", "false")


def test_now_epoch_matches_spark_cast(spark):
    """now_epoch_seconds must equal Cast(lit(ts) AS DOUBLE) exactly —
    the value Catalyst constant-folds in the DataFrame path."""
    from pyspark.sql import functions as F

    from alma_memory_spark.operators import serving_sql as SS

    for dt in [
        datetime(2024, 2, 15, tzinfo=timezone.utc),
        datetime(2031, 12, 31, 23, 59, 59, 123456, tzinfo=timezone.utc),
        datetime(1969, 7, 20, 20, 17, 40, 7, tzinfo=timezone.utc),
    ]:
        got = SS.now_epoch_seconds(dt)
        want = spark.range(1).select(F.lit(dt).cast("double")).collect()[0][0]
        assert got == want, (dt, got, want)


def test_unsupported_shapes_fall_back(seeded):
    """A shape no serving path can serve is refused at compile time."""
    from alma_memory_spark.operators import serving_sql as SS

    with pytest.raises(SS.ServingSQLUnsupported):
        SS.compile_serving_template(
            [], 5, 0.2, None, None, None, ("a",), prefs=None
        )


def test_batch_sql_path_bitwise_equals_df_path(seeded):
    """r11: retrieve_batch's compiled statement (qid-dimension VALUES
    bind) is bit-identical to the DataFrame-operator reference at full
    precision, including the preferences branch."""
    tasks = [
        "validate schema before writing rows",
        "mock the api layer and assert contracts",
        "remember the deployment switchover",
    ]
    seeded._cache.clear()
    a = seeded.retrieve_batch(tasks, agent="helena", project_id="proj-a",
                              user_id="u1", top_k=7)
    b = _reference_batch(seeded, tasks, agent="helena", project_id="proj-a",
                         user_id="u1", top_k=7)
    assert set(a) == set(b) == set(tasks)
    for t in tasks:
        _slices_equal(a[t], b[t])


def test_reserved_column_collision_falls_back(spark, tmp_path):
    """r11: a store table already exposing a pipeline-added column
    (e.g. `similarity` — seen in the wild via StructType.add's
    in-place-mutation footgun) must NOT produce an ambiguous compiled
    statement: the stored column stays out of the branch's projection
    and the computed one replaces it, as the DataFrame operators'
    withColumn does."""
    from pyspark.sql import types as T

    from alma_memory_spark.embedding import HashEmbedder, hash_embed

    schema = T.StructType(
        list(schemas.DOMAIN_KNOWLEDGE.fields)
        + [T.StructField("similarity", T.DoubleType())]
    )
    rows = [
        {
            "id": f"d{i}", "agent": "helena", "project_id": "p",
            "domain": "d", "fact": f"fact number {i}",
            "source": "user_stated", "confidence": 0.9,
            "last_verified": ANCHOR, "verification_status": None,
            "embedding": hash_embed(f"fact number {i}", 16),
            "metadata": {}, "similarity": 0.123,
        }
        for i in range(6)
    ]
    eng = AlmaSpark(
        spark, str(tmp_path / "store"), embedder=HashEmbedder(16),
        clock=lambda: ANCHOR,
    )
    eng.store.append("domain_knowledge", spark.createDataFrame(rows, schema))
    sl = eng.retrieve("fact number 3", agent="helena", project_id="p")
    assert sl.domain_knowledge
    assert len(eng._srv_templates) == 1
    assert all(r["similarity"] != 0.123 for r in sl.domain_knowledge)
    _slices_equal(
        sl, _reference_slice(eng, "fact number 3", agent="helena", project_id="p")
    )


# ---------------------------------------------------------------------------
# ANN serving through the SQL template (r12, VERDICT r11 #1)
# ---------------------------------------------------------------------------


def test_ann_sql_path_bitwise_equals_df_path(seeded):
    """retrieve(use_ann=True) with a scope-expressible IVF index now
    compiles: the probe stays on the index path and its candidate set
    binds as its candidate table. Mixed branch shapes (only
    domain_knowledge indexed; heuristics/outcomes/anti_patterns keep the
    exact cosine scan) must still be bit-identical to the DataFrame
    reference over the same probe, from one template (nprobe is bound
    per call)."""
    rep = seeded.index_vectors("domain_knowledge", cent_every=7)
    assert rep["indexed"]
    seeded._srv_templates.clear()
    for nprobe in (rep["n_cells"], 1):
        kw = dict(
            task="validate schema before writing", agent="helena",
            project_id="proj-a", top_k=6, use_ann=True, nprobe=nprobe,
        )
        seeded._cache.clear()
        _slices_equal(seeded.retrieve(**kw), _reference_slice(seeded, **kw))
    assert len(seeded._srv_templates) == 1


def test_ann_sql_empty_candidates_matches_df(seeded):
    """A scoped ANN probe that returns NO candidates binds as the
    empty candidate table — the inner join matches nothing, exactly
    the DataFrame reference's empty-join branch."""
    seeded.index_vectors("domain_knowledge", cent_every=7)
    kw = dict(
        task="anything at all", agent="ghost_agent", project_id="proj-a",
        use_ann=True, nprobe=2,
    )
    seeded._cache.clear()
    a = seeded.retrieve(**kw)
    assert a.domain_knowledge == []
    _slices_equal(a, _reference_slice(seeded, **kw))


def test_ann_batch_sql_path_bitwise_equals_df_path(seeded):
    """retrieve_batch(use_ann=True): the batch probe's (qid, id,
    similarity) candidates join in as one table; per-task slices
    bit-identical to the DataFrame reference over search_batch."""
    rep = seeded.index_vectors("domain_knowledge", cent_every=7)
    tasks = [
        "validate schema before writing rows",
        "mock the api layer and assert contracts",
        "remember the deployment switchover",
    ]
    seeded._cache.clear()
    seeded._srv_templates.clear()
    kw = dict(agent="helena", project_id="proj-a", top_k=6, use_ann=True,
              nprobe=rep["n_cells"])
    a = seeded.retrieve_batch(tasks, **kw)
    assert len(seeded._srv_templates) == 1
    b = _reference_batch(seeded, tasks, **kw)
    for t in tasks:
        _slices_equal(a[t], b[t])


def test_ann_batch_small_routes_to_sql_text_probe(seeded, monkeypatch):
    """r14 (VERDICT r13 #3): batches up to _ANN_BATCH_SQL_MAX must
    splice the probe as SQL TEXT — zero search_batch() frame
    construction, zero temp views. Pinned by making the DataFrame
    probe unreachable: search_batch raises, the retrieve must still be
    SQL-served. Past the threshold the view path is REQUIRED (arrow
    kernel wins at large batch) — pinned by dropping the threshold to
    0 and counting the register call."""
    from alma_memory_spark import engine as E
    from alma_memory_spark.operators.ann_index import IVFIndex

    rep = seeded.index_vectors("domain_knowledge", cent_every=7)
    tasks = ["probe text routing one", "probe text routing two"]
    seeded._cache.clear()
    seeded._srv_templates.clear()

    def boom(self, *a, **kw):
        raise AssertionError("search_batch frame built for a small batch")

    monkeypatch.setattr(IVFIndex, "search_batch", boom)
    out = seeded.retrieve_batch(
        tasks, agent="helena", project_id="proj-a", top_k=6,
        use_ann=True, nprobe=rep["n_cells"],
    )
    assert len(seeded._srv_templates) == 1
    assert out[tasks[0]] is not None
    monkeypatch.undo()

    # threshold 0: the view path must be taken (register called once
    # per ann branch)
    monkeypatch.setattr(E, "_ANN_BATCH_SQL_MAX", 0)
    calls = []
    orig = type(seeded)._register_cand_view

    def counting(self, table, cand_df):
        calls.append(table)
        return orig(self, table, cand_df)

    monkeypatch.setattr(type(seeded), "_register_cand_view", counting)
    seeded._cache.clear()
    out2 = seeded.retrieve_batch(
        tasks, agent="helena", project_id="proj-a", top_k=6,
        use_ann=True, nprobe=rep["n_cells"],
    )
    assert calls == ["domain_knowledge"]
    for t in tasks:
        _slices_equal(out[t], out2[t])


def _dk_row(rid, agent, project_id, fact):
    from alma_memory_spark.embedding import hash_embed

    return {
        "id": rid, "agent": agent, "project_id": project_id,
        "domain": "d", "fact": fact, "source": "user_stated",
        "confidence": 0.9, "last_verified": ANCHOR,
        "verification_status": None, "embedding": hash_embed(fact, 16),
        "metadata": {},
    }


def _append_dk(eng, *rows):
    eng.store.append(
        "domain_knowledge",
        eng.spark.createDataFrame(list(rows), schemas.DOMAIN_KNOWLEDGE),
    )


#: scope strings that stress the literal encoder: a quote, backslashes
#: (one trailing) and a quote-backslash pair
_AWKWARD_AGENT, _AWKWARD_PROJECT = "o'brien\\", "proj\\'x"


def test_token_collision_refuses_to_compile(seeded):
    """ADVICE r11: bind() does global token substitution, so a string
    value CONTAINING a token (here a project id with @NOWD@) must reach
    the statement untouched — string_literal hex-encodes any value with
    an `@` — and be served with the right rows. An identifier carrying
    a token is still refused at compile time."""
    from alma_memory_spark.operators import serving_sql as SS

    with pytest.raises(SS.ServingSQLUnsupported):
        SS.compile_serving_template(
            [SS.BranchInput("domain_knowledge", "v", ("id", "embedding", "x@NOWD@"), (("id", "string"), ("embedding", "array<float>"), ("x@NOWD@", "string")))],
            5, 0.2, None, None, "proj", ("a",),
        )
    _append_dk(seeded, _dk_row("tok1", "helena", "proj@NOWD@x", "token safety fact"))
    seeded._cache.clear()
    seeded._srv_templates.clear()
    sl = seeded.retrieve(
        "token safety fact", agent="helena", project_id="proj@NOWD@x",
    )
    assert len(seeded._srv_templates) == 1
    assert [r["id"] for r in sl.domain_knowledge] == ["tok1"]
    assert sl.heuristics == [] and sl.outcomes == []


def test_legacy_parser_mode_refuses_to_compile(seeded, spark):
    """ADVICE r11: under spark.sql.parser.escapedStringLiterals=true
    backslash escapes are not processed. The statement is still served
    (one template compiled) and its slices equal the default mode's,
    for an agent and project carrying quotes and backslashes."""
    _append_dk(seeded, _dk_row("awk1", _AWKWARD_AGENT, _AWKWARD_PROJECT, "legacy parser mode"))
    kw = dict(task="legacy parser mode", agent=_AWKWARD_AGENT,
              project_id=_AWKWARD_PROJECT)
    seeded._cache.clear()
    seeded._srv_templates.clear()
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        legacy = seeded.retrieve(**kw)
        assert len(seeded._srv_templates) == 1
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", "false")
    seeded._cache.clear()
    seeded._srv_templates.clear()
    default = seeded.retrieve(**kw)
    assert [r["id"] for r in default.domain_knowledge] == ["awk1"]
    _slices_equal(legacy, default)


def test_parser_mode_flip_after_template_cached(seeded, spark):
    """ADVICE r12: a template cached under the default parser mode and
    run after escapedStringLiterals flips to true must serve the same
    slice: its literals read back the same under either mode."""
    _append_dk(seeded, _dk_row("awk2", _AWKWARD_AGENT, _AWKWARD_PROJECT, "flip check"))
    kw = dict(task="flip check", agent=_AWKWARD_AGENT, project_id=_AWKWARD_PROJECT)
    seeded._cache.clear()
    seeded._srv_templates.clear()
    sl = seeded.retrieve(**kw)
    assert [r["id"] for r in sl.domain_knowledge] == ["awk2"]
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        seeded._cache.clear()
        sl2 = seeded.retrieve(**kw)
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", "false")
    assert len(seeded._srv_templates) == 1, "the cached template served"
    _slices_equal(sl2, sl)


def test_quote_in_scope_string_served_correctly(seeded, spark):
    """A single quote inside an agent/project id must survive the
    literal encoder (the compiled statement analyzes and the scoped
    read returns the right rows)."""
    _append_dk(seeded, _dk_row("q1", "o'brien", "proj'x", "quoted scope fact"))
    seeded._cache.clear()
    seeded._srv_templates.clear()
    sl = seeded.retrieve(
        "quoted scope fact", agent="o'brien", project_id="proj'x"
    )
    assert len(seeded._srv_templates) == 1
    assert [r["id"] for r in sl.domain_knowledge] == ["q1"]


def test_ann_sql_plan_probes_inside_one_job(seeded):
    """Plan-shape pin for the r12 design claim, updated for the r13
    JVM probe kernel (VERDICT r12 #4): the compiled ANN statement's
    physical plan must contain the probe's pruned lists SCAN on the
    BUILD side of a broadcast join — the probe executes INSIDE the one
    serving job, not as a separate candidate-collect job — and must
    carry NO Python evaluation node at all (the scoring kernel is a
    column expression, so serving never pays the Python-worker round
    trip that dominated warm ANN latency through r12)."""
    import alma_memory_spark.engine as EM

    seeded.index_vectors("domain_knowledge", cent_every=7)
    seeded.retrieve(
        "plan warm", agent="helena", project_id="proj-a",
        use_ann=True, nprobe=2,
    )
    plans = []
    orig = EM.AlmaSpark._srv_run

    def capture(self, text):
        df = self.spark.sql(text)
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return orig(self, text)

    EM.AlmaSpark._srv_run = capture
    try:
        seeded._cache.clear()
        seeded.retrieve(
            "plan audit question", agent="helena", project_id="proj-a",
            use_ann=True, nprobe=2,
        )
    finally:
        EM.AlmaSpark._srv_run = orig
    assert plans, "SQL path did not serve"
    p = plans[-1]
    assert "MapInPandas" not in p and "Python" not in p, (
        "serving statement must be pure JVM (r13)"
    )
    # the probe's pruned cell-partitioned lists scan runs inside this
    # statement: its partition column (`cell`) appears in the plan's
    # scan output, and the candidate side joins broadcast
    assert "cell#" in p, "probe lists scan missing from the statement plan"
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p[:500]
    # the per-call candidate views must not leak
    leftover = [
        t.name for t in seeded.spark.catalog.listTables()
        if t.name.startswith("alma_cand_")
    ]
    assert leftover == [], leftover


def test_concurrent_ann_retrieves_do_not_cross_talk(seeded):
    """r12: the per-call unique candidate views exist because two
    concurrent ANN retrieves on ONE engine must never serve each
    other's candidates. Run two distinct ANN queries concurrently many
    times and require every slice to equal its serial result."""
    from concurrent.futures import ThreadPoolExecutor

    seeded.index_vectors("domain_knowledge", cent_every=7)
    q1 = dict(
        task="validate schema before writing", agent="helena",
        project_id="proj-a", top_k=6, use_ann=True, nprobe=2,
    )
    q2 = dict(
        task="remember what did we deploy", agent="victor",
        project_id="proj-b", top_k=6, use_ann=True, nprobe=2,
    )
    seeded._cache.clear()
    want1 = seeded.retrieve(**q1)
    seeded._cache.clear()
    want2 = seeded.retrieve(**q2)
    with ThreadPoolExecutor(max_workers=2) as ex:
        for _ in range(4):
            seeded._cache.clear()
            f1 = ex.submit(seeded.retrieve, **q1)
            f2 = ex.submit(seeded.retrieve, **q2)
            _slices_equal(f1.result(), want1)
            _slices_equal(f2.result(), want2)
    leftover = [
        t.name for t in seeded.spark.catalog.listTables()
        if t.name.startswith("alma_cand_")
    ]
    assert leftover == [], leftover
