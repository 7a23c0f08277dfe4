"""Persisted inverted text index: score parity with the scan-based
BM25, incremental add identity, build/load round-trip, and the
partition-pruning plan contract."""

import os

from pyspark.sql import functions as F

from alma_memory_spark.operators.text_index import (
    InvertedTextIndex,
    _bucket_py,
)
from alma_memory_spark.operators.text_search import bm25_scores
from alma_memory_spark.session import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
QUERY = "spark query engine fast join"


def _scores(df, id_col="doc_id", score_col="bm25_score"):
    return {
        r[id_col]: round(r[score_col], 6)
        for r in df.collect()
    }


def test_index_matches_scan_bm25(spark, tmp_path):
    docs = load_table(spark, SF_DIR, "documents")
    idx = InvertedTextIndex.build(
        spark, docs, str(tmp_path / "tix"), id_col="doc_id", n_buckets=16
    )
    # hive partition dirs exist
    parts = [
        d
        for d in os.listdir(os.path.join(idx.vroot, "postings"))
        if d.startswith("bucket=")
    ]
    assert len(parts) >= 2

    got = _scores(idx.search_bm25(QUERY, k=1000))
    want_df = bm25_scores(docs, QUERY, id_col="doc_id", text_col="text")
    want = _scores(want_df)
    assert got == want  # identical doc set AND identical 6dp scores


def test_load_roundtrip_and_empty_query(spark, tmp_path):
    docs = load_table(spark, SF_DIR, "documents").limit(50)
    path = str(tmp_path / "tix2")
    idx = InvertedTextIndex.build(spark, docs, path, id_col="doc_id", n_buckets=8)
    idx2 = InvertedTextIndex.load(spark, path)
    assert (idx2.n_docs, idx2.sum_dl, idx2.n_buckets, idx2.id_col) == (
        idx.n_docs,
        idx.sum_dl,
        idx.n_buckets,
        idx.id_col,
    )
    assert idx2.search_bm25("", k=5).count() == 0
    top = idx2.search_bm25(QUERY, k=5).collect()
    assert len(top) <= 5
    scores = [r["bm25_score"] for r in top]
    assert scores == sorted(scores, reverse=True)


def test_incremental_add_equals_full_build(spark, tmp_path):
    docs = load_table(spark, SF_DIR, "documents")
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)

    full = InvertedTextIndex.build(
        spark, docs, str(tmp_path / "full"), id_col="doc_id", n_buckets=16
    )
    inc = InvertedTextIndex.build(
        spark, half_a, str(tmp_path / "inc"), id_col="doc_id", n_buckets=16
    ).add(half_b)

    assert (inc.n_docs, inc.sum_dl) == (full.n_docs, full.sum_dl)
    # and a reloaded handle sees the merged stats (the stats rewrite landed)
    re = InvertedTextIndex.load(spark, str(tmp_path / "inc"))
    assert (re.n_docs, re.sum_dl) == (full.n_docs, full.sum_dl)

    assert _scores(inc.search_bm25(QUERY, k=1000)) == _scores(
        full.search_bm25(QUERY, k=1000)
    )


def test_zero_token_docs_count_toward_stats(spark, tmp_path):
    docs = spark.createDataFrame(
        [(1, "spark join fast"), (2, ""), (3, "query engine")],
        "doc_id long, text string",
    )
    idx = InvertedTextIndex.build(spark, docs, str(tmp_path / "z"), n_buckets=4)
    assert idx.n_docs == 3  # the empty doc counts toward N / avgdl
    assert idx.sum_dl == 5
    got = _scores(idx.search_bm25("spark query", k=10))
    want = _scores(bm25_scores(docs, "spark query", id_col="doc_id", text_col="text"))
    assert got == want


def test_bucket_hash_driver_jvm_agreement(spark):
    terms = ["spark", "query", "engine", "fast", "join", "zebra", "μtoken"]
    df = spark.createDataFrame([(t,) for t in terms], "term string")
    from alma_memory_spark.operators.text_index import _bucket_col

    jvm = {
        r["term"]: r["b"]
        for r in df.select("term", _bucket_col(F.col("term"), 64).alias("b")).collect()
    }
    for t in terms:
        assert _bucket_py(t, 64) == jvm[t], t


def test_partition_pruning_plan_contract(spark, tmp_path):
    docs = load_table(spark, SF_DIR, "documents")
    idx = InvertedTextIndex.build(
        spark, docs, str(tmp_path / "pp"), id_col="doc_id", n_buckets=64
    )
    plan = idx.search_bm25(QUERY, k=20)._jdf.queryExecution().executedPlan().toString()
    # bucket IN (...) prunes partitions; term IN (...) is pushed to the scan
    assert "PartitionFilters" in plan
    assert "bucket" in plan.split("PartitionFilters", 1)[1][:300]
    assert "PushedFilters" in plan
    assert "In(term" in plan.split("PushedFilters", 1)[1][:400]


def test_engine_hybrid_search_indexed_vs_scan_identity(spark, tmp_path):
    """search_hybrid through the facade: the persisted-index path and
    the scan-fallback path return the SAME fused ranking (same docs,
    same rrf scores) — and both respect scope filters."""
    from alma_memory_spark.engine import AlmaSpark

    eng = AlmaSpark(spark, str(tmp_path / "store"))
    facts = [
        "spark joins are fast with broadcast",
        "use indexes for query speed",
        "the engine optimizes join order",
        "cats are unrelated to databases",
        "fast query engines use columnar formats",
        "spark query planning is declarative",
    ]
    for i, f in enumerate(facts):
        eng.add_knowledge("helena", "proj-a", "perf", f)
    eng.add_knowledge("other-agent", "proj-a", "perf", "spark spark spark query join fast")

    # scan-fallback first (no index on disk yet)
    scan = eng.search_hybrid("fast spark query join", agent="helena",
                             project_id="proj-a", top_k=5)
    assert scan, "scan path returned nothing"
    assert all(r["agent"] == "helena" for r in scan)

    rep = eng.index_text("domain_knowledge", n_buckets=8)
    assert rep["indexed"] and rep["n_docs"] == 7

    ixed = eng.search_hybrid("fast spark query join", agent="helena",
                             project_id="proj-a", top_k=5)
    assert [(r["id"], round(r["rrf_score"], 9)) for r in ixed] == [
        (r["id"], round(r["rrf_score"], 9)) for r in scan
    ]
    assert all(r["agent"] == "helena" for r in ixed)


def test_api_hybrid_tools(spark, tmp_path):
    from alma_memory_spark.api import AlmaToolSurface
    from alma_memory_spark.engine import AlmaSpark

    eng = AlmaSpark(spark, str(tmp_path / "store"))
    tools = AlmaToolSurface(eng)
    assert "alma_index_text" in tools.tools()
    assert "alma_search_hybrid" in tools.tools()
    eng.add_knowledge("a1", "p", "d", "spark is a fast query engine")
    out = tools.call("alma_index_text", table="domain_knowledge", n_buckets=4)
    assert out["indexed"] and out["n_docs"] == 1
    res = tools.call("alma_search_hybrid", task="fast query", agent="a1",
                     project_id="p", top_k=3)
    assert len(res["results"]) == 1
    assert res["results"][0]["fact"] == "spark is a fast query engine"


def test_streaming_index_maintenance_matches_batch(spark, tmp_path):
    """stream_documents_into_indexes: after replaying the second half of
    the corpus through the file stream in micro-batches, BOTH persisted
    indexes (text + IVF) answer identically to indexes built in one
    batch over the full corpus (text: 6dp score identity; IVF: search
    equals the batch-built index with the same quantizer)."""
    from alma_memory_spark.operators.ann_index import IVFIndex
    from alma_memory_spark.plans.registry import QUERY_VEC
    from alma_memory_spark.streaming.ingest import stream_documents_into_indexes

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    emb = load_table(spark, SF_DIR, "embeddings")
    # align: use vec_id as doc key for the joint stream frame
    joint = docs.join(
        emb.withColumnRenamed("vec_id", "doc_id"), "doc_id", "inner"
    ).select("doc_id", "text", "embedding")
    half_a = joint.filter(F.col("doc_id") % 2 == 0)
    half_b = joint.filter(F.col("doc_id") % 2 == 1)

    tix = InvertedTextIndex.build(
        spark, half_a, str(tmp_path / "tix"), id_col="doc_id", n_buckets=8
    )
    ivf = IVFIndex.build(
        spark, half_a, str(tmp_path / "ivf"), id_col="doc_id", vec_col="embedding",
        cent_every=50,
    )

    inbox = str(tmp_path / "inbox")
    half_b.repartition(4).write.parquet(inbox)
    stream = (
        spark.readStream.schema("doc_id long, text string, embedding array<double>")
        .option("maxFilesPerTrigger", 2)
        .parquet(inbox)
    )
    batches = []
    q = stream_documents_into_indexes(
        stream, text_index=tix, ivf_index=ivf,
        checkpoint=str(tmp_path / "ckpt"), id_col="doc_id",
        on_batch=batches.append,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(batches) >= 2  # really went through multiple micro-batches

    # text index: identical to a one-shot batch build over everything
    full_t = InvertedTextIndex.build(
        spark, joint, str(tmp_path / "tix_full"), id_col="doc_id", n_buckets=8
    )
    assert (tix.n_docs, tix.sum_dl) == (full_t.n_docs, full_t.sum_dl)
    assert _scores(tix.search_bm25(QUERY, k=1000)) == _scores(
        full_t.search_bm25(QUERY, k=1000)
    )

    # IVF: same quantizer as the half-a build, so compare against a
    # batch-built index seeded with the SAME centroids via add()
    ivf_ref = IVFIndex.build(
        spark, half_a, str(tmp_path / "ivf_ref"), id_col="doc_id",
        vec_col="embedding", cent_every=50,
    ).add(half_b, id_col="doc_id", vec_col="embedding")
    got = [(r["id"], r["similarity"]) for r in ivf.search(QUERY_VEC, k=10).collect()]
    want = [(r["id"], r["similarity"]) for r in ivf_ref.search(QUERY_VEC, k=10).collect()]
    assert got == want


def test_hybrid_results_carry_provenance_scores(spark, tmp_path):
    """HybridResult provenance parity (reference hybrid.py:37-47):
    fused rows expose vector_score / text_score with 0.0 for the side
    that didn't return the item."""
    from alma_memory_spark.engine import AlmaSpark

    eng = AlmaSpark(spark, str(tmp_path / "store"))
    eng.add_knowledge("a", "p", "d", "spark joins are fast")
    eng.add_knowledge("a", "p", "d", "zebra facts entirely unrelated")
    res = eng.search_hybrid("fast spark joins", agent="a", project_id="p", top_k=2)
    assert all("vector_score" in r and "text_score" in r for r in res)
    top = res[0]
    assert top["fact"] == "spark joins are fast"
    assert top["text_score"] > 0 and top["vector_score"] != 0.0
    # the unrelated doc gets no text hits -> text_score exactly 0.0
    other = res[1]
    assert other["text_score"] == 0.0


def test_streaming_dedup_matches_batch_distinct(spark, tmp_path):
    """dedup_document_stream: replaying a duplicated corpus through the
    stream keeps exactly one row per fingerprint — identical SET of
    fingerprints to the batch groupBy, across micro-batches (a dup
    arriving in a LATER micro-batch must also be dropped)."""
    from pyspark.sql import functions as F

    from alma_memory_spark.functions.text import fingerprint
    from alma_memory_spark.streaming.ingest import dedup_document_stream

    docs = load_table(spark, SF_DIR, "documents").limit(60).select(
        "doc_id", "text", F.to_timestamp(F.lit("2024-02-15 00:00:00")).alias("ts")
    )
    # duplicate every doc with a different id (content dup, id differs)
    dupes = docs.withColumn("doc_id", F.col("doc_id") + 100000)
    corpus = docs.unionByName(dupes)

    inbox = str(tmp_path / "inbox")
    # originals land in earlier files than the duplicates, so dups
    # arrive across micro-batch boundaries
    docs.coalesce(2).write.parquet(inbox)
    dupes.coalesce(2).write.mode("append").parquet(inbox)

    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(inbox)
    )
    q = (
        dedup_document_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT fingerprint FROM dedup_stream_out").collect()
    got_fps = sorted(r["fingerprint"] for r in got)
    want_fps = sorted(
        r["fingerprint"]
        for r in corpus.select(fingerprint("text").alias("fingerprint"))
        .distinct()
        .collect()
    )
    assert got_fps == want_fps  # one row per distinct fingerprint, none lost


def test_empty_query_preserves_id_type_and_empty_corpus_search(spark, tmp_path):
    """The empty-query early return must carry the BUILT id type (a
    long-id index returned string ids on that branch once), and an
    index whose docs all tokenize empty must search to empty, not crash
    on schema inference over a fileless postings dir."""
    docs = spark.createDataFrame([(1, "spark fast"), (2, "query join")],
                                 "doc_id long, text string")
    idx = InvertedTextIndex.build(spark, docs, str(tmp_path / "t1"), n_buckets=4)
    empty = idx.search_bm25("", k=5)
    assert dict(empty.dtypes)["doc_id"] == "bigint"
    # union with a real result must not type-clash
    assert empty.unionByName(idx.search_bm25("spark", k=5)).count() == 1

    blank = spark.createDataFrame([(1, ""), (2, "   ")], "doc_id long, text string")
    bidx = InvertedTextIndex.build(spark, blank, str(tmp_path / "t2"), n_buckets=4)
    assert bidx.n_docs == 2  # stats count the docs...
    assert bidx.search_bm25("anything", k=5).count() == 0  # ...search is empty
    # and a reloaded handle behaves identically
    assert InvertedTextIndex.load(spark, str(tmp_path / "t2")).search_bm25(
        "anything", k=5
    ).count() == 0


def test_hybrid_staleness_contract_vector_side_covers_unindexed_docs(spark, tmp_path):
    """The rebuild-on-change contract (reference hybrid.py:53) in
    behavior: a doc added AFTER index_text() is invisible to the
    keyword side until reindex, but the vector side reads the live
    table — so hybrid still surfaces it, and a reindex restores full
    keyword coverage."""
    from alma_memory_spark.engine import AlmaSpark

    eng = AlmaSpark(spark, str(tmp_path / "store"))
    eng.add_knowledge("a", "p", "d", "spark joins are fast")
    eng.index_text("domain_knowledge", n_buckets=4)
    fresh = eng.add_knowledge("a", "p", "d", "spark shuffles are slow")

    res = eng.search_hybrid("spark shuffles", agent="a", project_id="p", top_k=5)
    by_id = {r["id"]: r for r in res}
    assert fresh in by_id  # vector side found the un-indexed doc...
    assert by_id[fresh]["text_score"] == 0.0  # ...keyword side hasn't

    eng.index_text("domain_knowledge", n_buckets=4)  # rebuild-on-change
    res2 = eng.search_hybrid("spark shuffles", agent="a", project_id="p", top_k=5)
    assert {r["id"]: r for r in res2}[fresh]["text_score"] > 0.0


def test_hybrid_exact_when_text_index_lacks_scope(spark, tmp_path):
    """search_hybrid over a text index built WITHOUT scope columns
    serves its keyword side from the scoped scan: the result equals
    the no-index result (a global ranking would score with the whole
    corpus's statistics)."""
    from alma_memory_spark.engine import AlmaSpark

    eng = AlmaSpark(spark, str(tmp_path / "store"))
    for i in range(8):
        eng.add_knowledge("a1", "p", "d", f"spark joins shuffle fact {i}")
        eng.add_knowledge("a2", "p", "d", f"spark spark streaming note {i}")
    kw = dict(agent="a1", project_id="p", top_k=5)
    want = eng.search_hybrid("spark joins", **kw)
    assert want
    table = "domain_knowledge"
    docs = eng.store.read(table).select(
        "id", eng._text_expr(table).alias("_text")
    )
    InvertedTextIndex.build(
        spark, docs, eng._text_index_path(table), id_col="id",
        text_col="_text", n_buckets=4,
    )
    assert eng.search_hybrid("spark joins", **kw) == want


def test_hybrid_scoped_fallback_on_saturated_global_cut(spark, tmp_path):
    """Multi-agent store where the scoped agent's docs rank BELOW the
    global top-4*fetch: search_hybrid must still surface every scoped
    hit (the r3 over-fetch bug dropped them after a global cut; the
    scoped index path ranks inside the scope)."""
    from alma_memory_spark.engine import AlmaSpark

    eng = AlmaSpark(spark, str(tmp_path / "store"))
    # 60 spam docs with high tf for the query term swamp the global
    # ranking (top_k=5 -> fetch=10 -> global cut 40)
    for i in range(60):
        eng.add_knowledge("spammer", "proj-a", "d", f"query query query spam {i}")
    for i in range(3):
        eng.add_knowledge(
            "helena", "proj-a", "d",
            f"one weak mention of query inside a much longer document {i}",
        )
    eng.index_text("domain_knowledge", n_buckets=8)
    res = eng.search_hybrid("query", agent="helena", project_id="proj-a", top_k=5)
    helena_ids = {
        r["id"]
        for r in eng.store.read("domain_knowledge")
        .filter("agent = 'helena'")
        .collect()
    }
    got = {r["id"] for r in res}
    # all three scoped docs match the term; the fallback must surface them
    assert got == helena_ids


def test_add_epoch_replay_is_noop_and_partial_rewrite(spark, tmp_path):
    """The exactly-once segment protocol, both replay windows:
    a replayed COMMITTED epoch is a no-op (returns False, stats and
    scores unchanged — the r3 double-append ADVICE finding), and a
    replayed UNcommitted epoch (crash between segment write and the
    _COMMIT rename) rewrites the partial segment instead of
    duplicating it."""
    import os as _os
    import shutil as _shutil

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    path = str(tmp_path / "tix_epoch")
    tix = InvertedTextIndex.build(spark, half_a, path, id_col="doc_id", n_buckets=8)

    assert tix.add_epoch(half_b, epoch=7) is True
    stats_after = (tix.n_docs, tix.sum_dl)
    scores_after = _scores(tix.search_bm25(QUERY, k=1000))
    # committed replay: no-op
    assert tix.add_epoch(half_b, epoch=7) is False
    assert (tix.n_docs, tix.sum_dl) == stats_after
    assert _scores(tix.search_bm25(QUERY, k=1000)) == scores_after
    # a fresh handle aggregates base + committed segments identically
    re = InvertedTextIndex.load(spark, path)
    assert (re.n_docs, re.sum_dl) == stats_after
    assert re.applied_epochs() == {7}
    assert _scores(re.search_bm25(QUERY, k=1000)) == scores_after

    # uncommitted replay: strip the _COMMIT (the crash window) and
    # replay — the segment rewrites, commits once, same totals
    commit = _os.path.join(tix._segments_root(), "7", "_COMMIT")
    _os.remove(commit)
    broken = InvertedTextIndex.load(spark, path)
    assert broken.applied_epochs() == set()  # uncommitted == invisible
    assert broken.add_epoch(half_b, epoch=7) is True
    assert (broken.n_docs, broken.sum_dl) == stats_after
    assert _scores(broken.search_bm25(QUERY, k=1000)) == scores_after

    # rebuild folds segments away
    full = InvertedTextIndex.build(
        spark, docs, path, id_col="doc_id", n_buckets=8
    )
    assert not _os.path.isdir(full._segments_root())
    assert (full.n_docs, full.sum_dl) == stats_after
    assert _scores(full.search_bm25(QUERY, k=1000)) == scores_after
    _shutil.rmtree(path, ignore_errors=True)


def test_streaming_index_kill_and_resume_exactly_once(spark, tmp_path):
    """Kill the index-maintenance stream mid-corpus and RESUME from its
    checkpoint: every document lands in both persisted indexes exactly
    once (text scores == one-shot full build; IVF id set == corpus),
    even though the resumed query may re-deliver its last epoch."""
    from alma_memory_spark.operators.ann_index import IVFIndex
    from alma_memory_spark.plans.registry import QUERY_VEC
    from alma_memory_spark.streaming.ingest import stream_documents_into_indexes

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    emb = load_table(spark, SF_DIR, "embeddings")
    joint = docs.join(
        emb.withColumnRenamed("vec_id", "doc_id"), "doc_id", "inner"
    ).select("doc_id", "text", "embedding")
    half_a = joint.filter(F.col("doc_id") % 2 == 0)
    half_b = joint.filter(F.col("doc_id") % 2 == 1)

    tix = InvertedTextIndex.build(
        spark, half_a, str(tmp_path / "tix"), id_col="doc_id", n_buckets=8
    )
    ivf = IVFIndex.build(
        spark, half_a, str(tmp_path / "ivf"), id_col="doc_id",
        vec_col="embedding", cent_every=50,
    )
    inbox = str(tmp_path / "inbox")
    half_b.repartition(8).write.parquet(inbox)
    ckpt = str(tmp_path / "ckpt")

    def start(batches):
        stream = (
            spark.readStream.schema("doc_id long, text string, embedding array<double>")
            .option("maxFilesPerTrigger", 1)
            .parquet(inbox)
        )
        return stream_documents_into_indexes(
            stream, text_index=tix, ivf_index=ivf, checkpoint=ckpt,
            id_col="doc_id", on_batch=batches.append,
        )

    import time as _time

    first: list[int] = []
    q = start(first)
    try:
        deadline = _time.time() + 120
        while len(first) < 2 and _time.time() < deadline:
            _time.sleep(0.2)
    finally:
        q.stop()  # KILL mid-stream
    assert 2 <= len(first) < 8, f"wanted a mid-stream kill, got {len(first)} batches"

    second: list[int] = []
    q2 = start(second)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert second, "resumed query processed nothing"

    # text: exactly-once — identical to a one-shot build over everything
    full_t = InvertedTextIndex.build(
        spark, joint, str(tmp_path / "tix_full"), id_col="doc_id", n_buckets=8
    )
    re = InvertedTextIndex.load(spark, str(tmp_path / "tix"))
    assert (re.n_docs, re.sum_dl) == (full_t.n_docs, full_t.sum_dl)
    assert _scores(re.search_bm25(QUERY, k=1000)) == _scores(
        full_t.search_bm25(QUERY, k=1000)
    )
    # IVF: every id exactly once across base lists + committed segments
    ids = [r["id"] for r in ivf._lists_df().select("id").collect()]
    want = [r["doc_id"] for r in joint.select("doc_id").collect()]
    assert sorted(ids) == sorted(want)
    got = ivf.search(QUERY_VEC, k=10, nprobe=3).collect()
    assert len(got) == 10


def test_scoped_bm25_exact_via_group_stats(spark, tmp_path):
    """Scope columns in the postings: search_bm25(filters=...) must be
    score-IDENTICAL to scan-BM25 over the scoped corpus (scoped df, N,
    avgdl — not the global stats semi-joined), and the engine's
    search_hybrid takes this exact path with no over-fetch fallback."""
    from alma_memory_spark.engine import AlmaSpark
    from alma_memory_spark.operators.text_search import bm25_scores

    eng = AlmaSpark(spark, str(tmp_path / "store"))
    for i in range(40):
        eng.add_knowledge("spammer", "proj-a", "d", f"query query query spam {i}")
    for i in range(4):
        eng.add_knowledge(
            "helena", "proj-a", "d",
            f"one weak mention of query inside a longer document {i}",
        )
    eng.index_text("domain_knowledge", n_buckets=8)
    idx = InvertedTextIndex.load(spark, eng._text_index_path("domain_knowledge"))
    assert {n for n, _t in idx.extra_cols} == {"project_id", "agent"}

    got = idx.search_bm25(
        "query document", k=50, filters={"project_id": "proj-a", "agent": "helena"}
    ).collect()
    scoped_docs = (
        eng.store.read("domain_knowledge")
        .filter("agent = 'helena'")
        .select("id", eng._text_expr("domain_knowledge").alias("_text"))
    )
    want = (
        bm25_scores(scoped_docs, "query document", id_col="id", text_col="_text")
        .orderBy(F.desc("bm25_score"), F.asc("id"))
        .collect()
    )
    assert [(r["id"], round(r["bm25_score"], 9)) for r in got] == [
        (r["id"], round(r["bm25_score"], 9)) for r in want
    ]

    # engine path returns the scoped docs with the exact scores (no
    # saturation fallback needed even though spam swamps the global top)
    res = eng.search_hybrid("query document", agent="helena",
                            project_id="proj-a", top_k=10)
    helena_ids = {r["id"] for r in scoped_docs.collect()}
    assert {r["id"] for r in res} == helena_ids

    # incremental add keeps group stats exact
    eng.add_knowledge("helena", "proj-a", "d", "another query mention appended")
    new_row = (
        eng.store.read("domain_knowledge")
        .filter("fact = 'another query mention appended'")
        .select("id", eng._text_expr("domain_knowledge").alias("_text"),
                "project_id", "agent")
    )
    idx.add(new_row, text_col="_text")
    re = InvertedTextIndex.load(spark, eng._text_index_path("domain_knowledge"))
    got2 = re.search_bm25(
        "query document", k=50, filters={"project_id": "proj-a", "agent": "helena"}
    ).collect()
    scoped2 = (
        eng.store.read("domain_knowledge")
        .filter("agent = 'helena'")
        .select("id", eng._text_expr("domain_knowledge").alias("_text"))
    )
    want2 = (
        bm25_scores(scoped2, "query document", id_col="id", text_col="_text")
        .orderBy(F.desc("bm25_score"), F.asc("id"))
        .collect()
    )
    assert [(r["id"], round(r["bm25_score"], 9)) for r in got2] == [
        (r["id"], round(r["bm25_score"], 9)) for r in want2
    ]


def test_preferences_scoped_index_path(spark, tmp_path):
    """The keyword-only table (no embedding column) through the
    scope-aware index: index_text('preferences') stores user_id as an
    extra column, and search_hybrid serves a user's preferences from
    the exact scoped path (text-only fuse)."""
    from alma_memory_spark.engine import AlmaSpark

    eng = AlmaSpark(spark, str(tmp_path / "store"))
    for i in range(5):
        eng.add_preference("u1", "style", f"prefer concise bullet answers {i}")
    eng.add_preference("u2", "style", "prefer verbose prose answers")
    eng.index_text("preferences", n_buckets=4)
    idx = InvertedTextIndex.load(spark, eng._text_index_path("preferences"))
    assert ("user_id", "string") in idx.extra_cols

    res = eng.search_hybrid(
        "prefer answers", agent="any", table="preferences", top_k=10,
        user_id="u1",
    )
    assert res and all(r["user_id"] == "u1" for r in res)
    assert len(res) == 5
    scoped = idx.search_bm25(
        "prefer answers", k=10, filters={"user_id": "u2"}
    ).collect()
    assert len(scoped) == 1


def test_epoch_lineage_collision_raises(spark, tmp_path):
    """ADVICE r4 (ingest.py:238): an epoch already committed by a
    DIFFERENT writer lineage is a fresh-checkpoint collision, not a
    replay — silently no-oping would drop the new query's batches
    forever. Same-lineage replays stay no-ops; legacy segments without
    a recorded lineage stay lenient."""
    import pytest as _pytest

    from alma_memory_spark.operators.ann_index import IVFIndex

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    tix = InvertedTextIndex.build(
        spark, half_a, str(tmp_path / "lin"), id_col="doc_id", n_buckets=8
    )
    assert tix.add_epoch(half_b, epoch=0, lineage="query-A") is True
    assert tix.add_epoch(half_b, epoch=0, lineage="query-A") is False  # replay
    with _pytest.raises(RuntimeError, match="lineage"):
        tix.add_epoch(half_b, epoch=0, lineage="query-B")  # fresh checkpoint
    # lineage-less caller (legacy) keeps the lenient no-op
    assert tix.add_epoch(half_b, epoch=0) is False

    emb = load_table(spark, SF_DIR, "embeddings")
    ivf = IVFIndex.build(
        spark, emb.filter("vec_id % 2 = 0"), str(tmp_path / "lin_ivf"),
        cent_every=50,
    )
    newer = emb.filter("vec_id % 2 = 1")
    assert ivf.add_epoch(newer, epoch=0, lineage="query-A") is True
    assert ivf.add_epoch(newer, epoch=0, lineage="query-A") is False
    with _pytest.raises(RuntimeError, match="lineage"):
        ivf.add_epoch(newer, epoch=0, lineage="query-B")


def test_fresh_checkpoint_stream_fails_loud_not_silent(spark, tmp_path):
    """End-to-end: a document stream restarted on a RECREATED checkpoint
    (epochs restart at 0) must FAIL its first batch instead of silently
    dropping every batch whose epoch the previous lineage committed."""
    import shutil

    from alma_memory_spark.streaming.ingest import stream_documents_into_indexes

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    tix = InvertedTextIndex.build(
        spark, docs.filter(F.col("doc_id") % 2 == 0),
        str(tmp_path / "tixf"), id_col="doc_id", n_buckets=8,
    )
    inbox = str(tmp_path / "inbox")
    docs.filter(F.col("doc_id") % 2 == 1).repartition(2).write.parquet(inbox)
    ckpt = str(tmp_path / "ckpt")

    def start():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(inbox)
        )
        return stream_documents_into_indexes(
            stream, text_index=tix, checkpoint=ckpt, id_col="doc_id"
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n_after_first = tix.n_docs

    shutil.rmtree(ckpt)  # the operational mistake
    q2 = start()
    try:
        with __import__("pytest").raises(Exception, match="lineage"):
            q2.processAllAvailable()
            q2.awaitTermination(30)
    finally:
        q2.stop()
    # and nothing was silently double-applied or dropped into the index
    assert InvertedTextIndex.load(spark, str(tmp_path / "tixf")).n_docs == n_after_first


def test_search_bm25_batch_matches_per_query(spark, tmp_path):
    """search_bm25_batch: N keyword queries over ONE pruned scan must
    return, per query, exactly search_bm25's rows — global and scoped,
    including queries with no matching terms (absent from the output)."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    scoped = docs.withColumn("grp", F.pmod(F.col("doc_id"), F.lit(3)))
    idx = InvertedTextIndex.build(
        spark, scoped, str(tmp_path / "bb"), id_col="doc_id",
        n_buckets=16, extra_cols=["grp"],
    )
    queries = [
        ("q1", QUERY),
        ("q2", "data quality pipeline"),
        ("q3", "zzzznotaterm"),
    ]
    batch = idx.search_bm25_batch(queries, k=15).collect()
    assert {r["qid"] for r in batch} <= {"q1", "q2", "q3"}
    for qid, text in queries:
        single = idx.search_bm25(text, k=15).collect()
        got = [
            (r["doc_id"], r["bm25_score"]) for r in batch if r["qid"] == qid
        ]
        assert got == [(r["doc_id"], r["bm25_score"]) for r in single], qid

    sb = idx.search_bm25_batch(queries, k=10, filters={"grp": 1}).collect()
    for qid, text in queries:
        single = idx.search_bm25(text, k=10, filters={"grp": 1}).collect()
        got = [(r["doc_id"], r["bm25_score"]) for r in sb if r["qid"] == qid]
        assert got == [(r["doc_id"], r["bm25_score"]) for r in single], qid

    assert idx.search_bm25_batch([], k=5).count() == 0
