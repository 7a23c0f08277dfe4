"""Physical-plan contract tests: the scale story depends on specific
plan shapes (filters reaching the parquet scan, global top-k compiling
to TakeOrderedAndProject instead of a full sort, small sides
broadcasting, no SortMergeJoin on candidate joins). These assertions
freeze those properties so a refactor that silently degrades the plan
— not the results — still fails CI."""

import os

import pytest

from alma_memory_spark.plans.registry import QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _plan(spark, name: str) -> str:
    df = QUERIES[name].fn(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_fetch_template_pushes_filters_and_uses_topk(spark):
    plan = _plan(spark, "memory_fetch_template")
    # equality + range predicates must reach the parquet scan
    assert "PushedFilters: [" in plan
    assert "o_orderstatus" in plan.split("PushedFilters:", 1)[1][:300]
    # orderBy+limit must compile to TakeOrderedAndProject (per-partition
    # partial top-k + k-row reduce), never a global Sort
    assert "TakeOrderedAndProject" in plan


def test_vector_topk_is_narrow_map_plus_topk(spark):
    plan = _plan(spark, "vector_topk")
    assert "TakeOrderedAndProject" in plan
    # brute-force cosine must not shuffle the corpus (only the final
    # k-row reduce); no join, no aggregate exchange
    assert "SortMergeJoin" not in plan
    assert "HashAggregate" not in plan


def test_ann_candidate_join_broadcasts_candidates(spark):
    plan = _plan(spark, "ann_candidate_join")
    # the tiny candidate set must broadcast into the documents scan —
    # a sort-merge join here would shuffle the big side at 100 TB
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rrf_fusion_cuts_before_ranking(spark):
    plan = _plan(spark, "rrf_fusion")
    # both retrieval lists are cut via TakeOrderedAndProject BEFORE the
    # rank windows, so no global-window single-partition sort of the
    # full corpus survives in the plan (the fusion join itself is a
    # full-outer over the two <=100-row lists — Spark cannot broadcast
    # full-outer, and a sort-merge over bounded sides is scale-free)
    assert plan.count("TakeOrderedAndProject") >= 2
    fusion = plan.split("Window", 1)[0]  # above the first rank window
    assert "parquet" not in fusion  # no raw-corpus scan feeds the join directly


def test_pricing_agg_is_partial_aggregated(spark):
    plan = _plan(spark, "pricing_revenue_agg")
    # map-side combine: partial_ aggregate functions before the shuffle
    assert "partial_" in plan
    # the nation/region dims must broadcast, not shuffle
    assert "BroadcastHashJoin" in plan


def test_text_profile_has_no_join(spark):
    plan = _plan(spark, "text_profile")
    assert "Join" not in plan


def test_exact_dedup_contam_join_broadcasts(spark):
    """exact_dedup gained the decontamination stage in r7: its ONLY
    join must be the broadcast of the (small by definition) benchmark
    gram set — a sort-merge there would shuffle the full training gram
    stream at 100 TB."""
    plan = _plan(spark, "exact_dedup")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_extract_facts_is_shuffle_free(spark):
    """Chat mining must stay a narrow map: rlike families + substring
    add NO Exchange — the 100 TB scan parallelizes embarrassingly."""
    from pyspark.sql import functions as F

    from alma_memory_spark.operators.auto_learn import extract_facts
    from alma_memory_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents").select(
        F.col("doc_id").alias("msg_idx"), F.col("text").alias("content")
    )
    plan = (
        extract_facts(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "SortMergeJoin" not in plan


def test_progress_summary_is_one_partial_final_agg(spark):
    """The summary is ONE map-side-combined aggregation: exactly one
    exchange (the 1-row final agg), partial + final HashAggregate."""
    from pyspark.sql import functions as F

    from alma_memory_spark.operators.progress import progress_summary
    from alma_memory_spark.session import load_table

    ev = load_table(spark, SF_DIR, "events")
    wi = ev.select(
        F.col("event_id").cast("string").alias("id"),
        F.lit("done").alias("status"),
        F.lit(1).cast("long").alias("time_spent_ms"),
        F.col("ts").alias("updated_at"),
        F.lit(None).cast("string").alias("agent"),
    )
    plan = progress_summary(wi)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "HashAggregate" in plan or "SortAggregate" in plan


def test_ivf_add_is_narrow_append(spark, tmp_path):
    """Incremental IVF ingest must not shuffle: assignment is a
    mapInPandas over the input partitioning."""
    from alma_memory_spark.operators.ann_index import IVFIndex
    from alma_memory_spark.session import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    idx = IVFIndex.build(spark, emb.filter("vec_id % 2 = 0"),
                         str(tmp_path / "ivf"), cent_every=50)
    # capture the write plan by building the assignment frame the same
    # way add() does, without writing
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    b = spark.sparkContext.broadcast((idx.cells, idx.Cn))

    def assign(it):
        cells_, Cn_ = b.value
        for pdf in it:
            if not len(pdf):
                continue
            V = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
            yield pd.DataFrame({
                "id": pdf["vec_id"].to_numpy(),
                "embedding": pdf["embedding"],
                "cell": cells_[np.argmax(np.round(Vn @ Cn_.T, 6), axis=1)],
            })

    assigned = emb.filter("vec_id % 2 = 1").select("vec_id", "embedding").mapInPandas(
        assign, "id long, embedding array<double>, cell long"
    )
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def _scan_num_files(df) -> int | None:
    """Sum of executed FileScan numFiles metrics (run the job first).
    Recurses through AQE wrappers (AdaptiveSparkPlan.executedPlan) and
    materialized query stages (QueryStageExec.plan), which
    collectLeaves() treats as leaves."""
    acc = {"total": 0, "found": False}

    def walk(node):
        name = node.nodeName()
        if "Scan" in name:
            m = node.metrics()
            if m.contains("numFiles"):
                acc["total"] += m.apply("numFiles").value()
                acc["found"] = True
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan())
            return
        if "QueryStage" in name:
            walk(node.plan())
            return
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return acc["total"] if acc["found"] else None


def test_index_serves_stay_pruned_at_10x_corpus(spark, tmp_path):
    """The persisted-index pruning contract AT SCALE (verdict r3 #4):
    on a 10x-replicated corpus, the indexed BM25 serve and the IVF
    probe must still open only their query's bucket/cell partitions —
    the executed numFiles stays a small fraction of the index's files
    and does NOT grow with corpus size (the per-partition file count
    is build-parallelism-bound, not corpus-bound)."""
    from pyspark.sql import functions as F

    from alma_memory_spark.operators.ann_index import IVFIndex
    from alma_memory_spark.operators.text_index import InvertedTextIndex
    from alma_memory_spark.plans.registry import QUERY_TEXT, QUERY_VEC
    from alma_memory_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")
    emb = load_table(spark, SF_DIR, "embeddings")
    shift_d = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    shift_v = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    copies = spark.range(10).withColumnRenamed("id", "c")
    docs10 = docs.crossJoin(copies).select(
        (F.col("doc_id") + F.col("c") * shift_d).alias("doc_id"),
        F.concat("text", F.lit(" c"), "c").alias("text"),
    )
    emb10 = emb.crossJoin(copies).select(
        (F.col("vec_id") + F.col("c") * shift_v).alias("vec_id"), "embedding"
    )

    tix = InvertedTextIndex.build(
        spark, docs10, str(tmp_path / "tix10"), id_col="doc_id", n_buckets=64
    )
    q = tix.search_bm25(QUERY_TEXT, k=20)
    rows = q.collect()
    assert len(rows) == 20
    n_terms = len(set(QUERY_TEXT.split()))
    hit = _scan_num_files(q)
    total = sum(
        1
        for _r, _d, fs in os.walk(os.path.join(tix.vroot, "postings"))
        for f in fs
        if f.endswith(".parquet")
    )
    # bounded by the query's term buckets (a few files each), never by
    # corpus size: 5 query terms against 64 buckets must touch a small
    # constant number of files out of the whole index
    assert hit is not None and hit <= n_terms * 4
    assert hit < total / 2, f"pruning degraded: {hit}/{total} files read"

    ivf = IVFIndex.build(
        spark, emb10, str(tmp_path / "ivf10"), cent_every=100
    )
    s = ivf.search(QUERY_VEC, k=10, nprobe=3)
    assert len(s.collect()) == 10
    hit_v = _scan_num_files(s)
    total_v = sum(
        1
        for _r, _d, fs in os.walk(os.path.join(ivf.vroot, "lists"))
        for f in fs
        if f.endswith(".parquet")
    )
    n_cells = len(ivf.cells)
    assert n_cells > 10
    # 3 probed cells out of n_cells: files read ~ 3/n_cells of total
    assert hit_v is not None and hit_v < total_v / 3


def test_pq_candidate_scan_never_reads_vectors(spark, tmp_path):
    """The IVF-PQ ADC pass exists to make the candidate scan cheap at
    100 TB: it must read ONLY (id, code) from the pruned cell
    partitions — if the embedding column ever sneaks into that scan's
    ReadSchema the 64x IO saving silently vanishes while results stay
    correct. Also freezes the cell partition pruning on both passes."""
    from alma_memory_spark.operators.ann_index import IVFIndex
    from alma_memory_spark.plans.registry import QUERY_VEC
    from alma_memory_spark.session import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    idx = IVFIndex.build(
        spark, emb, str(tmp_path / "pq"), cent_every=25, pq_m=8
    )
    probed, qn = idx.probe_cells(QUERY_VEC, nprobe=3)
    cand = idx._pq_candidates(qn, probed, 40, None)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scans, plan
    for line in scans:
        schema = line.split("ReadSchema:", 1)[1]
        assert "embedding" not in schema, line
        assert "code:binary" in schema, line
        assert "PartitionFilters: [cell" in line, line
    # the re-rank fetch (search_pq's returned plan — the ADC pass ran
    # eagerly): cell-pruned AND the bounded candidate id set pushed as
    # a static IN predicate, so row-group stats on the id-sorted lists
    # skip everything but the groups holding candidates
    full = idx.search_pq(QUERY_VEC, k=5, nprobe=3, refine=4)
    fplan = full._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in fplan
    assert "PartitionFilters: [cell" in fplan
    pushed = fplan.split("PushedFilters:", 1)[1][:400]
    assert "In(id" in pushed or "id#" in pushed, fplan


def test_paragraph_dedup_has_no_global_sort_and_no_window(spark):
    """dedup_paragraphs' scale contract: keep-first is a map-side-
    combinable argmin AGGREGATE per fingerprint rejoined on the
    (fp, doc, idx) triple — never a window (a corpus-wide boilerplate
    paragraph makes one fingerprint group as large as the corpus, and
    AQE cannot split a window partition) and never a range-partitioned
    global sort."""
    from alma_memory_spark.operators.paragraphs import dedup_paragraphs
    from alma_memory_spark.session import load_table

    df = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    plan = (
        dedup_paragraphs(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "rangepartitioning" not in plan.lower(), plan
    assert "hashpartitioning" in plan.lower()
    assert "WindowExec" not in plan and "Window " not in plan, plan
    # the keep-first aggregate partial-combines before the shuffle
    assert "partial_min" in plan.lower() or "HashAggregate" in plan


def test_qfilter_rows_are_scan_speed(spark):
    """The quality-signal projection is a pure narrow map: building
    the qf signals over documents must introduce no exchange, no join,
    no aggregate — one scan to the result."""
    from pyspark.sql import functions as F

    from alma_memory_spark.functions.text import (
        gopher_pass_bits,
        quality_signals,
        ws_tokens,
    )
    from alma_memory_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id",
        F.col("text"),
        ws_tokens("text").alias("_ts"),
        F.split("text", "\n").alias("_ln"),
    )
    qs = quality_signals(
        F.col("text"), tokens=F.col("_ts"), lines_col=F.col("_ln")
    )
    out = docs.select(
        "doc_id",
        *[v.alias(k) for k, v in qs.items()],
        gopher_pass_bits(
            "text", tokens=F.col("_ts"), lines_col=F.col("_ln")
        ).alias("bits"),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Join" not in plan
    assert "HashAggregate" not in plan


def test_plan_memo_concurrent_access_is_safe(spark):
    """Pinned (ADVICE r6): gates run from concurrent harness threads;
    the memo's get/evict/insert must be safe against each other and
    settle on one plan per key."""
    from concurrent.futures import ThreadPoolExecutor

    from alma_memory_spark.plans import registry as R

    @R.register("___memo_probe", None, memo=True)
    def probe(s, sf):
        return s.range(3)

    try:
        # seed 4 fake apps so the live session's first call evicts
        for i in range(4):
            R._PLAN_MEMO.put((f"___app{i}", f"___q{i}", "sf"), object())
        with ThreadPoolExecutor(16) as pool:
            dfs = list(
                pool.map(lambda _: R.QUERIES["___memo_probe"].fn(spark, "x"), range(64))
            )
        assert all(d.count() == 3 for d in dfs[:2])
        # memo settled: later calls all return the single cached plan
        assert len({id(d) for d in dfs[32:]}) == 1
    finally:
        R.QUERIES.pop("___memo_probe", None)
