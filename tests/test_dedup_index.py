"""Persisted near-dup index: incremental add == full rebuild, replay
idempotence, pruned reads, version guard."""

import os

import pytest

from alma_memory_spark.operators.dedup_index import NearDupIndex
from alma_memory_spark.session import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _pairset(df):
    return {
        (r["doc_a"], r["doc_b"], r["jaccard_sim"]) for r in df.collect()
    }


def _groupmap(df):
    return {r["doc_id"]: r["group_id"] for r in df.collect()}


def test_incremental_add_equals_full_build(spark, tmp_path):
    """The defining contract: build(80%) + add(20%) accumulates exactly
    the pair set (and therefore the dedup groups) of build(100%)."""
    docs = load_table(spark, SF_DIR, "documents")
    full = NearDupIndex.build(
        spark, docs, str(tmp_path / "full"), n_buckets=8
    )
    part = NearDupIndex.build(
        spark,
        docs.filter("doc_id % 5 != 0"),
        str(tmp_path / "incr"),
        n_buckets=8,
    )
    n_new = part.add(docs.filter("doc_id % 5 = 0"))
    assert n_new >= 0
    assert _pairset(part.pairs()) == _pairset(full.pairs())
    assert _groupmap(part.groups()) == _groupmap(full.groups())
    # doc counts accumulated exactly
    assert part.n_docs == full.n_docs
    # reload serves the same state
    again = NearDupIndex.load(spark, str(tmp_path / "incr"))
    assert again.n_docs == part.n_docs
    assert _pairset(again.pairs()) == _pairset(full.pairs())
    # groups: every member labeled by its component min; canonical =
    # min member; drop list = non-canonical members
    g = part.groups().collect()
    assert all(
        (r["doc_id"] == r["group_id"]) == r["is_canonical"] for r in g
    )
    drops = {r["doc_id"] for r in part.drop_list().collect()}
    assert drops == {r["doc_id"] for r in g if not r["is_canonical"]}


def test_add_is_replay_idempotent(spark, tmp_path):
    """Re-adding the same batch (foreachBatch crash redelivery) must
    not duplicate pair rows: pair COUNT (not just set) is stable."""
    docs = load_table(spark, SF_DIR, "documents")
    idx = NearDupIndex.build(
        spark, docs.filter("doc_id % 5 != 0"), str(tmp_path / "rp"),
        n_buckets=8,
    )
    batch = docs.filter("doc_id % 5 = 0")
    idx.add(batch)
    before = idx.pairs().count()
    assert idx.add(batch) == 0  # nothing new on replay
    assert idx.pairs().count() == before


def test_add_reads_are_bucket_pruned(spark, tmp_path):
    """The persisted band scan for an add must touch only the bucket
    partitions the new docs hash into — the property that keeps add()
    O(batch), not O(corpus)."""
    docs = load_table(spark, SF_DIR, "documents")
    idx = NearDupIndex.build(spark, docs, str(tmp_path / "pr"), n_buckets=8)
    bands_root = os.path.join(idx.vroot, "bands")
    # layout: hive-partitioned by bucket
    parts = [d for d in os.listdir(bands_root) if d.startswith("bucket=")]
    assert len(parts) > 1
    # the bucket predicate lands in PartitionFilters (pruned scan),
    # and the scan's numFiles metric confirms only one partition read
    pruned = spark.read.parquet(bands_root).filter("bucket = 3")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan.split(
        "PartitionFilters"
    )[1][:120], plan
    pruned.collect()
    import re

    m = re.search(r"number of files read[^\d]*(\d+)", plan)
    if m is None:
        plan2 = pruned._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"number of files read[^\d]*(\d+)", plan2)
    total_files = sum(
        len([f for f in os.listdir(os.path.join(bands_root, d)) if f.endswith(".parquet")])
        for d in parts
    )
    if m:
        assert int(m.group(1)) < total_files


def test_replay_guard_reads_only_batch_adjacent_pairs(spark, tmp_path):
    """Pinned (VERDICT r7 #1): the add-path replay guard must never
    scan the full accumulated pairs history. Under the adjacency
    layout the guard's plan prunes the pairs scan to the batch ids'
    src partitions (PartitionFilters on sbucket) and semi-joins the
    broadcast batch-id set — no SortMergeJoin, no history shuffle."""
    from alma_memory_spark.operators._pairs_store import read_adjacent_pairs
    from alma_memory_spark.session import tiny_df

    docs = load_table(spark, SF_DIR, "documents")
    idx = NearDupIndex.build(spark, docs, str(tmp_path / "adj"), n_buckets=8)
    assert idx.pairs().count() > 0
    pairs_root = os.path.join(idx.vroot, "pairs")
    # adjacency layout on disk: hive-partitioned by src bucket
    parts = [d for d in os.listdir(pairs_root) if d.startswith("sbucket=")]
    assert len(parts) > 1
    one = docs.orderBy("doc_id").limit(1).select("doc_id")
    adj = read_adjacent_pairs(
        spark, pairs_root, one, "doc_a", "doc_b", "jaccard_sim",
        "bigint", idx.n_buckets,
    )
    plan = adj._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "sbucket" in plan.split(
        "PartitionFilters"
    )[1][:160], plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan
    # and the guard content is exactly the pairs touching the id
    the_id = one.collect()[0][0]
    got = {(r["doc_a"], r["doc_b"]) for r in adj.collect()}
    want = {
        (r["doc_a"], r["doc_b"])
        for r in idx.pairs().collect()
        if the_id in (r["doc_a"], r["doc_b"])
    }
    assert got == want


def test_load_refuses_index_without_pairs_layout(spark, tmp_path):
    """An index whose stats params lack pairs_layout (written before the
    adjacency layout existed) is not served: load() raises and asks for
    a rebuild instead of reading its pairs in an unknown layout."""
    import json
    import shutil

    from alma_memory_spark.session import tiny_df

    docs = load_table(spark, SF_DIR, "documents")
    path = str(tmp_path / "old")
    idx = NearDupIndex.build(spark, docs, path, n_buckets=8)
    stats_root = os.path.join(idx.vroot, "stats")
    rows = []
    for r in spark.read.parquet(stats_root).collect():
        p = json.loads(r["params"])
        p.pop("pairs_layout")
        rows.append((json.dumps(p), r["n_docs"]))
    shutil.rmtree(stats_root)
    tiny_df(spark, rows, "params string, n_docs long").write.parquet(stats_root)
    with pytest.raises(ValueError, match="rebuild it"):
        NearDupIndex.load(spark, path)


def test_compact_folds_replay_debris(spark, tmp_path):
    """compact(): crash-replay debris (duplicate band/tok appends,
    over-counted stats deltas) folds away without recomputing —
    pairs and groups unchanged, membership rows deduplicated, n_docs
    exact again, and the compacted index keeps accepting adds."""
    from alma_memory_spark.session import tiny_df

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    idx = NearDupIndex.build(
        spark, docs.filter("doc_id % 5 != 0"), str(tmp_path / "cp"),
        n_buckets=8,
    )
    batch = docs.filter("doc_id % 5 = 0")
    idx.add(batch)
    idx.add(batch)  # replay: zero new pairs, duplicate membership rows
    n_true = docs.count()
    assert idx.n_docs > n_true  # stats delta over-counts under replay
    bands_dir = os.path.join(idx.vroot, "bands")
    rows_before = spark.read.parquet(bands_dir).count()
    pairs_before = _pairset(idx.pairs())
    groups_before = _groupmap(idx.groups())

    out = idx.compact()
    assert out.n_docs == n_true  # exact again
    assert _pairset(out.pairs()) == pairs_before
    assert _groupmap(out.groups()) == groups_before
    rows_after = spark.read.parquet(os.path.join(out.vroot, "bands")).count()
    assert rows_after < rows_before  # replay debris folded
    # the old handle is superseded; the compacted one keeps working
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="reload"):
        idx.add(batch)
    assert out.add(
        tiny_df(spark, [(990555, "entirely novel tokens qq zz")],
                "doc_id long, text string")
    ) == 0
    assert out.n_docs == n_true + 1


def test_superseded_handle_add_raises(spark, tmp_path):
    docs = load_table(spark, SF_DIR, "documents")
    v1 = NearDupIndex.build(
        spark, docs.filter("doc_id % 2 = 0"), str(tmp_path / "vg"),
        n_buckets=8,
    )
    NearDupIndex.build(spark, docs, str(tmp_path / "vg"), n_buckets=8)
    with pytest.raises(RuntimeError, match="reload"):
        v1.add(docs.filter("doc_id % 2 = 1"))


def test_streaming_neardup_maintenance_matches_batch(spark, tmp_path):
    """stream_documents_into_indexes(neardup_index=...): after the
    second half of the corpus replays through the file stream in
    micro-batches, the accumulated pair set equals a one-shot build
    over the full corpus — continuous corpus dedup."""
    from pyspark.sql import functions as F

    from alma_memory_spark.streaming.ingest import (
        stream_documents_into_indexes,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)

    idx = NearDupIndex.build(
        spark, half_a, str(tmp_path / "nd"), n_buckets=8
    )
    inbox = str(tmp_path / "inbox")
    half_b.repartition(4).write.parquet(inbox)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 2)
        .parquet(inbox)
    )
    batches = []
    q = stream_documents_into_indexes(
        stream, neardup_index=idx,
        checkpoint=str(tmp_path / "ckpt"), id_col="doc_id",
        on_batch=batches.append,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(batches) >= 2

    full = NearDupIndex.build(
        spark, docs, str(tmp_path / "nd_full"), n_buckets=8
    )
    assert _pairset(idx.pairs()) == _pairset(full.pairs())
    assert _groupmap(idx.groups()) == _groupmap(full.groups())
    assert idx.n_docs == full.n_docs


def test_band_cap_guards_degenerate_buckets(spark, tmp_path):
    """A corpus of identical docs puts every doc in one band group; a
    cap of 3 must suppress candidate generation entirely (no O(n^2)
    pair explosion), and the cap persists through load()."""
    from alma_memory_spark.session import tiny_df

    rows = [(i, "the same text every time") for i in range(20)]
    docs = tiny_df(spark, rows, "doc_id long, text string")
    capped = NearDupIndex.build(
        spark, docs, str(tmp_path / "cap"), n_buckets=4, band_cap=3
    )
    assert capped.pairs().count() == 0
    assert NearDupIndex.load(spark, str(tmp_path / "cap")).band_cap == 3
    # capped adds also generate nothing inside the oversized group
    assert capped.add(
        tiny_df(spark, [(100, "the same text every time")],
                "doc_id long, text string")
    ) == 0
    # uncapped control: the same corpus explodes into all-pairs
    full = NearDupIndex.build(
        spark, docs, str(tmp_path / "nocap"), n_buckets=4
    )
    assert full.pairs().count() == 20 * 19 // 2


def test_build_on_empty_corpus_and_first_add(spark, tmp_path):
    """An empty corpus must build a valid (empty) index — schema
    inference over the zero-file partitioned dirs used to abort — and
    the first add() against it works."""
    from alma_memory_spark.session import tiny_df

    empty = tiny_df(spark, [], "doc_id long, text string")
    idx = NearDupIndex.build(spark, empty, str(tmp_path / "e"), n_buckets=4)
    assert idx.n_docs == 0 and idx.pairs().count() == 0
    assert idx.groups().count() == 0
    docs = load_table(spark, SF_DIR, "documents").limit(50)
    idx.add(docs.select("doc_id", "text"))
    assert idx.n_docs == 50
    again = NearDupIndex.load(spark, str(tmp_path / "e"))
    assert again.n_docs == 50


def test_replay_does_not_shift_band_cap_counts(spark, tmp_path):
    """A replayed batch doubles its band rows on disk; the cap check
    must count each (doc, band) once, or a legitimately under-cap
    group goes silently mute for future adds."""
    from alma_memory_spark.session import tiny_df

    # 3 identical docs: band groups of size 3; cap 5 leaves headroom
    # for exactly two more members
    docs = tiny_df(
        spark,
        [(i, "same text for the cap test") for i in range(3)],
        "doc_id long, text string",
    )
    idx = NearDupIndex.build(
        spark, docs, str(tmp_path / "rc"), n_buckets=4, band_cap=5
    )
    assert idx.pairs().count() == 3
    batch = tiny_df(
        spark, [(10, "same text for the cap test")], "doc_id long, text string"
    )
    assert idx.add(batch) == 3  # 10 pairs with each of 0,1,2
    # replay the batch: doc 10's band rows double on disk. At the next
    # add the group holds 5 DISTINCT docs (== cap) but 6 raw rows —
    # counting raw rows would silently mute the group
    assert idx.add(batch) == 0
    batch2 = tiny_df(
        spark, [(11, "same text for the cap test")], "doc_id long, text string"
    )
    assert idx.add(batch2) == 4  # 11 pairs with 0,1,2,10


def test_band_geometry_must_fit_signature(spark, tmp_path):
    """Pinned (ADVICE r6): bands*rows > k would index sig past its end —
    concat_ws silently skips the NULLs and every doc shares degenerate
    band keys, flooding the candidate join. Must refuse loudly."""
    docs = load_table(spark, SF_DIR, "documents").limit(4)
    with pytest.raises(ValueError, match="bands\\*rows"):
        NearDupIndex.build(
            spark, docs, str(tmp_path / "idx"), k=8, bands=3, rows=4
        )


def test_groups_memo_serves_unchanged_pairs_with_zero_jobs(spark, tmp_path):
    """Pinned (VERDICT r6 #4): groups() persists its CC labels keyed by
    the pair-set fingerprint; a later groups() over an UNCHANGED pair
    set — including after an add() that appended no pairs — runs zero
    Spark jobs at call time and returns labels identical to fresh CC."""
    from alma_memory_spark.session import tiny_df

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    idx = NearDupIndex.build(spark, docs, str(tmp_path / "g"), n_buckets=4)
    fresh = _groupmap(idx.groups())  # computes + persists the memo
    assert fresh  # corpus has near-dups

    # an add that yields no new pairs must not invalidate the memo
    assert idx.add(
        tiny_df(spark, [(990001, "zz qq totally unique tokens xx")],
                "doc_id long, text string")
    ) == 0
    jid = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    served = idx.groups()
    assert spark.sparkContext._jsc.sc().dagScheduler().nextJobId() == jid
    assert _groupmap(served) == fresh

    # an add that DOES append pairs invalidates: groups recompute
    dup_src = docs.orderBy("doc_id").limit(1).collect()[0]
    n = idx.add(
        tiny_df(spark, [(990002, dup_src["text"])], "doc_id long, text string")
    )
    assert n >= 1
    regrouped = _groupmap(idx.groups())
    assert 990002 in regrouped and regrouped != fresh


def test_add_reports_band_cap_saturation(spark, tmp_path):
    """Pinned (VERDICT r6 #8): the silent part of the cap contract gets
    loud counters — add() returns capped_groups/dropped_band_rows and
    the stats table accumulates them for pipeline alarms."""
    from alma_memory_spark.operators.dedup_index import AddStats
    from alma_memory_spark.session import tiny_df

    rows = [(i, "the same text every time") for i in range(20)]
    docs = tiny_df(spark, rows, "doc_id long, text string")
    capped = NearDupIndex.build(
        spark, docs, str(tmp_path / "sat"), n_buckets=4, band_cap=3
    )
    st = capped.add(
        tiny_df(spark, [(100, "the same text every time")],
                "doc_id long, text string")
    )
    assert isinstance(st, AddStats) and st == 0  # int-compatible
    assert st.capped_groups >= 1  # both bands of the degenerate doc
    assert st.dropped_band_rows >= 21  # 20 built + 1 added, per band
    sat = capped.cap_saturation()
    # snapshots, not deltas: build AND the add each observed the
    # degenerate group; the aggregates are counts/maxima, never sums
    assert sat["ops_with_saturation"] == 2
    assert sat["max_capped_groups"] >= st.capped_groups
    assert sat["max_dropped_band_rows"] >= st.dropped_band_rows

    # an under-cap add reports zero saturation
    clean = NearDupIndex.build(
        spark, docs.filter("doc_id < 2"), str(tmp_path / "clean"),
        n_buckets=4, band_cap=50,
    )
    st2 = clean.add(
        tiny_df(spark, [(300, "fresh words only here")],
                "doc_id long, text string")
    )
    assert (st2.capped_groups, st2.dropped_band_rows) == (0, 0)


def test_memo_gc_age_floor_spares_young_superseded_fingerprints(
    spark, tmp_path
):
    """Pinned (ADVICE r7 #2): the keep-2 memo GC must not delete a
    superseded fingerprint dir that is younger than the age floor — a
    lazy DataFrame from an earlier groups() call reads its memo files
    at ACTION time, possibly well after a newer fingerprint published."""
    import os
    import time

    from alma_memory_spark.session import tiny_df

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    idx = NearDupIndex.build(spark, docs, str(tmp_path / "floor"), n_buckets=4)
    idx.groups().count()  # publishes memo #1
    mdir = os.path.join(idx.vroot, "groups_memo")
    (memo1,) = [d for d in os.listdir(mdir) if d.startswith("fp=")]
    now = time.time()
    # memo1 newest-but-one; a YOUNG superseded dir and an ANCIENT one
    os.utime(os.path.join(mdir, memo1), (now - 30, now - 30))
    for name, age in [("fp=young", 60.0), ("fp=ancient", 7200.0)]:
        os.makedirs(os.path.join(mdir, name))
        with open(os.path.join(mdir, name, "_SUCCESS"), "w"):
            pass
        os.utime(os.path.join(mdir, name), (now - age, now - age))
    # append pairs -> new fingerprint -> memo #2 compute triggers GC
    dup = docs.orderBy("doc_id").limit(1).collect()[0]
    assert idx.add(
        tiny_df(spark, [(990777, dup["text"])], "doc_id long, text string")
    ) >= 1
    idx.groups().count()
    left = set(os.listdir(mdir))
    assert "fp=ancient" not in left  # old AND beyond keep-2: reaped
    assert "fp=young" in left  # beyond keep-2 but under the age floor
    assert memo1 in left  # within keep-2 by mtime


def test_concurrent_groups_calls_race_safely(spark, tmp_path):
    """groups() is a READ api with no single-writer contract: two
    threads missing the memo simultaneously must both return correct
    labels (one wins the atomic rename, the loser discards staging)."""
    from concurrent.futures import ThreadPoolExecutor

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    idx = NearDupIndex.build(spark, docs, str(tmp_path / "race"), n_buckets=4)
    with ThreadPoolExecutor(4) as pool:
        results = list(pool.map(lambda _: _groupmap(idx.groups()), range(4)))
    assert all(r == results[0] for r in results) and results[0]
    import os

    memo_dir = os.path.join(idx.vroot, "groups_memo")
    dirs = os.listdir(memo_dir)
    # exactly one published fingerprint, no staging debris survives
    assert sum(1 for d in dirs if d.startswith("fp=") and ".stage-" not in d) == 1
