"""Feedback-learning benchmark + store migration / JSON round-trip."""

from pyspark.sql import functions as F

from alma_memory_spark import schemas
from alma_memory_spark.benchmarks.feedback_learning import run_feedback_learning
from alma_memory_spark.benchmarks.longmem import generate_corpus
from alma_memory_spark.sources.store import ParquetStore
from alma_memory_spark.testing import fixtures as FX


def test_feedback_learning_uplift(spark):
    # the COVERAGE.md r3 regime (LongMemEval-shaped geometry: salted
    # per-question vocabulary, multi-gold multi-session questions,
    # corpus sized so base R@5 ~ 0.27 like the reference's 0.258
    # operating point — 96 x 72 = 6912 sessions)
    corpus = generate_corpus(
        spark, n_questions=96, sessions_per_question=72, n_salt=3, multi_gold=4
    )
    rounds = run_feedback_learning(spark, corpus, rounds=3)
    assert len(rounds) == 4
    base, final = rounds[0].recall_at_5, rounds[-1].recall_at_5
    # weakened retriever leaves headroom; accurate-ish feedback must help
    assert base < 0.45
    assert final - base >= 0.10  # measured +0.115..+0.219 over 5 seeds


def test_store_migrate_adds_missing_columns(spark, tmp_path):
    store = ParquetStore(spark, str(tmp_path / "s"))
    # write heuristics WITHOUT the verification column (pre-migration shape)
    old = FX.seed_heuristics(spark).drop("verification_status")
    old.write.mode("append").partitionBy("project_id", "agent").parquet(
        str(tmp_path / "s" / "heuristics")
    )
    added = store.migrate("heuristics")
    assert added == ["verification_status"]
    df = store.read("heuristics")
    assert "verification_status" in df.columns
    assert df.filter(F.col("verification_status").isNull()).count() == df.count()
    # idempotent
    assert store.migrate("heuristics") == []


def test_store_json_roundtrip(spark, tmp_path):
    store = ParquetStore(spark, str(tmp_path / "s2"))
    store.append("heuristics", FX.seed_heuristics(spark))
    n = store.read("heuristics").count()
    store.export_json("heuristics", str(tmp_path / "export"))
    store2 = ParquetStore(spark, str(tmp_path / "s3"))
    store2.import_json("heuristics", str(tmp_path / "export"))
    df2 = store2.read("heuristics")
    assert df2.count() == n
    assert dict(df2.dtypes) == dict(
        spark.createDataFrame([], schemas.HEURISTICS).dtypes
    )


def test_overwrite_atomic_no_staging_leak(spark, tmp_path):
    import os

    root = str(tmp_path / "s3")
    store = ParquetStore(spark, root)
    store.append("heuristics", FX.seed_heuristics(spark))
    n = store.read("heuristics").count()
    # upsert triggers overwrite (read-modify-write of the same path)
    store.upsert("heuristics", FX.seed_heuristics(spark).limit(2))
    assert store.read("heuristics").count() == n
    # no staging/old copies accumulate per rewrite
    assert not os.path.isdir(os.path.join(root, "heuristics.staging"))
    assert not os.path.isdir(os.path.join(root, "heuristics.old"))


def test_overwrite_crash_recovery(spark, tmp_path):
    import os

    root = str(tmp_path / "s4")
    store = ParquetStore(spark, root)
    store.append("heuristics", FX.seed_heuristics(spark))
    n = store.read("heuristics").count()
    live = os.path.join(root, "heuristics")
    # simulate a crash between the two swap renames: live dir moved
    # aside, staging never renamed in
    os.rename(live, live + ".old")
    assert store.read("heuristics").count() == n  # _recover() healed it
    assert os.path.isdir(live) and not os.path.isdir(live + ".old")


def _partition_files(root, table):
    """{(proj_dir, agent_dir): {(filename, mtime_ns)}} for a partitioned table."""
    import os

    out = {}
    base = os.path.join(root, table)
    for pd in os.listdir(base):
        p = os.path.join(base, pd)
        if not (pd.startswith("project_id=") and os.path.isdir(p)):
            continue
        for ad in os.listdir(p):
            a = os.path.join(p, ad)
            if not (ad.startswith("agent=") and os.path.isdir(a)):
                continue
            out[(pd, ad)] = {
                (f, os.stat(os.path.join(a, f)).st_mtime_ns)
                for f in os.listdir(a)
                if not f.startswith(".")
            }
    return out


def test_upsert_rewrites_only_touched_partitions(spark, tmp_path):
    """The plain-Parquet MERGE contract: an upsert whose rows live in one
    (project_id, agent) partition must leave every other partition's
    files byte-untouched (same names, same mtimes) — at 100 TB this is
    the difference between rewriting one directory and the whole table."""
    root = str(tmp_path / "ps")
    store = ParquetStore(spark, root)
    seed = FX.seed_heuristics(spark)
    store.append("heuristics", seed)
    before = _partition_files(root, "heuristics")
    assert len(before) >= 2, "fixture must span multiple partitions"
    # upsert one partition's rows with bumped confidence
    one = seed.orderBy("id").limit(1)
    pair = one.select("project_id", "agent").first()
    update = seed.filter(
        (F.col("project_id") == pair["project_id"]) & (F.col("agent") == pair["agent"])
    ).withColumn("confidence", F.lit(0.99))
    n = store.read("heuristics").count()
    store.upsert("heuristics", update)
    after = _partition_files(root, "heuristics")
    touched_key = (f"project_id={pair['project_id']}", f"agent={pair['agent']}")
    for key in before:
        if key == touched_key:
            continue
        assert after[key] == before[key], f"untouched partition {key} was rewritten"
    got = store.read("heuristics")
    assert got.count() == n  # replaced, not appended
    assert (
        got.filter(
            (F.col("project_id") == pair["project_id"]) & (F.col("agent") == pair["agent"])
        )
        .filter(F.col("confidence") == 0.99)
        .count()
        == update.count()
    )
    import os

    assert not os.path.isdir(os.path.join(root, "heuristics.staging"))


def test_delete_scoped_drops_emptied_partition(spark, tmp_path):
    """Deleting every row of one partition removes its directory and
    leaves other partitions' files untouched."""
    root = str(tmp_path / "pd")
    store = ParquetStore(spark, root)
    seed = FX.seed_heuristics(spark)
    store.append("heuristics", seed)
    before = _partition_files(root, "heuristics")
    pair = seed.orderBy("id").limit(1).select("project_id", "agent").first()
    pred = (F.col("project_id") == pair["project_id"]) & (F.col("agent") == pair["agent"])
    doomed_n = store.read("heuristics").filter(pred).count()
    total = store.read("heuristics").count()
    assert store.delete("heuristics", pred, reason="test") == doomed_n
    after = _partition_files(root, "heuristics")
    touched_key = (f"project_id={pair['project_id']}", f"agent={pair['agent']}")
    assert touched_key not in after, "emptied partition dir must be removed"
    for key in before:
        if key != touched_key:
            assert after[key] == before[key]
    assert store.read("heuristics").count() == total - doomed_n


def test_partition_swap_crash_recovery(spark, tmp_path):
    """A crash between the partition swap renames leaves '.agent=...old'
    aside-dirs; _recover() must restore any whose live dir vanished."""
    import os

    root = str(tmp_path / "pc")
    store = ParquetStore(spark, root)
    store.append("heuristics", FX.seed_heuristics(spark))
    n = store.read("heuristics").count()
    base = os.path.join(root, "heuristics")
    proj = next(d for d in os.listdir(base) if d.startswith("project_id="))
    pd = os.path.join(base, proj)
    agent = next(d for d in os.listdir(pd) if d.startswith("agent="))
    # simulate: live partition renamed aside, staged copy never moved in
    os.rename(os.path.join(pd, agent), os.path.join(pd, "." + agent + ".old"))
    assert store.read("heuristics").count() == n  # healed on next read
    assert os.path.isdir(os.path.join(pd, agent))
    assert not os.path.isdir(os.path.join(pd, "." + agent + ".old"))


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the same key/count must sort-merge join
    with NO Exchange on either side — the co-located-join contract that
    makes id-keyed joins shuffle-free at scale."""
    from pyspark.sql import functions as F

    store = ParquetStore(spark, str(tmp_path / "sb"))
    left = spark.range(1000).select(
        F.col("id").cast("string").alias("id"), (F.col("id") * 2).alias("v")
    )
    right = spark.range(1000).select(
        F.col("id").cast("string").alias("id"), (F.col("id") * 3).alias("w")
    )
    tl = store.write_bucketed("left_t", left, buckets=8)
    tr = store.write_bucketed("right_t", right, buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(tl).join(spark.table(tr), "id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {tl}")
        spark.sql(f"DROP TABLE IF EXISTS {tr}")


def test_concurrent_upserts_different_partitions(spark, tmp_path):
    """Single-writer-per-table contract, enforced: two threads upserting
    DIFFERENT partitions of one table serialize on the per-table lock
    and both land (no torn swap, no lost update, no duplicate ids)."""
    import threading

    root = str(tmp_path / "cc")
    store = ParquetStore(spark, root)
    seed = FX.seed_heuristics(spark)
    store.append("heuristics", seed)
    n = store.read("heuristics").count()
    pairs = [
        (r["project_id"], r["agent"])
        for r in seed.select("project_id", "agent").distinct().collect()
    ]
    assert len(pairs) >= 2
    errs = []

    def bump(pair, conf):
        try:
            upd = seed.filter(
                (F.col("project_id") == pair[0]) & (F.col("agent") == pair[1])
            ).withColumn("confidence", F.lit(conf))
            # each thread its OWN store handle = own lock registry,
            # like two processes sharing the filesystem
            ParquetStore(spark, root).upsert("heuristics", upd)
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    t1 = threading.Thread(target=bump, args=(pairs[0], 0.91))
    t2 = threading.Thread(target=bump, args=(pairs[1], 0.92))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    got = store.read("heuristics")
    assert got.count() == n  # replaced in place, nothing lost/duplicated
    assert got.select("id").distinct().count() == n
    for pair, conf in [(pairs[0], 0.91), (pairs[1], 0.92)]:
        part = got.filter(
            (F.col("project_id") == pair[0]) & (F.col("agent") == pair[1])
        )
        assert part.count() == part.filter(F.col("confidence") == conf).count()


def test_emptied_partition_crash_leaves_aside_not_loss(spark, tmp_path):
    """A crash while committing a delete-that-empties-a-partition must
    never lose the partition unrecoverably: the swap renames it aside
    first, so the simulated crash state (aside present, live gone)
    rolls BACK via _recover instead of losing data."""
    import os

    root = str(tmp_path / "ec")
    store = ParquetStore(spark, root)
    store.append("heuristics", FX.seed_heuristics(spark))
    n = store.read("heuristics").count()
    base = os.path.join(root, "heuristics")
    proj = next(d for d in os.listdir(base) if d.startswith("project_id="))
    pd_ = os.path.join(base, proj)
    agent = next(d for d in os.listdir(pd_) if d.startswith("agent="))
    # simulate phase-A crash of an emptying swap: live dir went aside
    os.rename(os.path.join(pd_, agent), os.path.join(pd_, "." + agent + ".old"))
    assert store.read("heuristics").count() == n  # rolled back, not lost
    assert os.path.isdir(os.path.join(pd_, agent))


def test_upsert_verify_scope_catches_partition_change(spark, tmp_path):
    """The debug guard refuses an upsert whose key already lives in an
    UNTOUCHED partition (the 'key never changes partition' contract)."""
    import pytest

    root = str(tmp_path / "vs")
    store = ParquetStore(spark, root)
    seed = FX.seed_heuristics(spark)
    store.append("heuristics", seed)
    row = seed.orderBy("id").limit(1)
    moved = row.withColumn("agent", F.concat(F.col("agent"), F.lit("_other")))
    with pytest.raises(ValueError, match="other partitions"):
        store.upsert("heuristics", moved, verify_scope=True)
    # without the flag the stale twin survives silently — the guard is
    # exactly what detects that (documented contract)
    store2 = ParquetStore(spark, str(tmp_path / "vs2"))
    store2.append("heuristics", seed)
    store2.upsert("heuristics", moved)
    assert (
        store2.read("heuristics")
        .filter(F.col("id") == row.first()["id"])
        .count()
        == 2
    )


def test_bucketed_table_names_distinct_across_roots(spark, tmp_path):
    """Two stores whose roots share a basename must not collide in the
    session catalog (mode('overwrite') would clobber the other store)."""
    a = ParquetStore(spark, str(tmp_path / "a" / "store"))
    b = ParquetStore(spark, str(tmp_path / "b" / "store"))
    df_a = spark.range(10).select(F.col("id").cast("string").alias("id"))
    df_b = spark.range(20).select(F.col("id").cast("string").alias("id"))
    ta = a.write_bucketed("t", df_a, buckets=4)
    tb = b.write_bucketed("t", df_b, buckets=4)
    try:
        assert ta != tb
        assert spark.table(ta).count() == 10
        assert spark.table(tb).count() == 20
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_concurrent_upserts_shared_handle(spark, tmp_path):
    """Same contract as test_concurrent_upserts_different_partitions but
    through ONE shared store handle: the per-thread reentrance key must
    not let a second thread slip past the table lock."""
    import threading

    root = str(tmp_path / "cs")
    store = ParquetStore(spark, root)
    seed = FX.seed_heuristics(spark)
    store.append("heuristics", seed)
    n = store.read("heuristics").count()
    pairs = [
        (r["project_id"], r["agent"])
        for r in seed.select("project_id", "agent").distinct().collect()
    ]
    errs = []

    def bump(pair, conf):
        try:
            upd = seed.filter(
                (F.col("project_id") == pair[0]) & (F.col("agent") == pair[1])
            ).withColumn("confidence", F.lit(conf))
            store.upsert("heuristics", upd)  # SHARED handle
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    ts = [
        threading.Thread(target=bump, args=(pairs[i], 0.8 + i / 100))
        for i in range(2)
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    got = store.read("heuristics")
    assert got.count() == n
    assert got.select("id").distinct().count() == n


def test_txn_marker_rolls_back_torn_swap(spark, tmp_path):
    """A crash ANYWHERE inside the marker-bracketed swap must roll the
    whole logical write back: simulate a mid-phase-B crash (marker
    present, one partition renamed aside with a half-written new live
    dir) and assert the next read restores the pre-write state."""
    import os

    root = str(tmp_path / "txn")
    store = ParquetStore(spark, root)
    store.append("heuristics", FX.seed_heuristics(spark))
    n = store.read("heuristics").count()
    base = os.path.join(root, "heuristics")
    proj = next(d for d in os.listdir(base) if d.startswith("project_id="))
    pd_ = os.path.join(base, proj)
    agent = next(d for d in os.listdir(pd_) if d.startswith("agent="))
    live = os.path.join(pd_, agent)
    aside = os.path.join(pd_, "." + agent + ".old")
    # simulate: txn PLAN written, live renamed aside (phase A), a
    # partial new dir renamed in for it (phase B), plus a BRAND-NEW
    # partition (no aside) also renamed in — then CRASH
    import json

    new_proj = os.path.join(base, "project_id=brand_new")
    os.makedirs(os.path.join(new_proj, "agent=fresh"))
    with open(base + ".txn", "w") as f:
        json.dump(
            {
                "dsts": [
                    os.path.join(proj, agent),
                    os.path.join("project_id=brand_new", "agent=fresh"),
                ],
                "asides": [os.path.join(proj, "." + agent + ".old")],
                "dropped": [],
            },
            f,
        )
    os.rename(live, aside)
    os.makedirs(live)
    with open(os.path.join(live, "part-junk.parquet"), "wb") as f:
        f.write(b"not a real parquet file")
    # next read heals: junk dropped, aside restored, the brand-new
    # partition (which has no aside to roll back to) removed, marker
    # cleared — the WHOLE logical write rolled back
    assert store.read("heuristics").count() == n
    assert not os.path.exists(base + ".txn")
    assert not os.path.exists(aside)
    assert not os.path.exists(os.path.join(new_proj, "agent=fresh"))


def test_post_commit_crash_drops_debris_not_data(spark, tmp_path):
    """A crash AFTER marker removal (mid-cleanup) leaves .old/.dropped
    asides with the new data already live: recovery must delete the
    debris and keep the committed state — never resurrect a dropped
    partition."""
    import os

    root = str(tmp_path / "pcc")
    store = ParquetStore(spark, root)
    seed = FX.seed_heuristics(spark)
    store.append("heuristics", seed)
    base = os.path.join(root, "heuristics")
    proj = next(d for d in os.listdir(base) if d.startswith("project_id="))
    pd_ = os.path.join(base, proj)
    agents = [d for d in os.listdir(pd_) if d.startswith("agent=")]
    assert len(agents) >= 2
    # simulate post-commit debris: one swapped partition's .old aside
    # (live present) and one partition fully renamed to .dropped (its
    # delete committed at marker removal)
    a_swap, a_drop = agents[0], agents[1]
    import shutil as _sh

    _sh.copytree(
        os.path.join(pd_, a_swap), os.path.join(pd_, "." + a_swap + ".old")
    )
    os.rename(os.path.join(pd_, a_drop), os.path.join(pd_, "." + a_drop + ".dropped"))
    df = store.read("heuristics")  # triggers recovery
    assert not os.path.exists(os.path.join(pd_, "." + a_swap + ".old"))
    assert not os.path.exists(os.path.join(pd_, "." + a_drop + ".dropped"))
    assert not os.path.exists(os.path.join(pd_, a_drop))  # stays deleted
    assert df.filter(F.col("agent") == a_swap.split("=", 1)[1]).count() > 0


def test_pre_phase_a_crash_preserves_original_data(spark, tmp_path):
    """A crash immediately after writing the txn plan — before ANY
    rename — leaves the original data in the planned destinations with
    no asides. Rollback must NOT remove those destinations (an early
    version rmtree'd every planned dst and destroyed the table)."""
    import json
    import os

    root = str(tmp_path / "ppa")
    store = ParquetStore(spark, root)
    seed = FX.seed_heuristics(spark)
    store.append("heuristics", seed)
    n = store.read("heuristics").count()
    base = os.path.join(root, "heuristics")
    proj = next(d for d in os.listdir(base) if d.startswith("project_id="))
    pd_ = os.path.join(base, proj)
    agent = next(d for d in os.listdir(pd_) if d.startswith("agent="))
    # marker written with a full plan, then crash before phase A
    with open(base + ".txn", "w") as f:
        json.dump(
            {
                "dsts": [os.path.join(proj, agent)],
                "asides": [os.path.join(proj, "." + agent + ".old")],
                "dropped": [],
            },
            f,
        )
    assert store.read("heuristics").count() == n  # nothing lost
    assert not os.path.exists(base + ".txn")
    assert os.path.isdir(os.path.join(pd_, agent))


def test_overwrite_post_commit_old_debris_cleaned(spark, tmp_path):
    """overwrite() crash after the staging rename-in leaves the new data
    live plus a stale <table>.old: recovery must drop the debris (and
    keep the new data), or every subsequent read stays on the slow
    dirty path forever."""
    import os
    import shutil as _sh

    root = str(tmp_path / "od")
    store = ParquetStore(spark, root)
    store.append("heuristics", FX.seed_heuristics(spark))
    n = store.read("heuristics").count()
    live = os.path.join(root, "heuristics")
    _sh.copytree(live, live + ".old")  # simulate the undropped old copy
    assert store.read("heuristics").count() == n
    assert not os.path.isdir(live + ".old")
    assert not store._dirty("heuristics")  # fast path restored


def test_legacy_v1_marker_rolls_back_from_disk(spark, tmp_path):
    """An unparseable/legacy txn marker (the v1 'swap' text) must fall
    back to the disk-scan rollback — restoring every on-disk aside —
    never just unlink the marker (the debris path would then delete the
    pre-crash originals)."""
    import os

    root = str(tmp_path / "v1")
    store = ParquetStore(spark, root)
    store.append("heuristics", FX.seed_heuristics(spark))
    n = store.read("heuristics").count()
    base = os.path.join(root, "heuristics")
    proj = next(d for d in os.listdir(base) if d.startswith("project_id="))
    pd_ = os.path.join(base, proj)
    agent = next(d for d in os.listdir(pd_) if d.startswith("agent="))
    live = os.path.join(pd_, agent)
    os.rename(live, os.path.join(pd_, "." + agent + ".old"))
    os.makedirs(live)
    with open(os.path.join(live, "part-junk.parquet"), "wb") as f:
        f.write(b"junk")
    with open(base + ".txn", "w") as f:
        f.write("swap\n")  # v1 format
    assert store.read("heuristics").count() == n  # originals restored
    assert not os.path.exists(base + ".txn")


def test_upsert_recovers_dead_writers_torn_state_first(spark, tmp_path):
    """A writer that starts a swap over a table carrying a dead writer's
    marker must repair that state BEFORE writing its own plan —
    otherwise the old plan is truncated and the dead writer's asides
    become deletable debris."""
    import json
    import os

    root = str(tmp_path / "dw")
    store = ParquetStore(spark, root)
    seed = FX.seed_heuristics(spark)
    store.append("heuristics", seed)
    n = store.read("heuristics").count()
    base = os.path.join(root, "heuristics")
    proj = next(d for d in os.listdir(base) if d.startswith("project_id="))
    pd_ = os.path.join(base, proj)
    agent = next(d for d in os.listdir(pd_) if d.startswith("agent="))
    live = os.path.join(pd_, agent)
    # dead writer: plan + aside + junk live
    with open(base + ".txn", "w") as f:
        json.dump(
            {
                "dsts": [os.path.join(proj, agent)],
                "asides": [os.path.join(proj, "." + agent + ".old")],
                "dropped": [],
            },
            f,
        )
    os.rename(live, os.path.join(pd_, "." + agent + ".old"))
    os.makedirs(live)
    with open(os.path.join(live, "junk.parquet"), "wb") as f:
        f.write(b"junk")
    # a NEW writer upserts one row of a DIFFERENT partition: the dead
    # writer's state must be rolled back, then the upsert applied
    pair = (
        seed.filter(F.col("agent") != agent.split("=", 1)[1])
        .select("project_id", "agent")
        .first()
    )
    upd = seed.filter(
        (F.col("project_id") == pair["project_id"]) & (F.col("agent") == pair["agent"])
    ).withColumn("confidence", F.lit(0.97))
    store.upsert("heuristics", upd)
    got = store.read("heuristics")
    assert got.count() == n
    assert not os.path.exists(base + ".txn")
    assert not store._dirty("heuristics")
    # the dead writer's partition is back to its original rows
    assert (
        got.filter(F.col("agent") == agent.split("=", 1)[1]).count()
        == seed.filter(F.col("agent") == agent.split("=", 1)[1]).count()
    )


def test_overwrite_cleans_trash_and_stays_clean(spark, tmp_path):
    """overwrite() renames the old copy to .trash before deleting it
    (shrinking the reader-blocking window); leftover trash from a crash
    is swept by the next overwrite and never flags the table dirty."""
    import os

    root = str(tmp_path / "tr")
    store = ParquetStore(spark, root)
    store.append("heuristics", FX.seed_heuristics(spark))
    live = os.path.join(root, "heuristics")
    os.makedirs(live + ".trash")  # simulate crash between rename and rmtree
    assert not store._dirty("heuristics")  # trash is not dirty residue
    n = store.read("heuristics").count()
    store.overwrite("heuristics", store.read("heuristics"))
    assert store.read("heuristics").count() == n
    assert not os.path.isdir(live + ".trash")
    assert not os.path.isdir(live + ".old")


def _pair_file_counts(root, table):
    import os

    out = {}
    path = os.path.join(root, table)
    for proj in os.listdir(path):
        pd = os.path.join(path, proj)
        if not (proj.startswith("project_id=") and os.path.isdir(pd)):
            continue
        for ag in os.listdir(pd):
            apd = os.path.join(pd, ag)
            if ag.startswith("agent=") and os.path.isdir(apd):
                out[(proj, ag)] = len(
                    [f for f in os.listdir(apd) if f.endswith(".parquet")]
                )
    return out


def test_compact_merges_small_files_preserving_content(spark, tmp_path):
    """Repeated appends degrade a partition into many small files;
    compact() folds each partition back to ~1 file (tiny data, 128 MB
    target) without changing a single row — the OPTIMIZE equivalent on
    the swap protocol."""
    root = str(tmp_path / "cp")
    store = ParquetStore(spark, root)
    seed = FX.seed_heuristics(spark)
    for _ in range(4):
        store.append("heuristics", seed.limit(0))  # footer-only files
    store.append("heuristics", seed)
    store.append("heuristics", seed.withColumn("id", F.concat(F.lit("b_"), F.col("id"))))
    before_rows = sorted(
        (r["id"], r["confidence"]) for r in store.read("heuristics").collect()
    )
    before = _pair_file_counts(root, "heuristics")
    assert max(before.values()) >= 2, "setup must produce multiple files"
    report = store.compact("heuristics")
    assert report, "compaction must trigger on multi-file partitions"
    after = _pair_file_counts(root, "heuristics")
    for key, n in after.items():
        assert n <= 2, f"{key} still has {n} files after compaction"
    after_rows = sorted(
        (r["id"], r["confidence"]) for r in store.read("heuristics").collect()
    )
    assert after_rows == before_rows
    for rep in report.values():
        assert rep["files_after"] < rep["files_before"]
    # second run is a no-op: everything already within budget
    assert store.compact("heuristics") == {}


def test_compact_flat_table(spark, tmp_path):
    """Non-partitioned tables compact via the crash-safe overwrite."""
    root = str(tmp_path / "cf")
    store = ParquetStore(spark, root)
    fb = FX.seed_feedback(spark)
    for _ in range(3):
        store.append("feedback", fb.limit(0))
    store.append("feedback", fb)
    before_rows = store.read("feedback").count()
    report = store.compact("feedback")
    assert report and "<table>" in report
    n_after, _ = store._flat_file_stats("feedback")
    assert n_after <= 2
    assert store.read("feedback").count() == before_rows


def test_compact_preserves_null_keyed_partition(spark, tmp_path):
    """A hive NULL partition (__HIVE_DEFAULT_PARTITION__) must survive
    compaction — a plain equi-join against the plan would drop it."""
    root = str(tmp_path / "cn")
    store = ParquetStore(spark, root)
    seed = FX.seed_heuristics(spark).limit(6).withColumn(
        "agent", F.lit(None).cast("string")
    )
    n = 0
    for tag in ("a", "b", "c"):
        store.append(
            "heuristics", seed.withColumn("id", F.concat(F.lit(tag), F.col("id")))
        )
        n += 6
    report = store.compact("heuristics")
    assert report, "null-keyed partition should have been compacted"
    assert store.read("heuristics").count() == n
    assert store.read("heuristics").filter(F.col("agent").isNull()).count() == n


def test_maintenance_compact_job(spark, tmp_path):
    """A scheduler job with compact=True reports per-table compaction."""
    from datetime import datetime, timezone

    from alma_memory_spark.engine import AlmaSpark
    from alma_memory_spark.operators.maintenance import (
        MaintenanceJob,
        MaintenanceScheduler,
    )

    eng = AlmaSpark(spark, str(tmp_path / "cm"))
    seed = FX.seed_heuristics(spark)
    for tag in ("a", "b", "c"):
        eng.store.append(
            "heuristics", seed.withColumn("id", F.concat(F.lit(tag), F.col("id")))
        )
    sched = MaintenanceScheduler(
        eng, clock=lambda: datetime(2026, 1, 1, tzinfo=timezone.utc)
    )
    sched.register_job(
        MaintenanceJob(
            name="opt",
            project_id="proj_alpha",
            interval_hours=24,
            tables=["heuristics"],
            compact=True,
        )
    )
    res = sched.run_job("opt")
    assert res.success, res.error
    assert "heuristics" in res.compacted and res.compacted["heuristics"]


def test_compact_crash_at_commit_rolls_back(spark, tmp_path, monkeypatch):
    """Compaction rides the same .txn-bracketed swap as upsert: a crash
    at the commit point (marker unlink) must roll the WHOLE rewrite
    back — original small files restored, no row lost — and a clean
    retry must then succeed."""
    import os as _os

    import pytest

    root = str(tmp_path / "cc")
    store = ParquetStore(spark, root)
    seed = FX.seed_heuristics(spark)
    for tag in ("a", "b", "c"):
        store.append(
            "heuristics", seed.withColumn("id", F.concat(F.lit(tag), F.col("id")))
        )
    rows_before = sorted(r["id"] for r in store.read("heuristics").collect())
    files_before = _pair_file_counts(root, "heuristics")

    real_remove = _os.remove

    def boom(p, *a, **k):
        if str(p).endswith(".txn"):
            raise OSError("simulated crash at commit point")
        return real_remove(p, *a, **k)

    monkeypatch.setattr("alma_memory_spark.sources.store.os.remove", boom)
    with pytest.raises(OSError, match="simulated crash"):
        store.compact("heuristics")
    monkeypatch.undo()

    # marker still present -> the next read rolls the swap back
    assert sorted(r["id"] for r in store.read("heuristics").collect()) == rows_before
    assert _pair_file_counts(root, "heuristics") == files_before
    report = store.compact("heuristics")
    assert report, "retry after rollback must compact"
    assert sorted(r["id"] for r in store.read("heuristics").collect()) == rows_before


def test_writes_are_time_sorted_within_files(spark, tmp_path):
    """Data-skipping layout: every parquet file the store writes holds
    its rows in event-time order (leading partition cols keep the
    partitionBy writer from re-sorting), so parquet row-group min/max
    stats prune temporal predicates at scale. Verified on the physical
    files with pyarrow, for both the append and the partition-swap
    (upsert) write paths."""
    import glob

    import pyarrow.parquet as pq

    from alma_memory_spark import schemas
    from alma_memory_spark.sources.store import ParquetStore

    import random
    from datetime import datetime, timedelta, timezone

    store = ParquetStore(spark, str(tmp_path / "s"))
    rng = random.Random(7)
    base = datetime(2024, 1, 1, tzinfo=timezone.utc)
    days = list(range(200))
    rng.shuffle(days)  # arrival order deliberately != event-time order
    rows = [
        {
            "id": f"o{i}",
            "agent": f"a{i % 2 + 1}",
            "project_id": "p",
            "task_type": "t",
            "success": True,
            "timestamp": base + timedelta(days=d),
        }
        for i, d in enumerate(days)
    ]
    df = spark.createDataFrame(rows, schemas.OUTCOMES).repartition(4)
    store.append("outcomes", df)
    store.upsert("outcomes", df.limit(40))

    files = glob.glob(str(tmp_path / "s" / "outcomes" / "**" / "*.parquet"),
                      recursive=True)
    assert files
    checked = 0
    for f in files:
        ts = pq.read_table(f, columns=["timestamp"]).column("timestamp").to_pylist()
        if len(ts) > 1:
            assert ts == sorted(ts), f
            checked += 1
    assert checked > 0


def test_concurrent_same_partition_upserts_lose_nothing(spark, tmp_path):
    """The table lock must cover the READ too: a writer that lists
    files before another writer's swap commits would merge against the
    stale listing and silently drop the other's rows. Two threads
    upserting different ids into the SAME (project, agent) partition,
    several rounds — every id must survive."""
    from concurrent.futures import ThreadPoolExecutor
    from datetime import datetime, timezone

    from alma_memory_spark import schemas
    from alma_memory_spark.sources.store import ParquetStore

    store = ParquetStore(spark, str(tmp_path / "s"))
    now = datetime(2024, 2, 15, tzinfo=timezone.utc)

    def row(i):
        return {
            "id": f"o{i}",
            "agent": "a1",
            "project_id": "p",
            "task_type": "t",
            "success": True,
            "timestamp": now,
        }

    store.append("outcomes", spark.createDataFrame([row(0)], schemas.OUTCOMES))

    def writer(base):
        for i in range(3):
            store.upsert(
                "outcomes",
                spark.createDataFrame([row(base + i)], schemas.OUTCOMES),
            )

    with ThreadPoolExecutor(max_workers=2) as pool:
        f1 = pool.submit(writer, 100)
        f2 = pool.submit(writer, 200)
        f1.result()
        f2.result()

    ids = {r["id"] for r in store.read("outcomes").select("id").collect()}
    assert ids == {"o0", "o100", "o101", "o102", "o200", "o201", "o202"}


def test_high_cardinality_pairs_guard_and_forced_compaction(spark, tmp_path):
    """The partition-cardinality guard at ~1k (project, agent) pairs
    (SCALE.md rule): partition_health flags the table, the maintenance
    scheduler force-compacts it (min_files=1) even when the job didn't
    opt into compaction, and post-compaction every pair holds ONE file
    — the bounded-listing layout. Reads stay correct throughout."""
    from datetime import datetime, timezone

    from alma_memory_spark import schemas
    from alma_memory_spark.engine import AlmaSpark
    from alma_memory_spark.operators.maintenance import (
        MaintenanceJob,
        MaintenanceScheduler,
    )

    now = [datetime(2024, 2, 15, tzinfo=timezone.utc)]
    eng = AlmaSpark(spark, str(tmp_path / "hc"), clock=lambda: now[0])
    store = eng.store
    n_pairs = 1000

    def batch():
        rows = spark.range(n_pairs * 2).selectExpr(
            "concat('id', id) AS id",
            "concat('agent', id % 1000) AS agent",
            f"concat('proj', (id % {n_pairs}) div 1000) AS project_id",
            "'t' AS task_type",
            "CAST(NULL AS STRING) AS task_description",
            "true AS success",
            "CAST(NULL AS STRING) AS strategy_used",
            "CAST(NULL AS INT) AS duration_ms",
            "CAST(NULL AS STRING) AS error_message",
            "CAST(NULL AS STRING) AS user_feedback",
            "timestamp'2024-02-01 00:00:00' AS timestamp",
            "CAST(NULL AS STRING) AS verification_status",
            "CAST(NULL AS ARRAY<FLOAT>) AS embedding",
            "CAST(NULL AS MAP<STRING,STRING>) AS metadata",
        )
        return spark.createDataFrame(rows.collect(), schemas.OUTCOMES)

    # two appends -> >= 2 files per pair across 1000 pairs
    df = batch()
    store.append("outcomes", df)
    store.append("outcomes", df.selectExpr(
        "concat(id, 'b') AS id", *[c for c in df.columns if c != "id"]
    ))
    health = store.partition_health("outcomes")
    assert health["n_pairs"] == n_pairs
    assert health["files_per_pair"] >= 2.0
    assert not health["over_threshold"]  # 1000 == threshold, not over

    sched = MaintenanceScheduler(eng, clock=lambda: now[0])
    sched.register_job(
        MaintenanceJob(
            name="guard",
            project_id="proj0",
            interval_hours=1,
            tables=["outcomes"],
            compact=False,  # the job did NOT opt in...
            compact_when_pairs_over=500,  # ...the guard forces it
        )
    )
    res = sched.run_job("guard")
    assert res.success, res.error
    assert res.compacted.get("outcomes"), "guard should have forced compaction"
    after = store.partition_health("outcomes")
    assert after["n_pairs"] == n_pairs
    assert after["files_per_pair"] == 1.0  # one file per pair
    assert store.read("outcomes").count() == n_pairs * 4


def test_read_plan_cache_version_pinned(spark, tmp_path):
    """r10 (VERDICT r9 #4): read() serves the SAME analyzed plan while
    the table's write-version stamp is unchanged, and any mutation —
    through this handle or ANOTHER handle on the same root (the
    cross-engine case that blocked the r9 cache) — invalidates it."""
    root = str(tmp_path / "pc")
    store = ParquetStore(spark, root)
    seed = FX.seed_heuristics(spark)
    store.append("heuristics", seed)
    d1 = store.read("heuristics")
    d2 = store.read("heuristics")
    assert d2 is d1, "warm read must serve the cached plan object"
    # declared_schema variant caches separately
    f1 = store.read("heuristics", declared_schema=True)
    assert f1 is not d1
    assert store.read("heuristics", declared_schema=True) is f1
    # a write through the same handle invalidates
    store.append(
        "heuristics", seed.withColumn("id", F.concat(F.lit("b_"), F.col("id")))
    )
    d3 = store.read("heuristics")
    assert d3 is not d1
    assert d3.count() == 2 * seed.count()
    # a write through ANOTHER handle (cross-engine) invalidates too
    other = ParquetStore(spark, root)
    other.delete(
        "heuristics", F.col("id").startswith("b_"), audit=False
    )
    d4 = store.read("heuristics")
    assert d4 is not d3
    assert d4.count() == seed.count()


def test_read_plan_cache_compact_under_read(spark, tmp_path):
    """The r9 blocker scenario: a cached read plan must not survive a
    compaction (directory swap) by another handle — the swap deletes
    the files the cached listing points at."""
    root = str(tmp_path / "pcc")
    store = ParquetStore(spark, root)
    seed = FX.seed_heuristics(spark)
    for _ in range(4):
        store.append("heuristics", seed.limit(0))  # file debris
    store.append("heuristics", seed)
    store.append(
        "heuristics", seed.withColumn("id", F.concat(F.lit("c_"), F.col("id")))
    )
    before = sorted(
        (r["id"], r["confidence"]) for r in store.read("heuristics").collect()
    )
    cached = store.read("heuristics")
    assert cached is store.read("heuristics")
    # cross-engine compaction swaps partition dirs
    other = ParquetStore(spark, root)
    assert other.compact("heuristics")
    fresh = store.read("heuristics")
    assert fresh is not cached, "compact must invalidate the cached plan"
    after = sorted(
        (r["id"], r["confidence"]) for r in fresh.collect()
    )
    assert after == before
