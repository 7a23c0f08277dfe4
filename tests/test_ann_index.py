"""Persisted IVF index: build/load round-trip, exactness inside probed
cells, and the partition-pruning plan contract."""

import os

import numpy as np

from alma_memory_spark.operators.ann_index import IVFIndex
from alma_memory_spark.plans.registry import QUERY_VEC
from alma_memory_spark.session import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _brute_force(emb_rows, probed, qn, k):
    """Driver-side replica of search(): exact cosine over probed cells."""
    cells = {}
    for r in emb_rows:
        v = np.array(r["embedding"], dtype=np.float64)
        vn = v / max(np.linalg.norm(v), 1e-300)
        cells[r["vec_id"]] = vn
    # assignment replica
    hits = []
    for vid, vn in cells.items():
        hits.append((vid, vn))
    out = []
    for vid, vn in hits:
        if vid in probed:
            out.append((vid, round(float(vn @ qn), 6)))
    out.sort(key=lambda t: (-t[1], t[0]))
    return out[:k]


def _numpy_probe(idx, query_vec, k, nprobe, filters=None, live_ids=None):
    """Reference for every probe form: one query's exact cosine top-k
    over its probed cells, scored by numpy on the driver from the
    guarded lists. [(id, similarity)] at the 6dp contract, DESC with
    id ASC ties; multi-membership copies score identically, so one is
    kept."""
    probed, qn = idx.probe_cells(query_vec, nprobe)
    rows = (
        idx._guarded_lists(probed, filters, live_ids)
        .select("id", "embedding")
        .collect()
    )
    if not rows:
        return []
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
    best = dict(zip((r["id"] for r in rows), np.round(Vn @ qn, 6).tolist()))
    return sorted(best.items(), key=lambda t: (-t[1], t[0]))[:k]


def _numpy_batch(idx, queries, k, nprobe, filters=None):
    """_numpy_probe per query, as (qid, id, similarity) in the batch
    forms' (qid, similarity DESC, id ASC) order."""
    return [
        (str(q), i, s)
        for q, v in sorted(queries, key=lambda t: str(t[0]))
        for i, s in _numpy_probe(idx, v, k, nprobe, filters)
    ]


def test_ivf_build_search_roundtrip(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "ivf")
    idx = IVFIndex.build(spark, emb, path, cent_every=50)
    # lists are hive-partitioned by cell
    parts = [d for d in os.listdir(os.path.join(idx.vroot, "lists")) if d.startswith("cell=")]
    assert len(parts) >= 2
    # load() round-trips the quantizer exactly
    idx2 = IVFIndex.load(spark, path)
    assert (idx.cells == idx2.cells).all()
    assert np.allclose(idx.Cn, idx2.Cn)

    top = idx2.search(QUERY_VEC, k=10, nprobe=3).collect()
    assert len(top) == 10
    sims = [r["similarity"] for r in top]
    assert sims == sorted(sims, reverse=True)

    # exactness within the probed cells: recompute member ids of the
    # probed cells driver-side and brute-force the cosine top-k
    probed, qn = idx2.probe_cells(QUERY_VEC, nprobe=3)
    members = {
        r["id"]
        for r in spark.read.parquet(os.path.join(idx.vroot, "lists"))
        .where("cell in ({})".format(",".join(str(c) for c in probed)))
        .select("id")
        .collect()
    }
    emb_rows = [r for r in emb.select("vec_id", "embedding").collect() if r["vec_id"] in members]
    expect = _brute_force(emb_rows, members, qn, 10)
    got = [(r["id"], r["similarity"]) for r in top]
    assert got == expect


def test_ivf_search_prunes_partitions(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "ivfp")
    idx = IVFIndex.build(spark, emb, path, cent_every=50)
    df = idx.search(QUERY_VEC, k=5, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    head, tail = plan.split("PartitionFilters", 1)
    assert "cell" in tail[:200], "cell predicate must prune partitions, not rows"
    # and the executed scan must actually touch fewer files than exist
    # (inputFiles() lists the unpruned relation, so read the scan
    # node's numFiles metric after running the job instead)
    df.collect()
    jplan = df._jdf.queryExecution().executedPlan()
    # the SQL-routed probe (r13) wraps in AdaptiveSparkPlanExec whose
    # collectLeaves() is itself — unwrap to the executed final plan
    if "AdaptiveSparkPlan" in jplan.getClass().getSimpleName():
        jplan = jplan.finalPhysicalPlan()
    leaves = jplan.collectLeaves()
    num_files = None
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if "FileScan" in leaf.nodeName() or "Scan" in leaf.nodeName():
            m = leaf.metrics()
            if m.contains("numFiles"):
                num_files = m.apply("numFiles").value()
                break
    total_files = sum(
        len(files)
        for _root, _dirs, files in os.walk(os.path.join(idx.vroot, "lists"))
        if any(f.endswith(".parquet") for f in files)
    )
    n_cells = len(
        [d for d in os.listdir(os.path.join(idx.vroot, "lists")) if d.startswith("cell=")]
    )
    assert n_cells > 2
    assert num_files is not None and num_files < total_files


def test_ivf_incremental_add_matches_brute_force(spark, tmp_path):
    """add() assigns with the STORED quantizer and appends to cell
    partitions: after adding the second half of the corpus, search over
    the probed cells equals the driver-side brute force over exactly the
    vectors whose nearest stored centroid is a probed cell."""
    import numpy as np

    emb = load_table(spark, SF_DIR, "embeddings")
    half_a = emb.filter("vec_id % 2 = 0")
    half_b = emb.filter("vec_id % 2 = 1")
    path = str(tmp_path / "ivf_inc")
    idx = IVFIndex.build(spark, half_a, path, cent_every=50)
    cells_before = (idx.cells.copy(), idx.Cn.copy())
    idx.add(half_b)
    # quantizer untouched by add
    assert (idx.cells == cells_before[0]).all()
    assert np.allclose(idx.Cn, cells_before[1])

    probed, qn = idx.probe_cells(QUERY_VEC, nprobe=3)
    top = idx.search(QUERY_VEC, k=10, nprobe=3).collect()

    # driver-side replica: assign EVERY vector (both halves) to its
    # nearest stored centroid, keep those landing in probed cells
    expect = []
    for r in emb.select("vec_id", "embedding").collect():
        v = np.array(r["embedding"], dtype=np.float64)
        vn = v / max(np.linalg.norm(v), 1e-300)
        csims = np.round(idx.Cn @ vn, 6)
        cell = int(idx.cells[int(np.argmax(csims))])
        if cell in probed:
            expect.append((r["vec_id"], round(float(vn @ qn), 6)))
    expect.sort(key=lambda t: (-t[1], t[0]))
    got = [(r["id"], r["similarity"]) for r in top]
    assert got == expect[:10]
    # ids from BOTH halves are present in the index lists
    ids = {
        r["id"]
        for r in spark.read.parquet(os.path.join(idx.vroot, "lists")).select("id").collect()
    }
    assert any(i % 2 == 0 for i in ids) and any(i % 2 == 1 for i in ids)


def test_kmeans_refined_build_stays_exact_and_improves_cells(spark, tmp_path):
    """kmeans_iters refinement: centroids move (and stay unit-norm),
    the exactness-within-probed-cells invariant is unchanged, and on a
    corpus with obvious cluster structure the refined quantizer puts a
    cluster's members into the probed cell of a query at that cluster's
    center."""
    import numpy as np

    rng = np.random.default_rng(3)
    centers = rng.normal(size=(4, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for k in range(4):
        for p in centers[k] + 0.05 * rng.normal(size=(50, 16)):
            rows.append((vid, [float(x) for x in p]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    seeded = IVFIndex.build(spark, emb, str(tmp_path / "a"), cent_every=50)
    refined = IVFIndex.build(
        spark, emb, str(tmp_path / "b"), cent_every=50, kmeans_iters=3
    )
    assert not np.allclose(seeded.Cn, refined.Cn)  # refinement moved them
    assert np.allclose(np.linalg.norm(refined.Cn, axis=1), 1.0)

    q = [float(x) for x in centers[1]]
    # with tight clusters + refined centroids, nprobe=1 must recover the
    # exact top-10 (all from cluster 1)
    got = {r["id"] for r in refined.search(q, k=10, nprobe=1).collect()}
    V = np.array([r[1] for r in rows])
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    qn = np.array(q) / np.linalg.norm(q)
    sims = np.round(Vn @ qn, 6)
    order = np.lexsort((np.arange(len(rows)), -sims))
    want = set(order[:10])
    assert got == want


def test_ivf_forget_tombstones_then_rebuild_clears(spark, tmp_path):
    """forget() excludes ids from search() IMMEDIATELY (read-your-
    deletes, the reference's delete->dirty->lazy-rebuild contract,
    sqlite_local.py:510-521) and a rebuild clears the tombstones."""
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "ivf_ts")
    idx = IVFIndex.build(spark, emb, path, cent_every=50)
    before = [r["id"] for r in idx.search(QUERY_VEC, k=10, nprobe=3).collect()]
    doomed = before[:3]
    assert idx.forget(doomed) == 3
    after = [r["id"] for r in idx.search(QUERY_VEC, k=10, nprobe=3).collect()]
    assert not set(doomed) & set(after)
    assert len(after) == 10  # deeper survivors refill the top-k
    # survivors keep their relative order
    survivors = [i for i in before if i not in doomed]
    assert after[: len(survivors)] == survivors
    # a reloaded handle sees the persisted tombstones too
    idx2 = IVFIndex.load(spark, path)
    assert not set(doomed) & {
        r["id"] for r in idx2.search(QUERY_VEC, k=10, nprobe=3).collect()
    }
    # rebuild folds the deletes away: tombstones dir gone, ranking is
    # the no-tombstone ranking again
    rebuilt = IVFIndex.build(spark, emb, path, cent_every=50)
    assert rebuilt.tombstones() is None
    assert [
        r["id"] for r in rebuilt.search(QUERY_VEC, k=10, nprobe=3).collect()
    ] == before


def test_ivf_string_ids_and_live_id_guard(spark, tmp_path):
    """String-id corpora (memory-table ids) index via xxhash cells; the
    live_ids semi-join guards scope/liveness before the top-k cut."""
    emb = load_table(spark, SF_DIR, "embeddings").limit(200)
    docs = emb.selectExpr("concat('dk_', vec_id) AS id", "embedding")
    path = str(tmp_path / "ivf_str")
    idx = IVFIndex.build(spark, docs, path, id_col="id", cent_every=7)
    assert idx.id_type == "string"
    assert IVFIndex.load(spark, path).id_type == "string"
    top = idx.search(QUERY_VEC, k=8, nprobe=3).collect()
    assert len(top) == 8 and all(r["id"].startswith("dk_") for r in top)
    # live-id guard: restricting to half the corpus excludes the rest
    live = docs.filter("substring(id, 4) % 2 = 0").select("id")
    guarded = idx.search(QUERY_VEC, k=8, nprobe=3, live_ids=live).collect()
    assert all(int(r["id"][3:]) % 2 == 0 for r in guarded)


def test_ivf_scope_columns_filter_inside_pruned_scan(spark, tmp_path):
    """extra_cols at build ride the lists: a scoped search applies its
    predicate INSIDE the pruned scan (PushedFilters — no corpus join),
    returns exactly the semi-join guard's results, and unknown filter
    columns are rejected."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_DIR, "embeddings").limit(300)
    docs = emb.selectExpr(
        "vec_id", "embedding", "concat('agent', vec_id % 3) AS agent"
    )
    path = str(tmp_path / "ivf_scope")
    idx = IVFIndex.build(
        spark, docs, path, cent_every=25, extra_cols=["agent"]
    )
    assert IVFIndex.load(spark, path).extra_cols == [("agent", "string")]

    scoped = idx.search(QUERY_VEC, k=8, nprobe=4, filters={"agent": "agent1"})
    rows = scoped.collect()
    assert rows
    # identical to the live-id semi-join guard over the same scope
    live = docs.filter("agent = 'agent1'").selectExpr("vec_id AS id")
    guard = idx.search(QUERY_VEC, k=8, nprobe=4, live_ids=live).collect()
    assert [(r["id"], r["similarity"]) for r in rows] == [
        (r["id"], r["similarity"]) for r in guard
    ]
    # the predicate reaches the scan (pushed), not a join
    plan = scoped._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "agent" in plan.split("PushedFilters", 1)[1][:400]
    with _pytest.raises(ValueError, match="not indexed"):
        idx.search(QUERY_VEC, filters={"nope": 1})


def test_integer_and_bool_scope_filters_compare_exactly(spark, tmp_path):
    """Integer scope values reach the SQL probe as integral literals:
    the bigint tenants 2^53 and 2^53+1 are one double, so a double
    literal would serve the other tenant's rows. Bool values read back
    as TRUE/FALSE. Pinned over search() and the batch subquery with
    every cell probed."""
    big = 2**53
    docs = load_table(spark, SF_DIR, "embeddings").selectExpr(
        "vec_id",
        "embedding",
        f"CAST({big} + vec_id % 2 AS BIGINT) AS tenant",
        "vec_id % 2 = 0 AS even",
    ).filter("vec_id < 200")
    idx = IVFIndex.build(
        spark, docs, str(tmp_path / "ivf_int"), cent_every=7,
        extra_cols=["tenant", "even"],
    )
    every = len(idx.cells)
    odd = set(range(1, 200, 2))
    for flt in ({"tenant": big + 1}, {"tenant": [big + 1]}, {"even": False}):
        got = idx.search(QUERY_VEC, k=200, nprobe=every, filters=flt).collect()
        assert {r["id"] for r in got} == odd, flt
        sub = idx.search_batch_sql_subquery(
            [("q", QUERY_VEC)], k=200, nprobe=every, filters=flt
        )
        got = spark.sql(f"SELECT * FROM {sub} c").collect()
        assert {r["id"] for r in got} == odd, flt


def test_empty_scope_filter_list_matches_nothing(spark, tmp_path):
    """An empty value list admits no row. `IN ()` does not parse, so
    search() raised ParseException where search_batch returned 0 rows;
    both SQL probes now read 0 rows with every cell probed."""
    docs = load_table(spark, SF_DIR, "embeddings").selectExpr(
        "vec_id", "embedding", "concat('agent', vec_id % 3) AS agent"
    ).filter("vec_id < 200")
    idx = IVFIndex.build(
        spark, docs, str(tmp_path / "ivf_empty"), cent_every=7, extra_cols=["agent"]
    )
    every = len(idx.cells)
    flt = {"agent": []}
    assert idx.search(QUERY_VEC, k=10, nprobe=every, filters=flt).collect() == []
    sub = idx.search_batch_sql_subquery(
        [("q", QUERY_VEC)], k=10, nprobe=every, filters=flt
    )
    assert spark.sql(f"SELECT * FROM {sub} c").collect() == []


def test_forget_tombstones_publish_only_after_store_commit(spark, tmp_path):
    """ADVICE r4 (engine.py:827): forget() STAGES index tombstones from
    the in-lock doomed frame but publishes them only after the store
    delete commits. A delete that fails after the doom closure ran must
    leave ZERO tombstones — the rows stayed live, and excluding them
    from ANN serving until the next rebuild is silent result loss."""
    import os as _os

    import pytest as _pytest

    from alma_memory_spark.engine import AlmaSpark

    eng = AlmaSpark(spark, str(tmp_path / "stage"))
    for i in range(10):
        eng.add_knowledge("a1", "p1", "d", f"staged tombstone fact {i}")
    rep = eng.index_vectors("domain_knowledge", cent_every=3)
    idx = eng._load_ivf("domain_knowledge")

    real_delete = eng.store.delete

    def failing_delete(table, predicate, **kw):
        # the doom closure runs against a live read (staging happens)...
        predicate(eng.store.read(table))
        # ...and then the commit explodes
        raise RuntimeError("synthetic commit failure")

    eng.store.delete = failing_delete
    with _pytest.raises(RuntimeError, match="synthetic"):
        eng.forget("domain_knowledge", "p1", quota=2)
    # nothing published, staging cleaned, ANN still serves every row
    assert idx.tombstones() is None
    staging = _os.path.join(idx.vroot, "tombstones_staging")
    assert not _os.path.isdir(staging) or not _os.listdir(staging)
    assert len(
        eng.search_vectors(
            "staged tombstone fact", agent="a1", project_id="p1",
            top_k=10, nprobe=rep["n_cells"],
        )
    ) == 10

    # the real delete path publishes exactly the committed doomed set
    eng.store.delete = real_delete
    assert eng.forget("domain_knowledge", "p1", quota=2) == 8
    assert idx.tombstones() is not None and idx.tombstones().count() == 8
    assert not _os.path.isdir(staging) or not _os.listdir(staging)
    assert len(
        eng.search_vectors(
            "staged tombstone fact", agent="a1", project_id="p1",
            top_k=10, nprobe=rep["n_cells"],
        )
    ) == 2


def test_versioned_rebuild_swaps_atomically_and_gcs(spark, tmp_path):
    """ADVICE r4 (ann_index.py:193): build() must never overwrite the
    live lists in place. A handle loaded BEFORE a rebuild keeps serving
    its own version's files (the previous version survives one swap);
    _CURRENT resolves new loads to the fresh build; versions two swaps
    old are GC-ed; a pre-versioning FLAT layout still loads."""
    import shutil

    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "ivf_v")
    half = emb.filter("vec_id % 2 = 0")

    v1 = IVFIndex.build(spark, half, path, cent_every=50)
    assert os.path.basename(v1.vroot) == "v1"
    old_handle = IVFIndex.load(spark, path)
    before = [(r["id"], r["similarity"])
              for r in old_handle.search(QUERY_VEC, k=5, nprobe=3).collect()]

    v2 = IVFIndex.build(spark, emb, path, cent_every=50)
    assert os.path.basename(v2.vroot) == "v2"
    # the pre-swap handle still serves ITS version, byte-identical
    again = [(r["id"], r["similarity"])
             for r in old_handle.search(QUERY_VEC, k=5, nprobe=3).collect()]
    assert again == before
    assert os.path.isdir(os.path.join(path, "v1"))  # retained for readers
    # fresh loads resolve the new version
    assert IVFIndex.load(spark, path).vroot == v2.vroot
    assert IVFIndex.load(spark, path).search(
        QUERY_VEC, k=5, nprobe=3
    ).count() == 5

    v3 = IVFIndex.build(spark, emb, path, cent_every=25)
    assert os.path.basename(v3.vroot) == "v3"
    assert not os.path.isdir(os.path.join(path, "v1"))  # two swaps old: GC
    assert os.path.isdir(os.path.join(path, "v2"))

    # flat-layout compatibility: demote v3 to a pre-versioning layout
    flat = str(tmp_path / "ivf_flat")
    shutil.copytree(v3.vroot, flat)
    legacy = IVFIndex.load(spark, flat)
    assert legacy.vroot == flat
    assert legacy.search(QUERY_VEC, k=5, nprobe=3).count() == 5


def test_search_batch_matches_per_query_search(spark, tmp_path):
    """search_batch: N queries amortized over ONE pruned scan must
    return, per query, exactly search()'s rows (same 6dp rounding and
    tiebreaks) — including under scope filters and tombstones."""
    emb = load_table(spark, SF_DIR, "embeddings")
    docs = emb.selectExpr(
        "vec_id", "embedding", "concat('agent', vec_id % 3) AS agent"
    )
    path = str(tmp_path / "ivf_batch")
    idx = IVFIndex.build(spark, docs, path, cent_every=25, extra_cols=["agent"])
    qrows = emb.filter("vec_id IN (3, 17, 29)").collect()
    queries = [(r["vec_id"], r["embedding"]) for r in qrows]

    batch = idx.search_batch(queries, k=8, nprobe=3).collect()
    assert {r["qid"] for r in batch} == {"3", "17", "29"}
    for qid, vec in queries:
        single = idx.search(vec, k=8, nprobe=3).collect()
        got = [
            (r["id"], r["similarity"]) for r in batch if r["qid"] == str(qid)
        ]
        assert got == [(r["id"], r["similarity"]) for r in single], qid

    # scoped batch == scoped singles
    sb = idx.search_batch(
        queries, k=5, nprobe=4, filters={"agent": "agent1"}
    ).collect()
    for qid, vec in queries:
        single = idx.search(
            vec, k=5, nprobe=4, filters={"agent": "agent1"}
        ).collect()
        got = [(r["id"], r["similarity"]) for r in sb if r["qid"] == str(qid)]
        assert got == [(r["id"], r["similarity"]) for r in single], qid

    # tombstones hold for the batch path too
    doomed = [batch[0]["id"]]
    idx.forget(doomed)
    after = idx.search_batch(queries, k=8, nprobe=3).collect()
    assert doomed[0] not in {r["id"] for r in after}

    assert idx.search_batch([], k=3).count() == 0


def test_superseded_handle_mutations_fail_loud(spark, tmp_path):
    """A handle two rebuilds stale points at a GC-ed version dir; its
    add/add_epoch/forget must raise instead of silently recreating the
    deleted dir with data nothing will ever serve."""
    import pytest as _pytest

    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "ivf_gc")
    v1 = IVFIndex.build(spark, emb.filter("vec_id % 2 = 0"), path, cent_every=50)
    v1.forget([2])  # still CURRENT: mutation lands
    IVFIndex.build(spark, emb, path, cent_every=50)       # v2 (v1 retained)
    newer = emb.filter("vec_id % 2 = 1")
    # ONE swap stale is already fatal for writes: v1 is retained for
    # its READERS, but a mutation into it would never be served (the
    # streaming-sink-across-rebuild data-loss mode)
    with _pytest.raises(RuntimeError, match="rebuild swapped"):
        v1.add(newer)
    with _pytest.raises(RuntimeError, match="rebuild swapped"):
        v1.add_epoch(newer, epoch=0)
    with _pytest.raises(RuntimeError, match="rebuild swapped"):
        v1.forget([4])
    IVFIndex.build(spark, emb, path, cent_every=25)       # v3 (v1 GC-ed)
    with _pytest.raises(RuntimeError, match="rebuild swapped"):
        v1.add(newer)
    # the CURRENT handle still works
    assert IVFIndex.load(spark, path).search(QUERY_VEC, k=3, nprobe=2).count() == 3


def test_commit_version_gc_spares_racer_claim(tmp_path):
    """Two unlocked builds race: B claims v2 (atomic rename) but has
    not published _CURRENT yet when A's later build claims v3 and
    commits. GC must spare B's claimed-but-unpublished v2 — deleting
    it would leave B's eventual _CURRENT publish dangling. Only
    versions below the PREVIOUS (two commits superseded under every
    ordering) are reaped."""
    import time as _time

    from alma_memory_spark.operators import _index_version as iv

    path = str(tmp_path / "idx")
    os.makedirs(path)

    def _build(content):
        s = iv.begin_version(path)
        with open(os.path.join(s, "data"), "w") as f:
            f.write(content)
        return iv.commit_version(path, s, ())

    assert os.path.basename(_build("v1")) == "v1"
    # racer B: claimed v2 on disk, _CURRENT publish still in flight
    os.makedirs(os.path.join(path, "v2"))
    with open(os.path.join(path, "v2", "data"), "w") as f:
        f.write("racer")
    # A reads prev=v1, bumps past the claim, commits v3
    assert os.path.basename(_build("v3")) == "v3"
    assert iv.resolve_vroot(path).endswith("v3")
    assert os.path.isdir(os.path.join(path, "v2")), "racer claim GC-ed"
    # next commit: prev=v3, so v1 AND v2 are now two commits stale
    assert os.path.basename(_build("v4")) == "v4"
    assert not os.path.isdir(os.path.join(path, "v1"))
    assert not os.path.isdir(os.path.join(path, "v2"))
    assert os.path.isdir(os.path.join(path, "v3"))

    # staging reap keys on the NEWEST mtime in the tree: a live long
    # build's top-level dir is old while files still land in subdirs
    live = os.path.join(path, ".build-live")
    os.makedirs(os.path.join(live, "lists"))
    old = _time.time() - 2 * iv._STAGING_TTL_SECONDS
    os.utime(live, (old, old))  # stale top-level dir...
    with open(os.path.join(live, "lists", "part"), "w") as f:
        f.write("fresh write")  # ...but a file just landed
    dead = os.path.join(path, ".build-dead")
    os.makedirs(dead)
    with open(os.path.join(dead, "part"), "w") as f:
        f.write("x")
    for p in (dead, os.path.join(dead, "part")):
        os.utime(p, (old, old))
    _build("v5")
    assert os.path.isdir(live), "live concurrent build reaped"
    assert not os.path.isdir(dead), "crashed build's staging kept"


def test_pq_refine_all_equals_exact_and_roundtrips(spark, tmp_path):
    """IVF-PQ contract: PQ only decides WHICH refine*k candidates reach
    the exact-cosine re-rank, so with refine covering the probed cells
    search_pq must equal search() bit-for-bit — after build, after an
    incremental add (which must encode the new vectors), under scope
    filters, after forget(), and through a load() roundtrip."""
    emb = load_table(spark, SF_DIR, "embeddings")
    docs = emb.selectExpr(
        "vec_id", "embedding", "concat('agent', vec_id % 3) AS agent"
    )
    path = str(tmp_path / "ivf_pq")
    idx = IVFIndex.build(
        spark, docs.filter("vec_id % 2 = 0"), path,
        cent_every=25, pq_m=8, extra_cols=["agent"],
    )
    ALL = 10**6  # refine factor covering every probed row

    def pairs(df):
        return [(r["id"], r["similarity"]) for r in df.collect()]

    assert pairs(idx.search_pq(QUERY_VEC, k=10, nprobe=4, refine=ALL)) == pairs(
        idx.search(QUERY_VEC, k=10, nprobe=4)
    )

    idx.add(docs.filter("vec_id % 2 = 1"))  # add must PQ-encode too
    full = pairs(idx.search(QUERY_VEC, k=10, nprobe=4))
    assert pairs(idx.search_pq(QUERY_VEC, k=10, nprobe=4, refine=ALL)) == full

    assert pairs(
        idx.search_pq(QUERY_VEC, k=5, nprobe=4, refine=ALL,
                      filters={"agent": "agent1"})
    ) == pairs(idx.search(QUERY_VEC, k=5, nprobe=4, filters={"agent": "agent1"}))

    doomed = full[0][0]
    idx.forget([doomed])
    assert doomed not in {
        r["id"]
        for r in idx.search_pq(QUERY_VEC, k=10, nprobe=4, refine=ALL).collect()
    }

    re = IVFIndex.load(spark, path)
    assert re.pq is not None and re.pq[0] == 8
    assert pairs(re.search_pq(QUERY_VEC, k=10, nprobe=4, refine=ALL)) == pairs(
        idx.search_pq(QUERY_VEC, k=10, nprobe=4, refine=ALL)
    )
    # a non-PQ index refuses the PQ path loudly
    plain = IVFIndex.build(
        spark, docs.limit(100), str(tmp_path / "plain"), cent_every=25
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="without PQ"):
        plain.search_pq(QUERY_VEC, k=3)


def test_pq_small_refine_recall_stays_high(spark, tmp_path):
    """With a SMALL refine factor the ADC pass does real pruning; the
    measured recall vs exact search must stay high (sf0.1 measured
    0.9-1.0 @ refine=4 over 5 queries — assert a safe floor), and the
    approximate pass must not affect served scores (they come from the
    exact re-rank: every returned (id, score) appears in the exact
    ranking with the same score)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "ivf_pq_r")
    idx = IVFIndex.build(spark, emb, path, cent_every=25, pq_m=8)
    qrows = emb.filter("vec_id IN (3, 17, 29, 101)").collect()
    recalls = []
    for r in qrows:
        v = r["embedding"]
        exact = {
            (x["id"], x["similarity"])
            for x in idx.search(v, k=10, nprobe=4).collect()
        }
        got = [
            (x["id"], x["similarity"])
            for x in idx.search_pq(v, k=10, nprobe=4, refine=4).collect()
        ]
        exact_scores = dict(exact)
        for gid, gs in got:
            assert exact_scores.get(gid) == gs, "re-rank score not exact"
        recalls.append(len({g[0] for g in got} & {e[0] for e in exact}) / 10)
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_commit_forget_superseded_version_drops_staging(spark, tmp_path):
    """commit_forget through a handle a rebuild superseded must NOT
    publish tombstones into the retained-but-no-longer-current version
    dir (dead data no new load serves — ADVICE r5): the rebuild took
    the table lock after the delete's commit, so the doomed ids are
    already absent from the new lists. The staging dir is dropped."""
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "ivf_stale_forget")
    v1 = IVFIndex.build(spark, emb, path, cent_every=50)
    doomed = emb.select("vec_id").limit(2)
    staged = v1.stage_forget(doomed)
    assert os.path.isdir(staged)
    IVFIndex.build(spark, emb, path, cent_every=50)  # v2 supersedes
    v1.commit_forget(staged)
    assert not os.path.isdir(staged), "staging retained after stale publish"
    assert not os.path.isdir(
        os.path.join(v1.vroot, "tombstones")
    ), "tombstones published into a superseded version"
    # the CURRENT version never saw the staged set and serves normally
    cur = IVFIndex.load(spark, path)
    assert not os.path.isdir(os.path.join(cur.vroot, "tombstones"))
    assert cur.search(QUERY_VEC, k=3, nprobe=2).count() == 3
    # a CURRENT handle's stage->commit still publishes
    staged2 = cur.stage_forget(doomed)
    cur.commit_forget(staged2)
    assert os.path.isdir(os.path.join(cur.vroot, "tombstones"))


def test_multiassign_index_search_has_no_duplicate_ids(spark, tmp_path):
    """r9: an n_assign=2 (multi-membership) index — built for the
    SemDedupIndex recall knob — stores each vector in its top-2 cells;
    every search path must still return each id at most once, add()
    must keep multi-membership, and load() restores the knob."""
    emb = load_table(spark, SF_DIR, "embeddings")
    a = emb.filter("vec_id % 10 < 7")
    b = emb.filter("vec_id % 10 >= 7")
    path = str(tmp_path / "ivf2")
    idx = IVFIndex.build(spark, a, path, cent_every=50, n_assign=2)
    idx.add(b)
    # lists hold ~2 rows per vector (capped by n_cells)
    lists = spark.read.parquet(os.path.join(idx.vroot, "lists"))
    n_vecs = emb.count()
    assert n_vecs < lists.count() <= 2 * n_vecs
    # each id appears in at most 2 distinct cells, never twice in one
    per = lists.groupBy("id").count().collect()
    assert max(r["count"] for r in per) <= 2
    dup_in_cell = lists.groupBy("id", "cell").count().filter("count > 1")
    assert dup_in_cell.count() == 0

    idx2 = IVFIndex.load(spark, path)
    assert idx2.n_assign == 2
    top = idx2.search(QUERY_VEC, k=10, nprobe=3).collect()
    ids = [r["id"] for r in top]
    assert len(ids) == len(set(ids)) == 10
    batch = idx2.search_batch([("q0", QUERY_VEC)], k=10, nprobe=3).collect()
    assert [(r["id"], r["similarity"]) for r in batch] == [
        (r["id"], r["similarity"]) for r in top
    ]


def test_compact_to_folds_lists_preserves_epochs_and_results(spark, tmp_path):
    """r9 (VERDICT r8 #2): compact_to folds base lists + committed
    epoch segments - tombstones into one file per cell partition with
    zero recompute; search results, applied epochs (replay still
    no-ops), and the quantizer are unchanged."""
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "ivfc")
    idx = IVFIndex.build(
        spark, emb.filter("vec_id % 10 < 6"), path, cent_every=50
    )
    for m, ep in ((6, 1), (7, 2)):
        assert idx.add_epoch(emb.filter(f"vec_id % 10 = {m}"), epoch=ep)
    idx.add(emb.filter("vec_id % 10 = 8"))
    victims = [r["vec_id"] for r in emb.filter("vec_id % 10 = 9").limit(3).collect()]
    idx.forget(victims)

    def listset(i):
        return {
            (r["id"], r["cell"])
            for r in i._lists_df().select("id", "cell").collect()
        }

    def search_rows(i):
        return [
            (r["id"], r["similarity"])
            for r in i.search(QUERY_VEC, k=10, nprobe=3).collect()
        ]

    before_lists = listset(idx)
    before_search = search_rows(idx)
    out = idx.compact_to(path)
    # tombstoned ids fold OUT of the lists; everything else is equal
    assert listset(out) == {t for t in before_lists if t[0] not in victims}
    assert search_rows(out) == before_search
    assert out.tombstones() is None
    assert out.applied_epochs() == {1, 2}
    # a crash-replayed committed epoch still no-ops
    assert out.add_epoch(emb.filter("vec_id % 10 = 6"), epoch=1) is False
    assert (out.cells == idx.cells).all() and np.allclose(out.Cn, idx.Cn)
    # one file per cell partition
    lists_root = os.path.join(out.vroot, "lists")
    for d in os.listdir(lists_root):
        full = os.path.join(lists_root, d)
        if os.path.isdir(full) and d.startswith("cell="):
            assert sum(1 for f in os.listdir(full) if f.endswith(".parquet")) == 1
    # superseded handle refuses writes
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="[Rr]eload"):
        idx.add(emb.filter("vec_id % 10 = 9"))


def test_lists_plan_memo_invalidates_on_same_mtime_rewrite(spark, tmp_path):
    """ADVICE r12: the _lists_df memo keys on the base dir's recursive
    file listing, not its mtime — a rewrite landing within the same
    coarse-mtime second (simulated by pinning dir AND file mtimes back
    to their pre-change values) must still invalidate, because part
    files carry fresh names/sizes."""
    emb = load_table(spark, SF_DIR, "embeddings")
    half_a = emb.filter("vec_id % 2 = 0")
    half_b = emb.filter("vec_id % 2 = 1")
    path = str(tmp_path / "ivf_memo")
    idx = IVFIndex.build(spark, half_a, path, cent_every=50)
    base = os.path.join(idx.vroot, "lists")

    p1 = idx._lists_df()
    assert idx._lists_df() is p1, "unchanged layout must memo-hit"

    stamps = {}
    for root, _dirs, files in os.walk(base):
        st = os.stat(root)
        stamps[root] = (st.st_atime, st.st_mtime)
        for fn in files:
            fp = os.path.join(root, fn)
            s = os.stat(fp)
            stamps[fp] = (s.st_atime, s.st_mtime)

    idx.add(half_b)  # appends fresh part files into the cell dirs

    # pin every PRE-EXISTING path's mtime back: the old mtime-based key
    # would see an unchanged base mtime and serve the stale plan
    for p, (at, mt) in stamps.items():
        if os.path.exists(p):
            os.utime(p, (at, mt))

    p2 = idx._lists_df()
    assert p2 is not p1, "new part files must invalidate the memo"
    assert idx._lists_df() is p2, "and the fresh plan memoizes again"


def test_probe_forms_match_numpy_oracle(spark, tmp_path):
    """search(), search_batch() and both SQL subquery texts return the
    numpy oracle's rows over the probed cells, at full precision of
    the 6dp contract; the single-query probe's plan has no Python
    node."""
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "ivf_kern")
    idx = IVFIndex.build(spark, emb, path, cent_every=50)

    want = _numpy_probe(idx, QUERY_VEC, 15, 3)
    assert len(want) == 15
    single = idx.search(QUERY_VEC, k=15, nprobe=3)
    assert [(r["id"], r["similarity"]) for r in single.collect()] == want
    plan = single._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan
    sub = idx.search_sql_subquery(QUERY_VEC, k=15, nprobe=3)
    assert [
        (r["id"], r["similarity"])
        for r in spark.sql(
            f"SELECT * FROM {sub} c ORDER BY `similarity` DESC, `id` ASC"
        ).collect()
    ] == want

    qs = [
        (r["vec_id"], r["embedding"])
        for r in emb.filter("vec_id in (3, 17, 29)").collect()
    ]
    want_b = _numpy_batch(idx, qs, 10, 3)
    assert [
        (r["qid"], r["id"], r["similarity"])
        for r in idx.search_batch(qs, k=10, nprobe=3).collect()
    ] == want_b
    sub = idx.search_batch_sql_subquery(qs, k=10, nprobe=3)
    assert [
        (r["qid"], r["id"], r["similarity"])
        for r in spark.sql(
            f"SELECT * FROM {sub} c "
            "ORDER BY `qid`, `similarity` DESC, `id` ASC"
        ).collect()
    ] == want_b


def test_search_live_ids_runs_sql_probe_and_drops_its_view(spark, tmp_path):
    """search(live_ids=...) is the SQL probe plus a semi-join on a
    per-call temp view, after the tombstone anti-join and before the
    top-k cut: no Python node in the executed plan, the numpy oracle's
    rows, and no alma_live_* view left in the catalog."""
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "ivf_live")
    idx = IVFIndex.build(spark, emb, path, cent_every=50)
    live = emb.filter("vec_id % 3 = 0").select("vec_id")

    def leftover():
        return [
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith("alma_live_")
        ]

    first = idx.search(QUERY_VEC, k=10, nprobe=3, live_ids=live).collect()
    assert len(first) == 10 and all(r["id"] % 3 == 0 for r in first)
    idx.forget([first[0]["id"]])

    res = idx.search(QUERY_VEC, k=10, nprobe=3, live_ids=live)
    assert leftover() == []
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan
    got = [(r["id"], r["similarity"]) for r in res.collect()]
    assert got == _numpy_probe(idx, QUERY_VEC, 10, 3, live_ids=live)
    assert first[0]["id"] not in {i for i, _s in got}
    assert got[:9] == [(r["id"], r["similarity"]) for r in first[1:]]
    assert leftover() == []


def test_sql_subquery_matches_search(spark, tmp_path):
    """r13 (VERDICT r12 #4): search_sql_subquery's text form must be
    BIT-identical to search() — same ids, same
    full-precision similarities — including under scope filters and
    after forget() tombstones (read-your-deletes through the SQL
    probe) and add() (stable view refresh)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "ivf_sqltext")
    half_a = emb.filter("vec_id % 2 = 0")
    half_b = emb.filter("vec_id % 2 = 1")
    idx = IVFIndex.build(spark, half_a, path, cent_every=50)

    def both(k=12, nprobe=3, filters=None):
        a = idx.search(QUERY_VEC, k=k, nprobe=nprobe, filters=filters).collect()
        sql = idx.search_sql_subquery(QUERY_VEC, k=k, nprobe=nprobe, filters=filters)
        b = spark.sql(f"SELECT * FROM {sql} x").collect()
        assert [(r["id"], r["similarity"]) for r in a] == [
            (r["id"], r["similarity"]) for r in b
        ]
        return a

    r1 = both()
    assert len(r1) == 12

    # add() appends list files: the stable view must refresh (same
    # name, fresh plan) and serve the new rows
    idx.add(half_b)
    r2 = both()
    assert {r["id"] for r in r2} != {r["id"] for r in r1} or len(r2) == 12

    # forget() tombstones exclude immediately through the SQL probe
    victim = r2[0]["id"]
    idx.forget([victim])
    r3 = both()
    assert victim not in {r["id"] for r in r3}

    # unindexed filter refuses like search()
    import pytest

    with pytest.raises(ValueError, match="not indexed"):
        idx.search_sql_subquery(QUERY_VEC, filters={"nope": 1})


def test_search_jvm_parser_mode_safe_fallback(spark, tmp_path):
    """ADVICE r13 #1: search() routes through SQL TEXT, so
    its string filter literals must read back the same under
    spark.sql.parser.escapedStringLiterals=true — pinned with a
    backslash-carrying scope value, the case an escape-based literal
    would silently mis-match: both the subquery form and search()
    return the default mode's rows."""
    emb = load_table(spark, SF_DIR, "embeddings").limit(300)
    docs = emb.selectExpr(
        "vec_id",
        "embedding",
        r"concat('ag\\', vec_id % 2) AS agent",  # values 'ag\0' / 'ag\1'
    )
    path = str(tmp_path / "ivf_parser")
    idx = IVFIndex.build(
        spark, docs, path, cent_every=25, extra_cols=["agent"]
    )
    flt = {"agent": "ag\\1"}
    want = [
        (r["id"], r["similarity"])
        for r in idx.search(QUERY_VEC, k=8, nprobe=4, filters=flt).collect()
    ]
    assert want, "default mode must serve the backslash-scoped rows"

    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        sub = idx.search_sql_subquery(QUERY_VEC, k=8, nprobe=4, filters=flt)
        assert [
            (r["id"], r["similarity"])
            for r in spark.sql(f"SELECT * FROM {sub} x").collect()
        ] == want
        got = [
            (r["id"], r["similarity"])
            for r in idx.search(
                QUERY_VEC, k=8, nprobe=4, filters=flt
            ).collect()
        ]
        assert got == want
        # filterless probes carry no string literal: same rows too
        base_legacy = [
            (r["id"], r["similarity"])
            for r in idx.search(QUERY_VEC, k=8, nprobe=4).collect()
        ]
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", "false")
    base_default = [
        (r["id"], r["similarity"])
        for r in idx.search(QUERY_VEC, k=8, nprobe=4).collect()
    ]
    assert base_legacy == base_default


def test_batch_sql_subquery_matches(spark, tmp_path):
    """r14 (VERDICT r13 #3): search_batch_sql_subquery's text form must
    be row-identical to search_batch — per-qid rows, similarities,
    tiebreaks — including under scope filters, after forget()
    tombstones, and on a multi-assign index (the DISTINCT dedup path);
    both forms also equal the numpy oracle on this corpus. The legacy
    parser mode serves the same rows (qids are string literals)."""
    import pytest as _pytest

    emb = load_table(spark, SF_DIR, "embeddings")
    docs = emb.selectExpr(
        "vec_id", "embedding", "concat('agent', vec_id % 3) AS agent"
    )
    path = str(tmp_path / "ivf_batch_sql")
    idx = IVFIndex.build(
        spark, docs, path, cent_every=25, extra_cols=["agent"]
    )
    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb.filter("vec_id IN (3, 17, 29)").collect()
    ]

    def sql_rows(k=8, nprobe=3, filters=None):
        sub = idx.search_batch_sql_subquery(
            queries, k=k, nprobe=nprobe, filters=filters
        )
        return [
            (r["qid"], r["id"], r["similarity"])
            for r in spark.sql(
                f"SELECT * FROM {sub} c "
                "ORDER BY `qid`, `similarity` DESC, `id` ASC"
            ).collect()
        ]

    def df_rows(k=8, nprobe=3, filters=None):
        return [
            (r["qid"], r["id"], r["similarity"])
            for r in idx.search_batch(
                queries, k=k, nprobe=nprobe, filters=filters
            ).collect()
        ]

    got = sql_rows()
    assert got == df_rows() == _numpy_batch(idx, queries, 8, 3)
    assert {q for q, _i, _s in got} == {"3", "17", "29"}

    # scoped: filter lands in the pruned scan on both forms
    flt = {"agent": "agent1"}
    assert (
        sql_rows(k=5, nprobe=4, filters=flt)
        == df_rows(k=5, nprobe=4, filters=flt)
        == _numpy_batch(idx, queries, 5, 4, filters=flt)
    )

    # tombstones exclude immediately through the text form
    victim = got[0][1]
    idx.forget([victim])
    after = sql_rows()
    assert victim not in {i for _q, i, _s in after}
    assert after == df_rows() == _numpy_batch(idx, queries, 8, 3)

    # unindexed filter refuses like search_batch
    with _pytest.raises(ValueError, match="not indexed"):
        idx.search_batch_sql_subquery(queries, filters={"nope": 1})

    # empty batch: a valid empty relation
    sub = idx.search_batch_sql_subquery([], k=3)
    assert spark.sql(f"SELECT * FROM {sub} c").count() == 0

    # multi-assign index: DISTINCT dedup mirrors dropDuplicates
    path2 = str(tmp_path / "ivf_batch_sql_na2")
    idx2 = IVFIndex.build(spark, emb, path2, cent_every=25, n_assign=2)
    sub2 = idx2.search_batch_sql_subquery(queries, k=8, nprobe=3)
    got2 = [
        (r["qid"], r["id"], r["similarity"])
        for r in spark.sql(
            f"SELECT * FROM {sub2} c "
            "ORDER BY `qid`, `similarity` DESC, `id` ASC"
        ).collect()
    ]
    want2 = [
        (r["qid"], r["id"], r["similarity"])
        for r in idx2.search_batch(queries, k=8, nprobe=3).collect()
    ]
    assert got2 == want2 == _numpy_batch(idx2, queries, 8, 3)
    per_q = {}
    for q, i, _s in got2:
        per_q.setdefault(q, []).append(i)
    for q, ids in per_q.items():
        assert len(ids) == len(set(ids)), f"duplicate id for qid {q}"

    # legacy parser mode: string qid and filter literals read back the
    # same, so the rows equal the default mode's
    want_default = sql_rows(k=5, nprobe=4, filters=flt)
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        assert sql_rows(k=5, nprobe=4, filters=flt) == want_default
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", "false")
