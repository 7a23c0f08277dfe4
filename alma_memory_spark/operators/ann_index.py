"""Persisted IVF ANN index: build once at ingest, partition-pruned
probes at query time.

The registry's `ann_approx_topk` gate proves the IVF math (stride-
sampled coarse quantizer, nearest-cell assignment, nprobe cells
searched exactly); this module materializes the index that gate's
docstring promises at scale: assignment runs ONCE, `cell` becomes a
hive partition column, and every query scans only its nprobe
partitions — ANN as PartitionFilters, not data filtering. The
inverted lists of a FAISS IVF index (the reference's vector stage,
alma/storage/sqlite_local.py:555-640 builds exactly this shape with
faiss.IndexIVFFlat) ARE parquet partitions here.

Layout on disk (versioned — see operators/_index_version.py: build()
writes a COMPLETE new index under a fresh v<N>/ dir and commits with
one atomic _CURRENT rename, so serving paths never observe a
half-written rebuild; handles pin their version at load and the
previous version is retained for them):
    <path>/_CURRENT        names the live version dir (atomic swap)
    <path>/v<N>/centroids/ tiny parquet: (cell bigint, cvec array<double>,
                           id_type, cent_every, extra_cols — meta rides the
                           centroid rows; a separate meta/ dir is the legacy
                           layout, still readable)
    <path>/v<N>/meta/      one-row parquet: (id_type, cent_every) — id_type
                           lets memory-table string ids index too (cells
                           then come from xxhash64(id) instead of the id)
    <path>/v<N>/lists/     parquet partitioned by cell: (id, embedding)
    <path>/v<N>/tombstones/ optional parquet: (id) — ids forgotten since
                           this version was built; search anti-joins them
                           so a deleted vector is NEVER served stale (the
                           reference marks the FAISS index dirty on delete
                           and lazily rebuilds, sqlite_local.py:510-521 —
                           tombstones give the same read-your-deletes
                           contract without an immediate rebuild; a
                           rebuild's fresh version starts without any)
    <path>/v<N>/segments/  committed streaming epoch segments (add_epoch)
    <path>/v<N>/pq/        optional product-quantization artifacts
                           (codebooks/ + meta/) when built with pq_m —
                           lists then also carry an m-byte `code`
                           binary column per vector

Determinism matches the gate: cosines round to 6dp BEFORE every
argmax/probe cut; assignment ties break toward the LARGER cell id;
top-k ties break on id ASC.

Product quantization (the 100 TB memory/IO lever): at the target
scale the full float vectors (dim x 8 bytes/row) dominate the
candidate scan's IO; PQ (Jegou, Douze, Schmid, "Product Quantization
for Nearest Neighbor Search", PAMI 2011 — the kernel inside FAISS
IndexIVFPQ) splits each L2-normalized vector into m subvectors and
replaces each with a 1-byte codebook index, so the ADC candidate
pass reads m bytes/row instead of dim x 8 (64x less for dim=64,
m=8) — and because the codes live in a separate parquet COLUMN of
the same cell-partitioned lists, Spark's column pruning delivers
that IO saving for free (asserted in tests/test_plan_contracts).
We encode the normalized vector directly rather than the per-cell
residual (FAISS's by_residual=False inner-product mode): cosine
against a normalized query decomposes as sum_m <q_m, x_m>, so ONE
m x ks lookup table per query scores every candidate — a residual
code would need a table per probed cell for marginal gain at these
dims. search_pq re-ranks the top refine*k ADC candidates with exact
cosine, so served scores are exact and recall is tunable by
`refine`; with refine covering the probed cells, results equal
search() bit-for-bit (the unit-test contract).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alma_memory_spark.cache import LRU
from alma_memory_spark.operators._index_version import (
    begin_version,
    commit_version,
    resolve_vroot,
)

_NUMERIC_ID_TYPES = {"bigint", "int", "smallint", "tinyint", "long"}

#: flat-layout leftovers GC-ed once two versioned builds exist
_FLAT_SUBDIRS = (
    "lists", "centroids", "meta", "segments", "tombstones",
    "tombstones_staging",
)


def stride_seed_centroids(df, id_col: str, vec_col: str, cent_every: int):
    """THE canonical deterministic centroid seeding, shared by
    IVFIndex.build and operators/semdedup.py (which advertises that a
    persisted IVFIndex is interchangeable with its own stride
    quantizer — one implementation keeps that equivalence true by
    construction): every id % cent_every == 0 row seeds a cell; string
    ids hash through xxhash64 for both the sample key and the stable
    int64 cell id. Returns (cells desc-sorted int64 array, C raw
    float64 matrix) — callers normalize if they need to. The collect
    is ~n/cent_every rows (the documented driver-size contract of the
    IVF quantizer)."""
    import numpy as np

    id_type = df.schema[id_col].dataType.simpleString()
    if id_type in _NUMERIC_ID_TYPES:
        cell_expr = F.col(id_col).cast("long")
    else:
        cell_expr = F.xxhash64(F.col(id_col))
    cent_rows = sorted(
        df.filter(F.pmod(cell_expr, F.lit(cent_every)) == 0)
        .select(cell_expr.alias("_cell"), F.col(vec_col))
        .collect(),
        key=lambda r: -r["_cell"],
    )
    if not cent_rows:
        raise ValueError(
            f"no centroids: corpus has no {id_col} % {cent_every} == 0 rows"
        )
    cells = np.array([r["_cell"] for r in cent_rows], dtype=np.int64)
    C = np.array([r[vec_col] for r in cent_rows], dtype=np.float64)
    return cells, C


class IVFIndex:
    """Handle over a built index: tiny driver-side quantizer + the
    cell-partitioned lists path. `vroot` pins the VERSION this handle
    serves (resolved from _CURRENT at load/build); a concurrent rebuild
    swaps _CURRENT but never mutates this version's files."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        cells,
        Cn,
        id_type: str = "bigint",
        extra_cols: list[tuple[str, str]] | None = None,
        vroot: str | None = None,
        pq=None,
        n_assign: int = 1,
    ):
        self.spark = spark
        self.path = path
        self.vroot = vroot or path
        self.cells = cells  # np.int64 cell ids, sorted DESC
        self.Cn = Cn  # L2-normalized centroid matrix, rows follow cells
        self.id_type = id_type
        #: multi-probe MEMBERSHIP (r9): each vector is stored in its
        #: top-n_assign cells (stable desc argsort, same tie rule as
        #: the single argmax — column 0 IS the n_assign=1 placement).
        #: Built for SemDedupIndex's boundary-recall knob: near-dups
        #: straddling a cell boundary share a probed cell. Lists grow
        #: n_assign-fold; search paths dedup candidate ids (copies
        #: carry identical scores, so results match a 1-membership
        #: index whenever recall allows).
        self.n_assign = max(1, int(n_assign))
        #: (m, ks, Cb) when PQ-enabled: m subspaces, ks codes each,
        #: Cb codebook array of shape (m, ks, dim/m)
        self.pq = pq
        #: (name, type) attribute columns stored alongside each list
        #: entry — scope columns (project_id, agent) ride the lists so
        #: a scoped search filters INSIDE the pruned scan instead of
        #: joining the corpus table (the per-query live-id semi-join
        #: would shuffle the scoped id set at 100 TB)
        self.extra_cols = extra_cols or []
        #: name -> (staleness key, plan or view name): the lists plan
        #: and the SQL probe's temp views, shared by concurrent probes
        self._plans = LRU()

    # ------------------------------------------------------------------

    @staticmethod
    def _lloyd_refine(
        df: DataFrame, id_col: str, vec_col: str, cells, Cn, iters: int
    ):
        """Distributed spherical k-means refinement of the seeded
        centroids: each iteration assigns every vector to its nearest
        centroid with the fused Arrow kernel and reduces per-cell
        vector SUMS map-side (one small shuffle of n_cells x dim
        partials per iteration — never the vectors themselves), then
        re-normalizes the means driver-side. Seeds that lose all
        members keep their previous position (standard empty-cluster
        handling, deterministic)."""
        import numpy as np
        import pandas as pd

        dim = Cn.shape[1]
        for _ in range(iters):
            cells_, Cn_ = cells, Cn

            def partials(it):
                for pdf in it:
                    if not len(pdf):
                        continue
                    V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                    Vn = V / np.maximum(
                        np.linalg.norm(V, axis=1, keepdims=True), 1e-300
                    )
                    asg = np.argmax(np.round(Vn @ Cn_.T, 6), axis=1)
                    out = []
                    for ci in np.unique(asg):
                        m = asg == ci
                        out.append(
                            (int(cells_[ci]), int(m.sum()), Vn[m].sum(axis=0).tolist())
                        )
                    yield pd.DataFrame(out, columns=["cell", "n", "vsum"])

            agg = (
                df.select(id_col, vec_col)
                .mapInPandas(partials, "cell long, n long, vsum array<double>")
                .groupBy("cell")
                .agg(
                    F.sum("n").alias("n"),
                    F.array(
                        *[
                            F.sum(F.col("vsum")[i]).alias(f"s{i}")
                            for i in range(dim)
                        ]
                    ).alias("vsum"),
                )
                .collect()
            )
            newC = Cn.copy()
            pos = {int(c): i for i, c in enumerate(cells)}
            for r in agg:
                v = np.array(r["vsum"], dtype=np.float64)
                nrm = np.linalg.norm(v)
                if nrm > 1e-300:
                    newC[pos[r["cell"]]] = v / nrm
            Cn = newC
        return Cn

    @staticmethod
    def _train_pq(
        df: DataFrame,
        id_col: str,
        vec_col: str,
        m: int,
        ks: int,
        train_max: int,
        iters: int,
    ):
        """Train the PQ codebooks on a bounded, DETERMINISTIC sample:
        the first `train_max` rows by id (TakeOrderedAndProject — the
        take is bounded regardless of corpus size; codebooks trained
        on a sample are standard PQ practice, FAISS defaults to 256
        points/centroid). Per subspace: plain Lloyd k-means in numpy
        on the driver (sample is <= train_max x dim doubles — a few
        MB), seeded by stride over the id-sorted sample (deterministic,
        no RNG), empty clusters keep their previous centroid. Vectors
        are L2-normalized BEFORE splitting: cosine against a
        normalized query then decomposes into the per-subspace
        inner-product sums the ADC table looks up."""
        import numpy as np

        rows = (
            df.select(id_col, vec_col)
            .orderBy(F.col(id_col).asc())
            .limit(int(train_max))
            .collect()
        )
        V = np.array([r[vec_col] for r in rows], dtype=np.float64)
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
        n, dim = Vn.shape
        if dim % m:
            raise ValueError(f"pq_m={m} must divide the embedding dim {dim}")
        ks = int(min(ks, n))
        if ks < 1:
            raise ValueError("PQ training sample is empty")
        dsub = dim // m
        Cb = np.empty((m, ks, dsub), dtype=np.float64)
        for s in range(m):
            X = Vn[:, s * dsub: (s + 1) * dsub]
            seed_idx = (np.arange(ks) * n) // ks  # stride seeds
            C = X[seed_idx].copy()
            for _ in range(iters):
                # ||x-c||^2 = ||x||^2 - 2x.c + ||c||^2; argmin ties ->
                # lower code index (np.argmin), deterministic
                d2 = (
                    (X * X).sum(1, keepdims=True)
                    - 2.0 * (X @ C.T)
                    + (C * C).sum(1)[None, :]
                )
                asg = np.argmin(np.round(d2, 12), axis=1)
                for j in range(ks):
                    mbr = asg == j
                    if mbr.any():
                        C[j] = X[mbr].mean(axis=0)
            Cb[s] = C
        return m, ks, Cb

    @staticmethod
    def _encode_pq(Vn, pq):
        """uint8 code matrix (rows x m) for L2-normalized vectors —
        nearest sub-centroid per subspace, ties to the lower code."""
        import numpy as np

        m, ks, Cb = pq
        dsub = Cb.shape[2]
        codes = np.empty((len(Vn), m), dtype=np.uint8)
        for s in range(m):
            X = Vn[:, s * dsub: (s + 1) * dsub]
            C = Cb[s]
            d2 = (
                (X * X).sum(1, keepdims=True)
                - 2.0 * (X @ C.T)
                + (C * C).sum(1)[None, :]
            )
            codes[:, s] = np.argmin(np.round(d2, 12), axis=1)
        return codes

    @staticmethod
    def build(
        spark: SparkSession,
        df: DataFrame,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        cent_every: int = 50,
        kmeans_iters: int = 0,
        extra_cols: list[str] | None = None,
        pq_m: int | None = None,
        pq_ks: int = 256,
        pq_train_max: int = 16384,
        pq_iters: int = 10,
        n_assign: int = 1,
    ) -> "IVFIndex":
        """One-time index build: stride-sample centroid seeds
        (deterministic — every cent_every-th id for numeric ids; for
        string ids — memory-table ids like 'dk_ab12' — the sample key
        and the cell id both come from xxhash64(id), keeping the same
        1/cent_every sampling rate and a stable int64 cell id),
        optionally refine them with `kmeans_iters` distributed
        spherical-k-means passes (recommended 2-3 for clustered
        embedding distributions; see _lloyd_refine), assign every
        vector to its nearest centroid with one fused Arrow-batched
        kernel (per-batch BLAS matmul against the broadcast centroid
        matrix), and write the lists partitioned by cell. The
        assignment is a narrow map, and partitionBy on write splits
        files by cell within each task."""
        import numpy as np
        import pandas as pd

        from alma_memory_spark.session import ensure_package_shipped

        ensure_package_shipped(spark)
        id_type = df.schema[id_col].dataType.simpleString()
        cells, C = stride_seed_centroids(df, id_col, vec_col, cent_every)
        Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
        if kmeans_iters > 0:
            Cn = IVFIndex._lloyd_refine(df, id_col, vec_col, cells, Cn, kmeans_iters)

        extras = [
            (c, df.schema[c].dataType.simpleString()) for c in (extra_cols or [])
        ]
        pq = (
            IVFIndex._train_pq(
                df, id_col, vec_col, pq_m, pq_ks, pq_train_max, pq_iters
            )
            if pq_m
            else None
        )
        # build the COMPLETE new index under a fresh version dir that no
        # reader resolves yet — the fresh dir has no stale segments or
        # tombstones by construction, and concurrent searches keep
        # reading the previous version's files until the atomic
        # _CURRENT swap below (ADVICE r4: in-place overwrite could hand
        # a probe deleted list files or pair cached centroids with
        # half-written lists)
        vdir = begin_version(path)
        idx = IVFIndex(
            spark, path, cells, Cn, id_type, extras, vroot=vdir, pq=pq,
            n_assign=n_assign,
        )
        # the list write (the big job) and the tiny centroid/pq writes
        # target disjoint subdirs of the uncommitted version dir — run
        # them as concurrent Spark jobs (each tiny write costs a full
        # job of fixed latency that previously serialized after the
        # lists); the thread joins before the commit point below
        from concurrent.futures import ThreadPoolExecutor

        pool = ThreadPoolExecutor(max_workers=1)
        lists_fut = pool.submit(
            idx._write_lists, df, id_col, vec_col, mode="overwrite"
        )
        # EVERY exit path below must join the lists future before
        # leaving: a tiny-write failure that propagated without joining
        # would leak the multi-minute lists job into a live thread, and
        # a retried build's staging GC would then delete the dir the
        # leaked job is still writing into
        try:
            IVFIndex._write_build_meta(
                spark, vdir, cells, Cn, id_type, cent_every, extras, pq,
                idx.n_assign,
            )
            lists_fut.result()  # lists must be complete BEFORE commit
        except BaseException:
            try:
                lists_fut.result()  # join; its own error is secondary
            except BaseException:
                pass
            raise
        finally:
            pool.shutdown(wait=False)
        idx.vroot = commit_version(path, vdir, _FLAT_SUBDIRS)  # COMMIT POINT
        return idx

    @staticmethod
    def _write_build_meta(
        spark, vdir, cells, Cn, id_type, cent_every, extras, pq,
        n_assign: int = 1,
    ) -> None:
        """The tiny PQ + centroid writes of build() (disjoint subdirs
        from the concurrent lists write)."""
        from alma_memory_spark.session import tiny_df

        if pq is not None:
            m, ks, Cb = pq
            tiny_df(
                spark,
                [
                    (s, j, [float(x) for x in Cb[s, j]])
                    for s in range(m)
                    for j in range(ks)
                ],
                "sub int, code int, cvec array<double>",
            ).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(vdir, "pq", "codebooks")
            )
            tiny_df(spark, [(m, ks)], "m int, ks int").coalesce(
                1
            ).write.mode("overwrite").parquet(os.path.join(vdir, "pq", "meta"))

        import json as _json

        # meta rides the centroid rows as constant columns: one tiny
        # write instead of two (each costs a full Spark job on the
        # serving-rebuild path); load() falls back to the separate
        # meta dir for indexes persisted by older builds
        meta_json = _json.dumps(extras)
        tiny_df(
            spark,
            [
                (
                    int(c), [float(x) for x in Cn[i]], id_type, cent_every,
                    meta_json, int(n_assign),
                )
                for i, c in enumerate(cells)
            ],
            "cell long, cvec array<double>, id_type string, "
            "cent_every int, extra_cols string, n_assign int",
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(vdir, "centroids"))

    def _write_lists(
        self,
        df: DataFrame,
        id_col: str,
        vec_col: str,
        mode: str,
        dest: str | None = None,
    ) -> None:
        """Assign vectors to their nearest stored centroid (fused Arrow
        kernel, narrow map) and write them under their cell partitions."""
        import numpy as np
        import pandas as pd

        b = self.spark.sparkContext.broadcast(
            (self.cells, self.Cn, self.pq, self.n_assign)
        )
        extras = self.extra_cols
        encode_pq = IVFIndex._encode_pq

        def assign(it):
            cells_, Cn_, pq_, k_ = b.value
            k_ = max(1, min(int(k_), len(cells_)))
            for pdf in it:
                if not len(pdf):
                    continue
                V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
                csims = np.round(Vn @ Cn_.T, 6)
                # first max along the DESC-sorted cell axis = larger cell
                out = {
                    "id": pdf[id_col].to_numpy(),
                    "embedding": pdf[vec_col],
                }
                for name, _t in extras:
                    out[name] = pdf[name]
                if k_ == 1:
                    out["cell"] = cells_[np.argmax(csims, axis=1)]
                    res = pd.DataFrame(out)
                    if pq_ is not None:
                        codes = encode_pq(Vn, pq_)
                        res["code"] = [c.tobytes() for c in codes]
                    yield res
                    continue
                # multi-probe membership: each vector in its top-k_
                # cells — stable sort on -csim keeps the desc cell
                # order on ties, so column 0 IS the argmax placement
                top = np.argsort(-csims, axis=1, kind="stable")[:, :k_]
                rep = np.repeat(np.arange(len(pdf)), k_)
                rout = {
                    "id": pdf[id_col].to_numpy()[rep],
                    "embedding": pdf[vec_col].to_numpy()[rep],
                }
                for name, _t in extras:
                    rout[name] = pdf[name].to_numpy()[rep]
                rout["cell"] = cells_[top].ravel()
                res = pd.DataFrame(rout)
                if pq_ is not None:
                    codes = encode_pq(Vn, pq_)
                    blobs = np.array([c.tobytes() for c in codes], dtype=object)
                    res["code"] = blobs[rep]
                yield res

        extra_schema = "".join(f", {n} {t}" for n, t in extras)
        code_schema = ", code binary" if self.pq is not None else ""
        src = df.select(id_col, vec_col, *[n for n, _t in extras])
        assigned = src.mapInPandas(
            assign,
            f"id {self.id_type}, embedding array<double>{extra_schema}"
            f"{code_schema}, cell long",
        )
        # cluster by cell before the write (r7): hash-repartitioning on
        # cell puts each cell entirely in ONE task, so the lists land
        # as ONE file per cell instead of (tasks x cells) — a narrow
        # write from T scan tasks over C cells creates T*C files, which
        # a partition-pruned probe then pays for on every read (and at
        # 1000 tasks x 10k cells is a small-file catastrophe). The
        # shuffle moves the same bytes the write was going to write;
        # measured 2x faster on the serving-gate rebuild (one scan task
        # previously wrote all cells serially). Task count scales with
        # the input so big builds keep their parallelism.
        n_out = min(len(self.cells), max(8, src.rdd.getNumPartitions()))
        # id-sorted within each cell file: parquet row-group min/max
        # stats on id let a pushed `id IN (...)` filter — the PQ
        # re-rank's candidate fetch — skip everything but the groups
        # holding the refine*k candidates.
        assigned.repartition(n_out, "cell").sortWithinPartitions(
            "cell", "id"
        ).write.mode(mode).partitionBy("cell").parquet(
            dest or os.path.join(self.vroot, "lists")
        )

    @staticmethod
    def load(spark: SparkSession, path: str) -> "IVFIndex":
        """Re-open a built index: the quantizer is a tiny collect
        (~n/cent_every rows), the lists stay on disk. The handle pins
        the version _CURRENT names right now — a rebuild that swaps
        afterwards never disturbs this handle's files (the previous
        version is retained through the NEXT swap)."""
        import numpy as np

        vroot = resolve_vroot(path)
        rows = sorted(
            spark.read.parquet(os.path.join(vroot, "centroids")).collect(),
            key=lambda r: -r["cell"],
        )
        cells = np.array([r["cell"] for r in rows], dtype=np.int64)
        Cn = np.array([r["cvec"] for r in rows], dtype=np.float64)
        import json as _json

        id_type, extras, n_assign = "bigint", [], 1
        if rows and "id_type" in rows[0].asDict():
            # meta rides the centroid rows (current layout)
            id_type = rows[0]["id_type"]
            if rows[0]["extra_cols"]:
                extras = [tuple(e) for e in _json.loads(rows[0]["extra_cols"])]
            # absent in pre-r9 indexes -> single membership
            if "n_assign" in rows[0].asDict():
                n_assign = int(rows[0]["n_assign"])
        elif os.path.isdir(os.path.join(vroot, "meta")):
            # legacy layout: separate one-row meta dir
            meta = spark.read.parquet(
                os.path.join(vroot, "meta")
            ).collect()[0].asDict()
            id_type = meta["id_type"]
            if meta.get("extra_cols"):
                extras = [tuple(e) for e in _json.loads(meta["extra_cols"])]
        pq = None
        if os.path.isdir(os.path.join(vroot, "pq")):
            pmeta = spark.read.parquet(
                os.path.join(vroot, "pq", "meta")
            ).collect()[0]
            m, ks = int(pmeta["m"]), int(pmeta["ks"])
            crows = spark.read.parquet(
                os.path.join(vroot, "pq", "codebooks")
            ).collect()
            dsub = len(crows[0]["cvec"])
            Cb = np.empty((m, ks, dsub), dtype=np.float64)
            for r in crows:
                Cb[r["sub"], r["code"]] = r["cvec"]
            pq = (m, ks, Cb)
        return IVFIndex(
            spark, path, cells, Cn, id_type, extras, vroot=vroot, pq=pq,
            n_assign=n_assign,
        )

    # ------------------------------------------------------------------

    def add(self, df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> "IVFIndex":
        """Incremental ingest: assign new vectors against the STORED
        quantizer (standard IVF semantics — FAISS `add` never moves
        centroids either; recall drifts only if the data distribution
        does, at which point you rebuild) and append them to their cell
        partitions. No shuffle, no read-modify-write: the narrow
        assignment map appends files under the matching cell=
        directories, and df/probe math is unchanged because the
        centroid table is untouched. Assumes ids are new (append-only),
        same as the store's partition-scoped upsert contract."""
        from alma_memory_spark.session import ensure_package_shipped

        self._require_live_version()
        ensure_package_shipped(self.spark)
        self._write_lists(df, id_col, vec_col, mode="append")
        return self

    def compact_to(self, dest_path: str) -> "IVFIndex":
        """Fold list append debris into a fresh committed index at
        `dest_path` WITHOUT recomputing assignments (VERDICT r8 #2):
        every add() appends one parquet file per touched cell, so a
        long-running streaming maintainer degrades the cell dirs' file
        listings unboundedly. The fold rewrites base lists + committed
        epoch segments − tombstoned ids as ONE file per cell partition;
        the centroid/pq meta copies byte-identical (the quantizer is
        frozen); committed epochs keep their _COMMIT markers (empty
        segments) so a crash-replayed epoch still no-ops; tombstones
        fold INTO the lists (the dead rows are dropped), so none carry
        over. Content through _guarded_lists is identical by
        construction. Same-path compaction goes through the version
        swap: `idx.compact_to(idx.path)` commits a new version and
        returns a fresh handle."""
        import shutil

        from alma_memory_spark.session import ensure_package_shipped

        if os.path.abspath(dest_path) == os.path.abspath(self.path):
            self._require_live_version()
        ensure_package_shipped(self.spark)
        vdir = begin_version(dest_path)
        shutil.copytree(
            os.path.join(self.vroot, "centroids"),
            os.path.join(vdir, "centroids"),
        )
        if os.path.isdir(os.path.join(self.vroot, "pq")):
            shutil.copytree(
                os.path.join(self.vroot, "pq"), os.path.join(vdir, "pq")
            )
        lists = self._lists_df()
        dead = self.tombstones()
        if dead is not None:
            lists = lists.join(F.broadcast(dead), "id", "left_anti")
        n_out = min(
            len(self.cells),
            max(8, self.spark.sparkContext.defaultParallelism),
        )
        (
            lists.repartition(n_out, "cell")
            .sortWithinPartitions("cell", "id")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(os.path.join(vdir, "lists"))
        )
        for e in self._committed_segments():
            seg = os.path.join(vdir, "segments", str(e))
            os.makedirs(seg, exist_ok=True)
            shutil.copy2(
                os.path.join(self._segments_root(), str(e), "_COMMIT"),
                os.path.join(seg, "_COMMIT"),
            )
        commit_version(dest_path, vdir, _FLAT_SUBDIRS)
        return IVFIndex.load(self.spark, dest_path)

    def _require_live_version(self) -> None:
        """Mutations through a handle whose version is no longer the
        CURRENT one must fail loudly: a write into a superseded (even
        if still-retained) version dir commits data that no new load
        will ever serve — a streaming sink holding a handle across a
        maintenance rebuild would otherwise lose every subsequent
        micro-batch silently. Readers don't need this (their snapshot
        is the point); only add/add_epoch/forget mutate. The check also
        covers flat-layout handles superseded by a first versioned
        build, and GC-ed version dirs."""
        cur = resolve_vroot(self.path)
        if os.path.abspath(cur) != os.path.abspath(self.vroot):
            raise RuntimeError(
                f"index handle pins version {os.path.basename(self.vroot)!r} "
                f"of {self.path}, but the current version is "
                f"{os.path.basename(cur)!r} — a rebuild swapped since this "
                "handle loaded, and a write here would never be served. "
                "Reload the index (IVFIndex.load) before writing"
            )

    # ---- epoch segments (exactly-once streaming adds) -----------------

    def _segments_root(self) -> str:
        return os.path.join(self.vroot, "segments")

    def _committed_segments(self) -> list[int]:
        root = self._segments_root()
        if not os.path.isdir(root):
            return []
        return sorted(
            int(d)
            for d in os.listdir(root)
            if os.path.isfile(os.path.join(root, d, "_COMMIT"))
        )

    def applied_epochs(self) -> set[int]:
        return set(self._committed_segments())

    def add_epoch(
        self,
        df: DataFrame,
        epoch: int,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        lineage: str | None = None,
    ) -> bool:
        """Exactly-once incremental add keyed by the foreachBatch
        epoch_id (same protocol as InvertedTextIndex.add_epoch): the
        segment's lists are written with mode('overwrite') — a replayed
        uncommitted epoch rewrites its partial leftover — and the
        atomic `_COMMIT` rename makes a replayed committed epoch a
        no-op. build() folds segments away. An epoch committed under a
        DIFFERENT `lineage` (fresh-checkpoint collision, not a replay)
        raises instead of no-oping — see
        InvertedTextIndex._check_lineage for the contract."""
        import json

        from alma_memory_spark.operators.text_index import InvertedTextIndex

        self._require_live_version()
        seg = os.path.join(self._segments_root(), str(int(epoch)))
        commit_path = os.path.join(seg, "_COMMIT")
        if os.path.isfile(commit_path):
            InvertedTextIndex._check_lineage(commit_path, lineage, epoch)
            return False
        from alma_memory_spark.session import ensure_package_shipped

        ensure_package_shipped(self.spark)
        self._write_lists(
            df, id_col, vec_col, mode="overwrite",
            dest=os.path.join(seg, "lists"),
        )
        tmp = os.path.join(seg, "_COMMIT.tmp")
        with open(tmp, "w") as f:
            json.dump({"lineage": lineage}, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, os.path.join(seg, "_COMMIT"))  # COMMIT POINT
        return True

    def _lists_df(self) -> DataFrame:
        """Base lists plus committed epoch segments (filters — including
        the cell partition pruning — push through the union). A
        committed segment without a lists dir was folded into the base
        by compact_to(); its _COMMIT marker stays so a replayed epoch
        still no-ops.

        The built plan is memoized per (vroot, committed-segment set,
        base-lists FILE LISTING) — spark.read.parquet re-lists files
        and re-reads footers on every call (~0.1 s of pure serving
        latency per probe, r12). Staleness holds by the index's own
        layout rules: segments are immutable once committed (set
        membership is the key), a rebuild swaps vroot, and compact_to()
        rewrites the base lists dir — the key is the recursive
        (relpath, size, mtime_ns) listing rather than the dir mtime
        alone, so a compact landing within the same second as a prior
        probe still invalidates (Spark part files carry fresh UUID
        names; ADVICE r12). Concurrent probes on one index object
        share the memo; two that both miss race benignly (last write
        wins)."""
        key = self._lists_key()
        cached = self._plans.get("lists", valid=lambda e: e[0] == key)
        if cached is not None:
            return cached[1]
        df = self.spark.read.parquet(os.path.join(self.vroot, "lists"))
        for e in key[1]:
            df = df.unionByName(
                self.spark.read.parquet(
                    os.path.join(self._segments_root(), str(e), "lists")
                )
            )
        self._plans.put("lists", (key, df))
        return df

    def _lists_key(self):
        """Staleness key of the lists layout: (vroot, committed segment
        set, recursive base-dir file listing). See _lists_df."""
        segs = tuple(
            e
            for e in self._committed_segments()
            if os.path.isdir(os.path.join(self._segments_root(), str(e), "lists"))
        )
        base = os.path.join(self.vroot, "lists")
        sig = []
        for root, _dirs, files in os.walk(base):
            rel = os.path.relpath(root, base)
            for fn in files:
                try:
                    st = os.stat(os.path.join(root, fn))
                except OSError:
                    continue
                sig.append((rel, fn, st.st_size, st.st_mtime_ns))
        return (self.vroot, segs, tuple(sorted(sig)))

    # ------------------------------------------------------------------

    def _tombstones_path(self) -> str:
        return os.path.join(self.vroot, "tombstones")

    def forget(self, ids) -> int:
        """Tombstone forgotten ids: search() excludes them immediately
        (read-your-deletes), and the next rebuild clears them — the
        reference's delete -> dirty-flag -> lazy-rebuild contract
        (alma/storage/sqlite_local.py:510-521) with the window between
        delete and rebuild CLOSED instead of served stale. Append-only
        and tiny (bounded by deletes since the last rebuild); duplicate
        tombstones are harmless (the guard is an anti-join).

        `ids` is a list of id values or a 1-column DataFrame."""
        self._require_live_version()
        if isinstance(ids, DataFrame):
            doomed = ids.toDF("id").select(F.col("id").cast(self.id_type))
            n = doomed.count()
            if not n:
                return 0
        else:
            ids = list(ids)
            n = len(ids)
            if not n:
                return 0
            from alma_memory_spark.session import tiny_df

            doomed = tiny_df(self.spark, [(i,) for i in ids], f"id {self.id_type}")
        doomed.coalesce(1).write.mode("append").parquet(self._tombstones_path())
        return n

    # ---- staged forgets (publish only after the store commit) ---------

    def stage_forget(self, ids: DataFrame) -> str:
        """Write a doomed-id set to a private staging area WITHOUT
        publishing it to search(). The caller derives `ids` while the
        doomed rows' files are still live (in-lock, pre-commit), then
        publishes with commit_forget() only once the store delete /
        rewrite actually commits — so a conflict-retried attempt that
        re-derives a DIFFERENT doomed set, or a permanently failed
        delete, never leaves tombstones excluding rows that stayed live
        (ADVICE r4, engine.py:827). Returns the staging path."""
        import uuid

        dest = os.path.join(self.vroot, "tombstones_staging", uuid.uuid4().hex)
        ids.toDF("id").select(F.col("id").cast(self.id_type)).coalesce(
            1
        ).write.mode("overwrite").parquet(dest)
        return dest

    def commit_forget(self, staged: str) -> None:
        """Publish a staged doomed set: move its data files into the
        tombstone dir (driver-side renames — no Spark job, so the
        publish window after the store commit is microseconds)."""
        import uuid

        cur = resolve_vroot(self.path)
        if os.path.abspath(cur) != os.path.abspath(self.vroot):
            # a rebuild interleaved between the store commit and this
            # publish superseded our version: the rebuild acquired the
            # table lock after the delete's commit, so it built from
            # the post-delete table and the doomed ids are already
            # absent from the new lists. Publishing here would write
            # tombstones into a version no new load serves (dead data —
            # the staging dir is RETAINED alongside superseded version
            # dirs, ADVICE r5). Drop the staging instead.
            self.abort_forget(staged)
            return
        tomb = self._tombstones_path()
        if not os.path.isdir(staged):
            # staging already reaped (version GC) — same reasoning
            return
        os.makedirs(tomb, exist_ok=True)
        for f in os.listdir(staged):
            if f.endswith(".parquet"):
                os.rename(
                    os.path.join(staged, f),
                    os.path.join(tomb, f"staged-{uuid.uuid4().hex}.parquet"),
                )
        self.abort_forget(staged)

    @staticmethod
    def abort_forget(staged: str) -> None:
        import shutil

        shutil.rmtree(staged, ignore_errors=True)

    def tombstones(self) -> DataFrame | None:
        ts = self._tombstones_path()
        if not os.path.isdir(ts):
            return None
        return self.spark.read.schema(f"id {self.id_type}").parquet(ts)

    def _nearest_cells(self, sims, nprobe: int) -> list:
        """The nprobe best cells of one row of 6dp-rounded centroid
        cosines: cosine DESC, cell DESC on ties."""
        import numpy as np

        return self.cells[np.lexsort((-self.cells, -sims))[:nprobe]].tolist()

    def probe_cells(self, query_vec, nprobe: int = 3):
        """Driver-side quantizer probe: nprobe nearest centroids
        (cosine DESC, cell DESC on 6dp ties) — a ~us-scale matmul."""
        import numpy as np

        q = np.array(query_vec, dtype=np.float64)
        qn = q / max(np.linalg.norm(q), 1e-300)
        return self._nearest_cells(np.round(self.Cn @ qn, 6), nprobe), qn

    def _probe_batch(self, queries: list, nprobe: int):
        """The batch probe shared by search_batch and its subquery
        form: (qids, Qn, probed cell set per query). qids fold through
        str() and must stay unique; Qn holds the L2-normalized queries;
        one matmul probes them all with probe_cells' tie rule."""
        import numpy as np

        qids = [str(q) for q, _v in queries]
        if len(set(qids)) != len(qids):
            raise ValueError("duplicate qid in batch (after str() folding)")
        Qn = np.array([np.array(v, dtype=np.float64) for _q, v in queries])
        Qn = Qn / np.maximum(np.linalg.norm(Qn, axis=1, keepdims=True), 1e-300)
        if not len(self.cells):
            return qids, Qn, [set() for _q in qids]
        qsims = np.round(Qn @ self.Cn.T, 6)  # |Q| x n_cells
        return qids, Qn, [set(self._nearest_cells(r, nprobe)) for r in qsims]

    def _filter_values(self, filters: dict | None) -> list[tuple[str, list]]:
        """(column, allowed values) per scope filter. A filter value is
        one value or a list/tuple/set of them; every column must be an
        indexed extra_col, else ValueError."""
        indexed = [n for n, _t in self.extra_cols]
        out = []
        for col, val in (filters or {}).items():
            if col not in indexed:
                raise ValueError(
                    f"filter column '{col}' was not indexed "
                    f"(extra_cols={indexed})"
                )
            many = isinstance(val, (list, tuple, set, frozenset))
            out.append((col, list(val) if many else [val]))
        return out

    def _guarded_lists(
        self,
        cells,
        filters: dict | None,
        live_ids: "DataFrame | None",
    ) -> DataFrame:
        """The candidate scan of the DataFrame probes (search_batch,
        search_pq, SemDedupIndex): lists pruned to `cells`
        (PartitionFilters), scope-filter pushdown, tombstone anti-join,
        optional live-id semi-join — the guards of the SQL probes'
        _sql_scan and _sql_filter_conds, in the same order."""
        pruned = self._lists_df().filter(F.col("cell").isin(cells))
        for col, vals in self._filter_values(filters):
            pruned = pruned.filter(F.col(col).isin(vals))
        dead = self.tombstones()
        if dead is not None:
            pruned = pruned.join(F.broadcast(dead), "id", "left_anti")
        if live_ids is not None:
            pruned = pruned.join(live_ids.toDF("id"), "id", "left_semi")
        return pruned

    def search(
        self,
        query_vec,
        k: int = 10,
        nprobe: int = 3,
        live_ids: DataFrame | None = None,
        filters: dict | None = None,
    ) -> DataFrame:
        """Exact cosine top-k inside the nprobe probed cells only: one
        spark.sql() over search_sql_subquery's text.

        The `cell IN (probed)` predicate lands in the scan's
        PartitionFilters (cell is a partition column), so the job reads
        nprobe directories out of n_cells — the plan shape is a pruned
        narrow scan -> scoring expression -> TakeOrderedAndProject,
        with no Python node. Returns (id, similarity) sorted DESC with
        id ASC tiebreak.

        Staleness guards, both applied BEFORE the top-k cut:
        - persisted tombstones (forget()) are anti-joined out, so a
          deleted vector never surfaces between a delete and the next
          rebuild (broadcast — the set is bounded by deletes since the
          rebuild);
        - `live_ids` (one id column), when given, is semi-joined in —
          the same guard the hybrid text path applies against the live
          table (engine.search_hybrid). Prefer `filters` at scale: the
          semi-join shuffles the live id set per query.
        - `filters` ({extra_col: value}) applies equality predicates on
          the attribute columns stored in the lists (extra_cols at
          build) — they land in the pruned scan's PushedFilters, so a
          scoped search stays an index-only read."""
        import uuid

        live_view = None
        if live_ids is not None:
            # a per-call name: concurrent searches on one handle must
            # not serve each other's live sets
            live_view = f"alma_live_{uuid.uuid4().hex[:12]}"
            live_ids.toDF("id").createOrReplaceTempView(live_view)
        try:
            sub = self.search_sql_subquery(
                query_vec, k=k, nprobe=nprobe, filters=filters,
                live_view=live_view,
            )
            # the subquery already orders + limits; re-sorting the tiny
            # k-row result keeps the ordering a DataFrame-API contract
            # rather than relying on subquery-order preservation
            return self.spark.sql(f"SELECT * FROM {sub} AS c").orderBy(
                F.desc("similarity"), F.asc("id")
            )
        finally:
            # spark.sql() has analysed the statement, so the frame
            # holds the view's plan and no longer needs its name
            if live_view is not None:
                self.spark.catalog.dropTempView(live_view)

    def _sql_lists_view(self) -> str:
        """Register (or refresh) the memoized lists plan as a STABLE
        temp view and return its name — the anchor of the SQL-text
        probe (r13, VERDICT r12 #4). The name is keyed on the vroot (a
        version swap gets a fresh name; stale handles can never read a
        newer version's view), and the registered plan refreshes
        whenever the lists staleness key changes (add()/add_epoch()
        debris, compact) — so per serving call the only work is one
        os.walk plus a dict compare, not py4j plan construction."""
        import hashlib

        key = self._lists_key()
        cached = self._plans.get("lists_view", valid=lambda e: e[0] == key)
        if cached is not None:
            return cached[1]
        name = (
            "alma_ivf_lists_"
            + hashlib.md5(self.vroot.encode()).hexdigest()[:12]
        )
        self._lists_df().createOrReplaceTempView(name)
        self._plans.put("lists_view", (key, name))
        return name

    def _sql_tombstones_view(self) -> str | None:
        """Stable temp view over the tombstones dir (or None when no
        tombstones exist), refreshed when the dir's file listing
        changes — forget() appends a file, so read-your-deletes holds
        through the SQL probe too."""
        import hashlib

        ts = self._tombstones_path()
        if not os.path.isdir(ts):
            return None
        sig = []
        for fn in os.listdir(ts):
            try:
                st = os.stat(os.path.join(ts, fn))
            except OSError:
                continue
            sig.append((fn, st.st_size, st.st_mtime_ns))
        key = (self.vroot, tuple(sorted(sig)))
        cached = self._plans.get("tomb_view", valid=lambda e: e[0] == key)
        if cached is not None:
            return cached[1]
        name = (
            "alma_ivf_tomb_"
            + hashlib.md5(self.vroot.encode()).hexdigest()[:12]
        )
        self.tombstones().createOrReplaceTempView(name)
        self._plans.put("tomb_view", (key, name))
        return name

    @staticmethod
    def _sql_sim_text(qv_expr: str) -> str:
        """The exact scoring expression as SQL TEXT over a lists-row
        alias `l`: round(dot(l.embedding, qv) / max(|l.embedding|,
        1e-300), 6), a sequential left-to-right double fold rounded
        HALF_UP. `qv_expr` is either a driver-normalized array literal
        (single-query probe) or a column reference into an inline
        VALUES probe table (batch).

        Parity with search_batch's numpy kernel at the 6dp round is
        EMPIRICAL, not guaranteed: numpy sums pairwise/BLAS-blocked and
        rounds half-to-even, so a dot product within one ulp of a 6dp
        boundary can flip the last digit and hence a top-k tiebreak.
        Tests pin identity on their corpora against a numpy oracle."""
        cast = "x -> CAST(x AS DOUBLE)"
        dot = (
            "aggregate(zip_with("
            f"transform(l.`embedding`, {cast}), transform({qv_expr}, {cast}), "
            "(x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
        )
        nrm = (
            "sqrt(aggregate("
            f"transform(l.`embedding`, {cast}), 0.0D, (acc, x) -> acc + x * x))"
        )
        return f"round({dot} / greatest({nrm}, 1e-300D), 6)"

    def _sql_filter_conds(self, filters: dict | None) -> list[str]:
        """Equality/IN predicates on indexed extra_cols as SQL text —
        shared by the single-query and batch subquery emitters. Each
        value keeps its type: strings go through
        serving_sql.string_literal (exact under either parser mode),
        bools read TRUE/FALSE, integers stay integral (a double
        literal would merge bigints past 2^53) and only floats are
        double literals. An empty value list admits no row: FALSE,
        since `IN ()` does not parse."""
        import numbers

        from alma_memory_spark.operators.serving_sql import (
            double_literal,
            string_literal,
        )

        def lit(v) -> str:
            if isinstance(v, str):
                return string_literal(v)
            if isinstance(v, bool):
                return "TRUE" if v else "FALSE"
            if isinstance(v, numbers.Integral):
                return str(int(v))
            return double_literal(float(v))

        return [
            f"l.`{col}` IN ({','.join(lit(v) for v in vals)})" if vals else "FALSE"
            for col, vals in self._filter_values(filters)
        ]

    def _sql_scan(self, live_view: str | None = None) -> str:
        """The guarded lists relation of the SQL probes, as FROM text
        over the stable views: lists `l`, the tombstone anti-join and,
        when `live_view` names a one-column (id) view, its semi-join."""
        tomb_view = self._sql_tombstones_view()
        scan = f"`{self._sql_lists_view()}` l"
        if tomb_view is not None:
            scan += f" LEFT ANTI JOIN `{tomb_view}` d ON l.`id` = d.`id`"
        if live_view is not None:
            scan += f" LEFT SEMI JOIN `{live_view}` v ON l.`id` = v.`id`"
        return scan

    def search_sql_subquery(
        self,
        query_vec,
        k: int = 10,
        nprobe: int = 3,
        filters: dict | None = None,
        live_view: str | None = None,
    ) -> str:
        """search() as a parenthesized SQL SUBQUERY string —
        `(SELECT id, similarity FROM ... ORDER BY ... LIMIT k)` —
        over the stable lists/tombstones views (r13, VERDICT r12 #4).

        Why TEXT and not a DataFrame: the serving hot path measured
        ~145 ms/call of pure py4j expression construction building the
        probe frame (fold lambdas + a dim-element array literal each
        round-trip the gateway), dwarfing the probe's actual execution
        (~80 ms). This method does the probe driver-side (numpy, ~us)
        and emits one string; the engine splices it into the compiled
        serving statement in place of a candidate-view reference —
        zero per-call py4j, zero temp-view register/drop churn.

        Scope filters must name indexed extra_cols. `live_view` names
        a registered one-column (id) view that is semi-joined in after
        the tombstone anti-join, before the top-k cut (search()'s
        live_ids; serving uses indexed scope filters instead)."""
        from alma_memory_spark.operators.serving_sql import double_literal

        probed, qn = self.probe_cells(query_vec, nprobe)
        if not probed:
            # a quantizer with zero cells cannot serve candidates; an
            # empty IN () would not parse — emit a valid empty relation
            return (
                f"(SELECT CAST(NULL AS {self.id_type}) AS `id`, "
                "CAST(NULL AS DOUBLE) AS `similarity` WHERE FALSE)"
            )
        scan = self._sql_scan(live_view)
        qarr = "array(" + ",".join(double_literal(float(x)) for x in qn) + ")"
        sim = self._sql_sim_text(qarr)

        conds = [
            "l.`cell` IN (" + ",".join(str(int(c)) for c in probed) + ")"
        ] + self._sql_filter_conds(filters)
        inner = (
            f"SELECT l.`id` AS `id`, {sim} AS `similarity` "
            f"FROM {scan} WHERE " + " AND ".join(conds)
        )
        if self.n_assign > 1:
            # multi-membership copies carry identical similarity (same
            # row, same expression) — DISTINCT keeps one
            inner = f"SELECT DISTINCT `id`, `similarity` FROM ({inner})"
        return (
            f"(SELECT `id`, `similarity` FROM ({inner}) "
            f"ORDER BY `similarity` DESC, `id` ASC LIMIT {int(k)})"
        )

    def search_batch_sql_subquery(
        self,
        queries,
        k: int = 10,
        nprobe: int = 3,
        filters: dict | None = None,
    ) -> str:
        """search_batch as a parenthesized SQL SUBQUERY string —
        `(SELECT qid, id, similarity FROM ...)`, per-qid top-k — over
        the stable lists/tombstones views (r14, VERDICT r13 #3: the
        batch analog of r13's single-query SQL-text probe).

        Why: the engine's batch serving statement is already compiled
        SQL, but its ANN candidates came from a per-call
        search_batch() DataFrame registered as a temp view — per call
        that is mapInPandas/join/window plan construction through py4j
        plus view register/drop churn, the exact overhead class the
        single-query port removed. This emits the whole batch probe as
        one string: probes run driver-side (one numpy matmul), the
        (qid, cell) membership and (qid, qvec) query rows ride inline
        VALUES tables joined to the pruned lists scan, scoring uses
        the same _sql_sim_text expression, and the per-qid top-k is
        one window. Zero per-call py4j, zero temp views, no Python
        node in the executed plan.

        Same probe ties, DISTINCT-on-multi-assign and tiebreaks as
        search_batch; parity with its numpy scores is empirical at the
        6dp round (see _sql_sim_text). live_ids is not supported
        (serving uses indexed scope filters)."""
        from alma_memory_spark.operators.serving_sql import (
            double_literal,
            string_literal,
        )

        queries = list(queries)
        empty = (
            "(SELECT CAST(NULL AS STRING) AS `qid`, "
            f"CAST(NULL AS {self.id_type}) AS `id`, "
            "CAST(NULL AS DOUBLE) AS `similarity` WHERE FALSE)"
        )
        if not queries:
            return empty
        qids, Qn, probed_per_q = self._probe_batch(queries, nprobe)
        union_cells = sorted(set().union(*probed_per_q))
        if not union_cells:
            return empty
        scan = self._sql_scan()

        qrows = ", ".join(
            f"({string_literal(qid)}, array("
            + ",".join(double_literal(float(x)) for x in Qn[i])
            + "))"
            for i, qid in enumerate(qids)
        )
        mrows = ", ".join(
            f"({string_literal(qid)}, {int(c)})"
            for i, qid in enumerate(qids)
            for c in sorted(probed_per_q[i])
        )
        sim = self._sql_sim_text("q.`qvec`")
        conds = [
            "l.`cell` IN (" + ",".join(str(int(c)) for c in union_cells) + ")"
        ] + self._sql_filter_conds(filters)
        inner = (
            f"SELECT q.`qid` AS `qid`, l.`id` AS `id`, "
            f"{sim} AS `similarity` "
            f"FROM {scan} "
            f"JOIN (VALUES {mrows}) AS m(`qid`, `cell`) "
            "ON l.`cell` = m.`cell` "
            f"JOIN (VALUES {qrows}) AS q(`qid`, `qvec`) "
            "ON m.`qid` = q.`qid` "
            "WHERE " + " AND ".join(conds)
        )
        if self.n_assign > 1:
            # a query probing 2+ of an id's membership cells scores the
            # same (qid, id) twice with identical similarity — keep one
            # (search_batch's dropDuplicates(["qid", "id"]))
            inner = (
                f"SELECT DISTINCT `qid`, `id`, `similarity` FROM ({inner})"
            )
        ranked = (
            "SELECT `qid`, `id`, `similarity`, row_number() OVER ("
            "PARTITION BY `qid` ORDER BY `similarity` DESC, `id` ASC"
            f") AS `_rk` FROM ({inner})"
        )
        return (
            f"(SELECT `qid`, `id`, `similarity` FROM ({ranked}) "
            f"WHERE `_rk` <= {int(k)})"
        )

    def search_batch(
        self,
        queries,
        k: int = 10,
        nprobe: int = 3,
        live_ids: DataFrame | None = None,
        filters: dict | None = None,
    ) -> DataFrame:
        """Multi-query ANN in ONE job — the serving-throughput shape.

        Per-query search() launches one Spark job per query; a serving
        tier handling a query stream wants N queries amortized over one
        pruned scan (FAISS exposes exactly this as the batch dimension
        of Index.search). `queries` is a list of (qid, query_vec);
        returns (qid, id, similarity): each query's exact cosine top-k
        over ITS nprobe probed cells — same 6dp rounding, same
        DESC/id-ASC tiebreaks as search().

        Plan shape: all queries probe the quantizer driver-side (one
        vectorized matmul); the scan prunes to the UNION of probed
        cells (still PartitionFilters — reads max nprobe x |queries|
        directories, typically far fewer due to overlap); a fused
        numpy kernel over Arrow batches scores each list row against
        exactly the queries that probed its cell (one BLAS matmul per
        batch, then a per-cell mask); one shuffle on qid for the
        per-query window top-k. Tombstone / live-id / scope-filter
        guards are the same as search()'s.

        The batch dimension amortizes the Python-worker hop: at batch
        32 this kernel measured 15-18 ms/task against 21-24 for a
        JVM per-pair fold. Small batches, where nothing amortizes the
        hop, serve through search_batch_sql_subquery instead (the
        engine forks on batch length)."""
        import numpy as np
        import pandas as pd
        from pyspark.sql.window import Window as W

        from alma_memory_spark.session import ensure_package_shipped

        queries = list(queries)
        if not queries:
            return self.spark.createDataFrame(
                [], f"qid string, id {self.id_type}, similarity double"
            )
        qids, Qn, probed_per_q = self._probe_batch(queries, nprobe)
        union_cells = sorted(set().union(*probed_per_q))

        pruned = self._guarded_lists(union_cells, filters, live_ids)

        ensure_package_shipped(self.spark)
        # per-cell boolean mask over queries: list row in cell c
        # scores only against queries that probed c
        cell_qmask = {
            c: np.array([c in p for p in probed_per_q])
            for c in union_cells
        }
        qids_, Qn_, mask_ = qids, Qn, cell_qmask

        def score(it):
            qarr = np.array(qids_, dtype=object)
            for pdf in it:
                if not len(pdf):
                    continue
                V = np.array(pdf["embedding"].tolist(), dtype=np.float64)
                Vn = V / np.maximum(
                    np.linalg.norm(V, axis=1, keepdims=True), 1e-300
                )
                S = np.round(Vn @ Qn_.T, 6)  # rows x |Q|
                cells_col = pdf["cell"].to_numpy()
                ids_col = pdf["id"].to_numpy()
                out_q, out_id, out_s = [], [], []
                for c in np.unique(cells_col):
                    qm = mask_.get(int(c))
                    if qm is None or not qm.any():
                        continue
                    rm = cells_col == c
                    sub = S[np.ix_(rm, qm)]
                    n_r, n_q = sub.shape
                    out_q.append(
                        np.repeat(qarr[qm][None, :], n_r, 0).ravel()
                    )
                    out_id.append(np.repeat(ids_col[rm], n_q))
                    out_s.append(sub.ravel())
                if not out_q:
                    continue
                yield pd.DataFrame(
                    {
                        "qid": np.concatenate(out_q),
                        "id": np.concatenate(out_id),
                        "similarity": np.concatenate(out_s),
                    }
                )

        hits = pruned.select("id", "embedding", "cell").mapInPandas(
            score, f"qid string, id {self.id_type}, similarity double"
        )
        if self.n_assign > 1:
            # a query probing 2+ of an id's membership cells scores the
            # same (qid, id) twice with identical similarity — keep one
            hits = hits.dropDuplicates(["qid", "id"])
        w = W.partitionBy("qid").orderBy(F.desc("similarity"), F.asc("id"))
        return (
            hits.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= k)
            .drop("_rk")
            .orderBy("qid", F.desc("similarity"), F.asc("id"))
        )

    # ---- product-quantized serving (ADC + exact re-rank) --------------

    def _pq_candidates(
        self,
        qn,
        probed,
        n_cand: int,
        filters: dict | None,
        live_ids: DataFrame | None,
    ) -> DataFrame:
        """ADC candidate pass: the pruned scan reads ONLY (id, code) —
        m bytes/row instead of dim x 8 (parquet column pruning; the
        plan-contract test asserts `embedding` is absent from the
        scan's ReadSchema) — and scores each row as the sum of m
        lookup-table entries. Returns the top n_cand by approximate
        similarity (6dp round, id ASC ties). Tombstone / scope /
        live-id guards are the shared _guarded_lists, applied BEFORE
        the cut, same as search()."""
        import numpy as np
        import pandas as pd

        m, ks, Cb = self.pq
        dsub = Cb.shape[2]
        # one m x ks table per query: LUT[s, j] = <q_s, Cb[s, j]>
        lut = np.einsum("sd,sjd->sj", qn.reshape(m, dsub), Cb)
        pruned = self._guarded_lists(probed, filters, live_ids)
        lut_, m_ = lut, m
        sub_idx = np.arange(m)

        def adc(it):
            for pdf in it:
                if not len(pdf):
                    continue
                codes = np.frombuffer(
                    b"".join(pdf["code"]), dtype=np.uint8
                ).reshape(-1, m_)
                sims = np.round(lut_[sub_idx, codes].sum(axis=1), 6)
                yield pd.DataFrame(
                    {"id": pdf["id"].to_numpy(), "sim_pq": sims}
                )

        cand = pruned.select("id", "code").mapInPandas(
            adc, f"id {self.id_type}, sim_pq double"
        )
        if self.n_assign > 1:
            cand = cand.dropDuplicates(["id"])
        return cand.orderBy(F.desc("sim_pq"), F.asc("id")).limit(n_cand)

    def search_pq(
        self,
        query_vec,
        k: int = 10,
        nprobe: int = 3,
        refine: int = 8,
        live_ids: DataFrame | None = None,
        filters: dict | None = None,
    ) -> DataFrame:
        """PQ-served top-k: ADC candidate pass over the probed cells'
        CODE column (m bytes/row — the scan that must stay cheap at
        100 TB), then an exact-cosine re-rank of the top refine*k
        candidates against their full vectors (a second pruned scan
        semi-joined to the broadcast candidate id set — bounded by
        refine*k rows out). Served scores are EXACT (they come from
        the re-rank); PQ only decides which refine*k rows reach it,
        so recall is tunable by `refine` and with refine covering the
        probed cells the result equals search() bit-for-bit. Same
        return shape and tiebreaks as search()."""
        import numpy as np
        import pandas as pd

        from alma_memory_spark.session import ensure_package_shipped

        if self.pq is None:
            raise ValueError(
                "index was built without PQ (pass pq_m to IVFIndex.build)"
            )
        ensure_package_shipped(self.spark)
        probed, qn = self.probe_cells(query_vec, nprobe)
        cand = self._pq_candidates(
            qn, probed, int(refine) * k, filters, live_ids
        )
        # materialize the candidate ids (driver-bounded: <= refine*k
        # rows, POST top-k — within the collect discipline) so the
        # re-rank fetch is a STATIC pushed `id IN (...)` predicate:
        # with the lists id-sorted within each cell file, parquet
        # row-group min/max stats skip every group that holds no
        # candidate — the fetch reads O(candidates) row groups, not
        # the probed cells' whole embedding column (a broadcast
        # semi-join cannot push into the scan). Candidates are already
        # guarded (tombstones / scope / live-ids applied pre-cut).
        cand_ids = [r["id"] for r in cand.collect()]
        if not cand_ids:
            return self.spark.createDataFrame(
                [], f"id {self.id_type}, similarity double"
            )
        rerank = self._lists_df().filter(F.col("cell").isin(probed))
        if len(cand_ids) <= 10_000:
            rerank = rerank.filter(F.col("id").isin(cand_ids))
        else:
            # a degenerate refine (e.g. the refine-covers-everything
            # test contract) would build an absurd literal IN list;
            # past the InSet sweet spot a broadcast semi-join is the
            # right fetch (it just can't row-group-skip)
            rerank = rerank.join(
                F.broadcast(cand.select("id")), "id", "left_semi"
            )
        qn_ = qn

        def score(it):
            for pdf in it:
                if not len(pdf):
                    continue
                V = np.array(pdf["embedding"].tolist(), dtype=np.float64)
                Vn = V / np.maximum(
                    np.linalg.norm(V, axis=1, keepdims=True), 1e-300
                )
                yield pd.DataFrame(
                    {
                        "id": pdf["id"].to_numpy(),
                        "similarity": np.round(Vn @ qn_, 6),
                    }
                )

        hits = rerank.select("id", "embedding").mapInPandas(
            score, f"id {self.id_type}, similarity double"
        )
        if self.n_assign > 1:
            hits = hits.dropDuplicates(["id"])
        return hits.orderBy(F.desc("similarity"), F.asc("id")).limit(k)
