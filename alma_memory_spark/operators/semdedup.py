"""SemDeDup-shape semantic dedup: cluster-then-dedup over embeddings.

Reference semantics: the consolidation engine's cosine-threshold
duplicate detection (alma/consolidation/engine.py:93-199) finds
semantic duplicates by embedding similarity. Its all-pairs form is the
blocked `neardup_pairs` 'cosine' path; THIS module is the 100 TB shape,
following SemDeDup (Abbas et al. 2023, arXiv:2303.09540): quantize the
embedding space into cells, compare pairs only WITHIN a cell, then
derive duplicate families with global connected components. Pure
composition of shipped operators:

  quantizer cells  <- operators/ann_index.py's IVF seeding/assignment
  per-cell pairs   <- the blocked BLAS cosine kernel (one matmul/cell)
  families         <- operators/components.py connected components

Scale shape: the stride quantizer yields n/cent_every cells; the only
shuffle is the groupBy(cell) exchange and no all-pairs join exists at
any corpus size. Assignment is a narrow Arrow-batched map against the
broadcast centroid matrix, identical in shape to IVFIndex._write_lists
(ann_index.py:392). Cost model (r13): assignment is n x n_cells x dim
and the per-cell pair stage n x occupancy x dim — they balance at
occupancy = sqrt(n) (`cent_every="auto"`, auto_cent_every); and on
DUPLICATE-DENSE corpora the pair OUTPUT itself turns quadratic inside
cells, which `semantic_dedup_families` avoids by running local
connected components in the kernel and emitting one star edge per
matched member (O(n) edges at any dup density, identical families).
Both measured in scripts/measure_semdedup.py and the measure_chain
32x leg (SCALE.md r13).

For corpora where n/cent_every centroids no longer fit the driver
(billions of vectors), pass a persisted `IVFIndex` built with coarser
seeding / k-means refinement as `quantizer=` — the same handle the ANN
serving path already maintains, so semantic dedup rides the index the
pipeline has anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "SemDedupIndex",
    "auto_cent_every",
    "semantic_dedup_families",
    "semantic_dedup_pairs",
    "semantic_dedup_pairs_incremental",
    "semantic_dedup_groups",
    "stride_centroids",
]


def stride_centroids(
    df: DataFrame, id_col: str, vec_col: str, cent_every: int
):
    """Deterministic centroid seeds: every id % cent_every == 0 row,
    RAW (un-normalized) vectors plus their norms. Delegates to the ONE
    shared seeding implementation (ann_index.stride_seed_centroids) so
    the advertised IVFIndex-quantizer interchangeability cannot drift;
    the rule is replayable in ANSI SQL (`WHERE id % cent_every = 0`),
    which the oracle gate relies on. Returns (cells desc-sorted int64
    array, C raw matrix, cnrm norms)."""
    import numpy as np

    from alma_memory_spark.operators.ann_index import stride_seed_centroids

    cells, C = stride_seed_centroids(df, id_col, vec_col, cent_every)
    cnrm = np.maximum(np.linalg.norm(C, axis=1), 1e-300)
    return cells, C, cnrm


def _assign_cells(
    df: DataFrame, id_col: str, vec_col: str, cells, C, cnrm,
    n_assign: int = 1,
) -> DataFrame:
    """(id, embedding, cell): nearest-centroid assignment, narrow
    Arrow-batched map over the broadcast centroid matrix. Similarity is
    ROUNDED to 6 before the argmax and `cells` is sorted desc, so ties
    resolve to the larger cell id in every engine (np.argmax takes the
    first max; the SQL oracle orders `csim DESC, cell DESC`).

    ``n_assign > 1`` is MULTI-PROBE assignment: each vector lands in
    its top-n cells (one output row per assignment), so near-duplicates
    that straddle a cell boundary — THE SemDeDup approximation's known
    miss — still share at least one cell when their boundary is among
    the probed ones. Ties keep the desc cell order (stable argsort over
    the desc-sorted cells axis)."""
    import numpy as np

    spark = df.sparkSession
    from alma_memory_spark.session import ensure_package_shipped

    ensure_package_shipped(spark)
    b = spark.sparkContext.broadcast((cells, C, cnrm, n_assign))
    id_type = df.schema[id_col].dataType.simpleString()

    def assign(it):
        import pandas as pd

        cells_, C_, cnrm_, k_ = b.value
        k_ = max(1, min(int(k_), len(cells_)))
        for pdf in it:
            if not len(pdf):
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            vnrm = np.maximum(np.linalg.norm(V, axis=1), 1e-300)
            csims = np.round((V @ C_.T) / np.outer(vnrm, cnrm_), 6)
            if k_ == 1:
                yield pd.DataFrame(
                    {
                        "id": pdf[id_col].to_numpy(),
                        "v": pdf[vec_col],
                        "cell": cells_[np.argmax(csims, axis=1)],
                    }
                )
                continue
            # stable sort on -csim keeps the desc cell order on ties —
            # column 0 of the result is EXACTLY the k_=1 assignment
            top = np.argsort(-csims, axis=1, kind="stable")[:, :k_]
            rep = np.repeat(np.arange(len(pdf)), k_)
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].to_numpy()[rep],
                    "v": pdf[vec_col].to_numpy()[rep],
                    "cell": cells_[top].ravel(),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        assign, f"id {id_type}, v array<double>, cell long"
    )


#: bounds for cent_every="auto" (r13, VERDICT r12 #1): below 16 the
#: cells are too small to catch near-dups; above 2048 a single cell's
#: O(occ^2) similarity matrix stops fitting comfortably in one Arrow
#: group (2048^2 doubles = 32 MB) — corpora big enough to hit the cap
#: should move to a persisted IVF `quantizer` instead.
AUTO_OCC_MIN = 16
AUTO_OCC_MAX = 2048


def auto_cent_every(n: int) -> int:
    """Occupancy-BALANCED quantizer granularity (r13, VERDICT r12 #1).

    With stride seeding, total work has two terms: ASSIGNMENT is
    n x n_cells x dim (every vector scores every centroid) and the
    per-cell PAIR stage is n x occupancy x dim. occupancy =
    n / n_cells, so a FIXED cent_every (=occupancy) keeps the pair
    stage linear but lets assignment grow as n^2/cent_every — the r12
    chain's 32x leg measured semdedup at 57% of total wall with the
    default 50, and the arithmetic says assignment was ~25 GFLOP of
    that vs ~0.5 for pairs. The two terms balance at
    n_cells = occupancy = sqrt(n) (total ~ 2 n^1.5 dim). Larger cells
    also catch more boundary pairs (the SemDeDup approximation's known
    miss), so recall IMPROVES alongside the cost cut whenever
    sqrt(n) > the fixed default — both effects measured by the
    cent_every sweep in scripts/measure_semdedup.py."""
    import math

    return max(AUTO_OCC_MIN, min(AUTO_OCC_MAX, int(round(math.sqrt(max(1, n))))))


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.85,
    cent_every: "int | str" = 50,
    quantizer=None,
    n_assign: int = 1,
) -> DataFrame:
    """Semantic near-dup pairs (id_a, id_b, cos_sim), cosine >=
    threshold, compared only within a quantizer cell. `quantizer`: a
    built/loaded `IVFIndex` to reuse (its centroids are stored
    L2-normalized, norms == 1); default derives stride centroids from
    `df` itself. The per-cell kernel is one BLAS matmul per Arrow
    group — O(occupancy^2) per cell, cells in parallel.

    `cent_every="auto"` (r13, VERDICT r12 #1) derives the granularity
    from the corpus size as sqrt(n) clamped to [16, 2048] — the point
    where assignment cost (n x n_cells) and pair cost (n x occupancy)
    balance; see auto_cent_every. Costs one extra count() job over
    `df` (cache upstream if the input plan is expensive). Fixed
    integers remain fully supported — the oracle gates pin 50.

    `n_assign` is the recall knob for THE SemDeDup approximation
    (near-dups straddling a cell boundary are missed at n_assign=1):
    each vector joins its top-n cells, so boundary pairs meet in a
    shared cell. n_assign=1 output is a strict subset of n_assign=2
    (contract-tested); per-cell occupancy — and the per-cell
    O(occupancy^2) — scales by ~n_assign, the standard multi-probe
    trade. Duplicate cross-cell findings of the same pair carry the
    same rounded sim and are dropped."""
    import numpy as np

    if quantizer is not None:
        cells, C = quantizer.cells, quantizer.Cn
        cnrm = np.ones(len(cells), dtype=np.float64)
    else:
        if cent_every == "auto":
            cent_every = auto_cent_every(df.count())
        cells, C, cnrm = stride_centroids(df, id_col, vec_col, cent_every)
    assigned = _assign_cells(
        df, id_col, vec_col, cells, C, cnrm, n_assign=n_assign
    )

    def cell_pairs(pdf):
        import pandas as pd

        ids = pdf["id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        if len(ids) < 2:
            return pd.DataFrame(
                {"id_a": [], "id_b": [], "cos_sim": []}
            ).astype({"id_a": ids.dtype, "id_b": ids.dtype, "cos_sim": "float64"})
        V = np.array(pdf["v"].to_numpy()[order].tolist(), dtype=np.float64)
        nrm = np.maximum(np.sqrt((V * V).sum(axis=1)), 1e-300)
        Csim = (V @ V.T) / np.outer(nrm, nrm)
        ia, ib = np.triu_indices(len(ids), k=1)
        sim = np.round(Csim[ia, ib], 6)
        m = sim >= threshold
        return pd.DataFrame(
            {"id_a": ids[ia][m], "id_b": ids[ib][m], "cos_sim": sim[m]}
        )

    id_type = assigned.schema["id"].dataType.simpleString()
    out = assigned.groupby("cell").applyInPandas(
        cell_pairs, f"id_a {id_type}, id_b {id_type}, cos_sim double"
    )
    if n_assign > 1:
        # a boundary pair can surface from every shared cell with the
        # same rounded sim — keep one (extra shuffle only on the
        # multi-probe path; the default plan is unchanged)
        out = out.dropDuplicates(["id_a", "id_b"])
    return out


def semantic_dedup_families(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.85,
    cent_every: "int | str" = "auto",
    quantizer=None,
    n_assign: int = 1,
) -> DataFrame:
    """(doc_id, group_id, is_canonical) — row-identical to
    `semantic_dedup_groups(semantic_dedup_pairs(...))` with the same
    arguments, but the per-cell kernel runs LOCAL connected components
    over the thresholded similarity graph in numpy and emits ONE
    (id -> local component min) star edge per matched member — O(occ)
    output rows per cell instead of the up-to-O(occ^2) pair rows the
    pairs operator must emit.

    WHY (r13, found at the chain's 32x leg): on pair-DENSE corpora
    (boilerplate-heavy web text where most docs are semantic dups of
    something) the pair OUTPUT is the cost — 141k vectors at 90% dup
    density produced tens of millions of pair rows whose shuffle + CC
    iterations dominated the stage, and larger (occupancy-balanced)
    cells make that quadratically worse. Dedup-to-families never needed
    the pairs: within a cell, the star edges generate exactly the same
    components (each local component collapses onto its min; global CC
    re-links multi-probe copies across cells), so the family frame is
    identical while the edge volume drops from O(n x occ) worst-case
    to exactly one row per matched member per membership.

    Use semantic_dedup_pairs when the pair list itself is the product
    (audit, thresholds sweeps, the oracle gates); use THIS for the
    drop-duplicates pipeline stage. Identity with the pairs path is
    contract-tested, including n_assign > 1."""
    import numpy as np

    if quantizer is not None:
        cells, C = quantizer.cells, quantizer.Cn
        cnrm = np.ones(len(cells), dtype=np.float64)
    else:
        if cent_every == "auto":
            cent_every = auto_cent_every(df.count())
        cells, C, cnrm = stride_centroids(df, id_col, vec_col, cent_every)
    assigned = _assign_cells(
        df, id_col, vec_col, cells, C, cnrm, n_assign=n_assign
    )

    def cell_stars(pdf):
        import pandas as pd

        ids = pdf["id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        empty = pd.DataFrame({"id_a": [], "id_b": []}).astype(
            {"id_a": ids.dtype, "id_b": ids.dtype}
        )
        if len(ids) < 2:
            return empty
        V = np.array(pdf["v"].to_numpy()[order].tolist(), dtype=np.float64)
        nrm = np.maximum(np.sqrt((V * V).sum(axis=1)), 1e-300)
        A = np.round((V @ V.T) / np.outer(nrm, nrm), 6) >= threshold
        np.fill_diagonal(A, False)
        deg = A.any(axis=1)
        if not deg.any():
            return empty
        # min-label propagation over the POSITIONS (ids sorted asc, so
        # position order == id order): labels[i] = min reachable
        # position; converges in O(diameter) occ^2-cheap sweeps
        n = len(ids)
        labels = np.arange(n)
        while True:
            # neighbor minimum (inf where no neighbor)
            nb = np.where(A, labels[None, :], n).min(axis=1)
            new = np.minimum(labels, nb)
            # a node also adopts its OWN label's current root (path
            # halving — keeps sweeps ~log(diameter))
            new = np.minimum(new, new[new])
            if (new == labels).all():
                break
            labels = new
        m = deg  # only matched members appear, as in the pairs path
        roots = ids[labels[m]]
        mids = ids[m]
        keep = mids != roots  # root reappears as a dst; self-edges add nothing
        return pd.DataFrame({"id_a": mids[keep], "id_b": roots[keep]})

    id_type = assigned.schema["id"].dataType.simpleString()
    edges = assigned.groupby("cell").applyInPandas(
        cell_stars, f"id_a {id_type}, id_b {id_type}"
    )
    if n_assign > 1:
        edges = edges.dropDuplicates(["id_a", "id_b"])
    from alma_memory_spark.operators.components import near_dup_groups

    return near_dup_groups(edges, id_a="id_a", id_b="id_b")


def semantic_dedup_pairs_incremental(
    quantizer,
    new_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.85,
    n_assign: int = 1,
) -> DataFrame:
    """Incremental semantic dedup for a NEW batch against a corpus
    already indexed in a persisted `IVFIndex`: assign the batch to
    cells with the index's quantizer, read ONLY those cells' lists
    (PartitionFilters-pruned; tombstoned ids excluded), and emit
    new-vs-existing AND new-vs-new pairs at cosine >= threshold —
    existing-vs-existing pairs were emitted when those docs were
    indexed, the same accumulation contract as NearDupIndex.add. Cost
    is O(batch x occupancy): growing the corpus never reprocesses it.

    The caller owns persistence: `quantizer.add(new_df)` afterwards
    makes the batch visible to FUTURE increments (add assigns with the
    same stored centroids, so cell placement agrees by construction).
    Pair values match `semantic_dedup_pairs(full, quantizer=...)`
    restricted to pairs touching the batch (contract-tested).

    `n_assign` must MATCH the quantizer's membership: multi-probe
    parity needs existing vectors stored in their top-n cells too
    (build the IVFIndex with the same n_assign), else the increment
    only multi-probes from the batch side and misses pairs whose
    shared cell is the existing vector's secondary one. SemDedupIndex
    freezes the knob at build for exactly this reason."""
    assigned_new, new_cells = _assign_batch(
        quantizer, new_df, id_col, vec_col, n_assign=n_assign
    )
    return _incremental_pairs_from_assigned(
        quantizer, assigned_new, new_cells, threshold,
        spark=new_df.sparkSession, multi=n_assign > 1,
    )


def _assign_batch(
    quantizer, new_df: DataFrame, id_col: str, vec_col: str,
    n_assign: int = 1,
):
    """(assigned batch — eagerly checkpointed, it feeds 2+ jobs —
    , touched cells). Shared by the function form and SemDedupIndex.add
    so the assignment matmul and the cells collect run ONCE.
    `n_assign > 1` multi-probes: one assigned row per (vector, probed
    cell), same stable desc tie order as the quantizer's own lists."""
    import numpy as np

    cells, C = quantizer.cells, quantizer.Cn
    cnrm = np.ones(len(cells), dtype=np.float64)
    assigned = _assign_cells(
        new_df, id_col, vec_col, cells, C, cnrm, n_assign=n_assign
    ).localCheckpoint(eager=True)
    touched = [r["cell"] for r in assigned.select("cell").distinct().collect()]
    return assigned, touched


def _incremental_pairs_from_assigned(
    quantizer, assigned_new: DataFrame, new_cells: list, threshold: float,
    spark, multi: bool = False,
) -> DataFrame:
    import numpy as np

    if not new_cells:
        return spark.createDataFrame(
            [], f"id_a {quantizer.id_type}, id_b {quantizer.id_type}, cos_sim double"
        )
    existing = (
        quantizer._guarded_lists(new_cells, None)
        .select(
            F.col("id"),
            F.col("embedding").alias("v"),
            F.col("cell"),
            F.lit(False).alias("is_new"),
        )
    )
    both = assigned_new.withColumn("is_new", F.lit(True)).unionByName(existing)
    id_type = quantizer.id_type

    def cell_pairs(pdf):
        import pandas as pd

        order = np.argsort(pdf["id"].to_numpy())
        pdf = pdf.iloc[order]
        ids = pdf["id"].to_numpy()
        new_mask = pdf["is_new"].to_numpy()
        if not new_mask.any() or len(ids) < 2:
            return pd.DataFrame(
                {"id_a": [], "id_b": [], "cos_sim": []}
            ).astype({"id_a": ids.dtype, "id_b": ids.dtype, "cos_sim": "float64"})
        V = np.array(pdf["v"].tolist(), dtype=np.float64)
        nrm = np.maximum(np.sqrt((V * V).sum(axis=1)), 1e-300)
        new_idx = np.nonzero(new_mask)[0]
        # new-vs-ALL in one rectangular matmul — O(batch x occupancy)
        S = np.round(
            (V[new_idx] @ V.T) / np.outer(nrm[new_idx], nrm), 6
        )
        ra, rb = np.nonzero(S >= threshold)
        ga = new_idx[ra]  # global row of the new-side member
        # compare IDS, not row positions: a replayed batch whose ids
        # are already in the lists pairs its own copy at sim 1.0
        # through two different rows — same-id pairs are never real
        keep = ids[ga] != ids[rb]
        ra_k, rb_k, ga_k = ra[keep], rb[keep], ga[keep]
        id_a = np.minimum(ids[ga_k], ids[rb_k])
        id_b = np.maximum(ids[ga_k], ids[rb_k])
        sim = S[ra_k, rb_k]
        out = pd.DataFrame({"id_a": id_a, "id_b": id_b, "cos_sim": sim})
        # new-vs-new pairs surface twice (once from each side's row)
        return out.drop_duplicates(["id_a", "id_b"], ignore_index=True)

    pairs = both.groupby("cell").applyInPandas(
        cell_pairs, f"id_a {id_type}, id_b {id_type}, cos_sim double"
    )
    if multi:
        # a boundary pair surfaces once per SHARED probed cell with the
        # same rounded sim — the per-cell kernel can't see across cells
        pairs = pairs.dropDuplicates(["id_a", "id_b"])
    return pairs


def semantic_dedup_groups(pairs: DataFrame) -> DataFrame:
    """Pairs -> duplicate FAMILIES (doc_id, group_id, is_canonical) via
    global connected components. Every edge is within-cell by
    construction, so families are cell-bounded — near-dups that straddle
    a cell boundary are missed. That is THE SemDeDup approximation
    (recall traded for never running an all-pairs compare); CC's job
    here is collapsing transitive chains within a cell into one family
    with a deterministic canonical keeper."""
    from alma_memory_spark.operators.components import near_dup_groups

    return near_dup_groups(pairs, id_a="id_a", id_b="id_b")


class SemDedupIndex:
    """Persisted incremental SEMANTIC dedup index — the embedding-space
    sibling of operators/dedup_index.NearDupIndex, with the same
    lifecycle: one-time build, O(batch)-cost adds, accumulated pairs,
    CC-derived families, versioned-dir persistence.

    Layout (under _index_version's swap protocol):
        <path>/v<N>/ivf/    the IVF quantizer + cell lists (a full
                            IVFIndex with its own inner versioning)
        <path>/v<N>/pairs/  accumulated (id_a, id_b, cos_sim) appends in
                            the adjacency-bucketed layout of
                            operators/_pairs_store.py — the add-path
                            replay guard reads only the batch ids'
                            partitions, never the full history
        <path>/v<N>/stats/  params + per-add doc-count deltas

    The quantizer is FROZEN at build (standard IVF semantics): pairs
    accumulated across adds equal the quantizer-pinned full run —
    semantic_dedup_pairs(whole corpus, quantizer=this index's ivf) —
    contract-tested. A rebuild reseeds the quantizer, so its pair set
    is the new quantizer's approximation (the documented SemDeDup
    semantics), not byte-equal to the old accumulation.

    Crash order (foreachBatch redelivery): pairs are computed against
    the PRE-ADD lists snapshot, membership (ivf lists) publishes
    FIRST, pairs append LAST. A crash between them leaves docs in the
    lists without their pairs; the replayed add finds every batch id
    already present (skips the membership write), recomputes the
    batch's pairs — same-id self-pairs excluded by id — and the
    anti-join appends exactly the missing rows. Single-writer per
    index, same as NearDupIndex.add.

    Unlike NearDupIndex, replay leaves NO debris here — membership is
    guarded before the lists append (a redelivered batch appends zero
    list rows) and the stats delta only writes when fresh docs landed —
    so the counts stay exact under replay by construction. compact()
    (r9) is therefore pure FILE hygiene, not content repair: each add()
    appends one parquet file per touched partition, and folding them to
    one file per partition keeps a long-running streaming maintainer's
    file listings bounded."""

    def __init__(self, spark, path, ivf, id_col, id_type, vec_col,
                 threshold, n_docs, vroot=None, n_buckets=32, n_assign=1):
        self.spark = spark
        self.path = path
        self.vroot = vroot
        self.ivf = ivf
        self.id_col = id_col
        self.id_type = id_type
        self.vec_col = vec_col
        self.threshold = threshold
        self.n_docs = n_docs
        self.n_buckets = n_buckets
        #: multi-probe recall knob (r9, VERDICT r8 #1): membership AND
        #: batch assignment both use the vector's top-n cells, so the
        #: persisted path catches the boundary-straddling near-dups the
        #: batch operator's n_assign already did (measured recall
        #: 0.414 -> 0.871 at n_assign=2 on the boundary corpus).
        #: Frozen at build like the quantizer — adds must probe exactly
        #: as the build did or accumulation != the pinned full run.
        self.n_assign = max(1, int(n_assign))

    @staticmethod
    def build(
        spark,
        df: DataFrame,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        threshold: float = 0.85,
        cent_every: int = 50,
        kmeans_iters: int = 0,
        n_buckets: int = 32,
        n_assign: int = 1,
    ) -> "SemDedupIndex":
        import os

        from alma_memory_spark.operators._index_version import (
            begin_version,
            commit_version,
        )
        from alma_memory_spark.operators._pairs_store import write_pairs
        from alma_memory_spark.operators.ann_index import IVFIndex

        id_type = df.schema[id_col].dataType.simpleString()
        vdir = begin_version(path)
        ivf = IVFIndex.build(
            spark, df, os.path.join(vdir, "ivf"), id_col=id_col,
            vec_col=vec_col, cent_every=cent_every,
            kmeans_iters=kmeans_iters, n_assign=n_assign,
        )
        pairs = semantic_dedup_pairs(
            df, id_col=id_col, vec_col=vec_col, threshold=threshold,
            quantizer=ivf, n_assign=n_assign,
        )
        write_pairs(
            pairs, os.path.join(vdir, "pairs"),
            "id_a", "id_b", "cos_sim", n_buckets,
        )
        n = df.count()
        idx = SemDedupIndex(
            spark, path, ivf, id_col, id_type, vec_col, threshold, n,
            vroot=vdir, n_buckets=n_buckets, n_assign=n_assign,
        )
        idx._write_stats(vdir, n)
        idx.vroot = commit_version(path, vdir)
        # the staging dir was renamed at commit — the inner IVF handle
        # pins dead absolute paths; reload it from the committed root
        idx.ivf = IVFIndex.load(spark, os.path.join(idx.vroot, "ivf"))
        return idx

    def _write_stats(self, vdir: str, n_delta: int) -> None:
        import json
        import os

        from alma_memory_spark.operators._pairs_store import PAIRS_LAYOUT
        from alma_memory_spark.session import tiny_df

        tiny_df(
            self.spark,
            [
                (
                    json.dumps(
                        {
                            "id_col": self.id_col,
                            "id_type": self.id_type,
                            "vec_col": self.vec_col,
                            "threshold": self.threshold,
                            "n_buckets": self.n_buckets,
                            "pairs_layout": PAIRS_LAYOUT,
                            "n_assign": self.n_assign,
                        }
                    ),
                    n_delta,
                )
            ],
            "params string, n_docs long",
        ).coalesce(1).write.mode("append").parquet(os.path.join(vdir, "stats"))

    @staticmethod
    def load(spark, path: str) -> "SemDedupIndex":
        import json
        import os

        from alma_memory_spark.operators._index_version import load_vroot
        from alma_memory_spark.operators._pairs_store import (
            require_pairs_layout,
        )
        from alma_memory_spark.operators.ann_index import IVFIndex

        vroot = load_vroot(path)
        rows = spark.read.parquet(os.path.join(vroot, "stats")).collect()
        p = json.loads(rows[0]["params"])
        require_pairs_layout(p, path)
        ivf = IVFIndex.load(spark, os.path.join(vroot, "ivf"))
        return SemDedupIndex(
            spark, path, ivf, p["id_col"], p["id_type"], p["vec_col"],
            float(p["threshold"]), n_docs=sum(r["n_docs"] for r in rows),
            vroot=vroot, n_buckets=p["n_buckets"], n_assign=p["n_assign"],
        )

    def add(self, batch: DataFrame) -> int:
        """Incremental semantic dedup of a new batch; returns the
        number of new verified pairs. See the class docstring for the
        crash-order contract."""
        import os

        from alma_memory_spark.operators._index_version import (
            require_live_version,
        )
        from alma_memory_spark.operators._pairs_store import (
            read_adjacent_pairs,
            write_pairs,
        )

        require_live_version(self.path, self.vroot)
        # ONE assignment pass + cells collect feeds both the pair
        # kernel and the membership replay guard (the assigned frame is
        # eagerly checkpointed inside _assign_batch)
        assigned, touched = _assign_batch(
            self.ivf, batch, self.id_col, self.vec_col,
            n_assign=self.n_assign,
        )
        # replay guard reads only BATCH-ADJACENT accumulated pairs
        # (VERDICT r7 #1): every pair an increment emits touches a
        # batch id, so the history prunes to the batch ids' adjacency
        # partitions — never an O(history) scan + shuffle per add
        guard = read_adjacent_pairs(
            self.spark, os.path.join(self.vroot, "pairs"),
            assigned.select("id"),
            "id_a", "id_b", "cos_sim", self.id_type,
            self.n_buckets,
        )
        new_pairs = (
            _incremental_pairs_from_assigned(
                self.ivf, assigned, touched, self.threshold,
                spark=self.spark, multi=self.n_assign > 1,
            )
            .join(guard, ["id_a", "id_b"], "left_anti")
            .localCheckpoint(eager=True)
        )
        n_new = new_pairs.count()
        # membership first, replay-guarded: only ids absent from the
        # touched cells' lists append (a redelivered batch is a no-op)
        if touched:
            present = self.ivf._guarded_lists(touched, None).select(
                F.col("id").alias(self.id_col)
            )
            fresh = batch.join(present, self.id_col, "left_anti")
            n_fresh = fresh.count()
            if n_fresh:
                self.ivf.add(fresh, id_col=self.id_col, vec_col=self.vec_col)
                self.n_docs += n_fresh
                self._write_stats(self.vroot, n_fresh)
        if n_new:
            write_pairs(
                new_pairs, os.path.join(self.vroot, "pairs"),
                "id_a", "id_b", "cos_sim", self.n_buckets,
            )
        return int(n_new)

    def compact(self) -> "SemDedupIndex":
        """Fold per-add file accumulation into a fresh version — ONE
        file per pairs bucket / ivf cell partition — WITHOUT recomputing
        pairs or assignments (VERDICT r8 #2): each add() appends a
        parquet file per touched partition, so a long-running streaming
        maintainer degrades file listings unboundedly. Replay leaves no
        pair/list debris here (membership-guarded, see the class
        docstring), so unlike NearDupIndex the fold is pure file-count
        hygiene: content is identical by construction (contract-tested
        byte-for-byte through the canonical views). Stats fold to one
        exact row (n_docs recounted from distinct list ids). Returns a
        fresh handle on the committed version; single-writer contract
        like add()."""
        import os

        from alma_memory_spark.operators._index_version import (
            begin_version,
            commit_version,
            require_live_version,
        )
        from alma_memory_spark.operators._pairs_store import compact_pairs
        from alma_memory_spark.operators.ann_index import IVFIndex

        require_live_version(self.path, self.vroot)
        vdir = begin_version(self.path)
        new_ivf = self.ivf.compact_to(os.path.join(vdir, "ivf"))
        compact_pairs(
            self.spark,
            os.path.join(self.vroot, "pairs"),
            os.path.join(vdir, "pairs"),
            "id_a", "id_b", "cos_sim", self.id_type, self.n_buckets,
        )
        # exact doc count from the folded lists (multi-membership
        # stores n_assign rows per doc -> distinct ids)
        n_exact = new_ivf._lists_df().select("id").distinct().count()
        out = SemDedupIndex(
            self.spark, self.path, new_ivf, self.id_col, self.id_type,
            self.vec_col, self.threshold, n_exact, vroot=vdir,
            n_buckets=self.n_buckets, n_assign=self.n_assign,
        )
        out._write_stats(vdir, n_exact)
        out.vroot = commit_version(self.path, vdir)
        # the staging dir was renamed at commit — reload the inner IVF
        # from the committed root (same as build())
        out.ivf = IVFIndex.load(self.spark, os.path.join(out.vroot, "ivf"))
        return out

    def pairs(self) -> DataFrame:
        import os

        from alma_memory_spark.operators._pairs_store import read_pairs

        return read_pairs(
            self.spark, os.path.join(self.vroot, "pairs"),
            "id_a", "id_b", "cos_sim", self.id_type,
        )

    def groups(self) -> DataFrame:
        """(doc_id, group_id, is_canonical) families over accumulated
        pairs (cell-bounded — the SemDeDup approximation). Memoized per
        pair-set fingerprint like NearDupIndex.groups (the shared
        _index_version machinery): unchanged pairs serve a lazy read,
        zero Spark jobs at call time."""
        import os

        from alma_memory_spark.operators._index_version import (
            pairs_fingerprint,
            serve_memoized_labels,
        )

        return serve_memoized_labels(
            self.spark,
            self.vroot,
            pairs_fingerprint(os.path.join(self.vroot, "pairs")),
            f"doc_id {self.id_type}, group_id {self.id_type}, "
            "is_canonical boolean",
            lambda: semantic_dedup_groups(self.pairs()),
        )

    def drop_list(self) -> DataFrame:
        return self.groups().filter(~F.col("is_canonical")).select("doc_id")
