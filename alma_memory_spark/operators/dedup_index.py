"""Persisted near-duplicate (MinHash-LSH) index with incremental add.

The batch near-dup pipeline (plans/text_queries.py minhash_lsh_pairs)
recomputes signatures + banding + the candidate self-join over the
WHOLE corpus per run — O(corpus) per invocation. A continuously
ingested 100 TB corpus needs the incremental form: persist the banded
signature table once, and for each new batch of documents generate
candidates only against the band buckets the NEW docs hash into
(partition-pruned scan), verify exact Jaccard against only the
existing docs those candidates name, and append the verified pairs.
Cost per add is O(batch + collisions), never O(corpus).

Layout (under a versioned root, operators/_index_version.py — the
same atomic-_CURRENT protocol the IVF/text indexes use):

- ``bands/``  (doc, band_idx, band_key) partitioned by
  ``bucket = pmod(xxhash64(band_idx, band_key), n_buckets)`` — the
  candidate join reads only the new batch's buckets.
- ``toks/``   (doc, ts) partitioned by
  ``tbucket = pmod(xxhash64(doc), n_buckets)`` — the verify join
  reads only the buckets holding the candidates' existing docs.
- ``pairs/``  verified pairs, append-only, in the adjacency-bucketed
  layout of operators/_pairs_store.py (both orientations partitioned
  by ``pmod(xxhash64(src), n_buckets)``) — the add-path replay guard
  reads only the batch ids' partitions instead of the full history.
- ``stats/``  one row: params + running doc count.

EVERY mutation is an append — there is no in-place rewrite anywhere,
so a reader never observes a half-rewritten file set. Dedup GROUPS are
derived, not stored: ``groups()`` runs global connected components
(operators/components.py) over the accumulated pairs, which is bounded
by the number of near-duplicate docs (tiny vs the corpus) and takes
the driver-finish fast path in the common case. That choice is what
makes the index append-only: component labels are not append-mergeable,
pairs are.

Reference parity: no reference analog (the reference dedups memories
per-group at consolidation time, alma/learning/consolidation.py);
this is part of the training-data-pipeline extension surface.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from alma_memory_spark.functions.text import hash32, minhash_signature, ws_tokens
from alma_memory_spark.operators._index_version import (
    begin_version,
    commit_version,
    load_vroot,
    require_live_version,
)
from alma_memory_spark.operators._pairs_store import (
    PAIRS_LAYOUT,
    compact_pairs,
    read_adjacent_pairs,
    read_pairs,
    require_pairs_layout,
    write_pairs,
)
from alma_memory_spark.operators.components import near_dup_groups

__all__ = ["AddStats", "NearDupIndex"]


class AddStats(int):
    """add()'s return: an int (count of new verified pairs — all
    existing `add(...) == n` callers keep working) carrying the
    band-cap saturation counters OBSERVED BY THIS ADD (ADVICE/VERDICT
    r6 #8): the over-cap groups (and their total rows) in the band
    buckets this batch touched — a snapshot, not a delta, so repeat
    adds into a capped bucket re-observe the same group. The persisted
    cap silently stops emitting NEW pairs for groups that cross it
    between adds (documented contract); these counters let a pipeline
    alarm on cap saturation instead of discovering missing dups
    downstream."""

    capped_groups: int
    dropped_band_rows: int

    def __new__(cls, n_new: int, capped_groups: int = 0, dropped_band_rows: int = 0):
        o = super().__new__(cls, n_new)
        o.capped_groups = capped_groups
        o.dropped_band_rows = dropped_band_rows
        return o


class NearDupIndex:
    """Handle over a built near-dup index (one immutable version)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str,
        id_type: str,
        n_buckets: int,
        k: int,
        bands: int,
        rows: int,
        verify_t: float,
        n_docs: int,
        vroot: str | None = None,
        band_cap: int | None = None,
    ):
        self.spark = spark
        self.path = path
        self.vroot = vroot
        self.id_col = id_col
        self.id_type = id_type
        self.n_buckets = n_buckets
        self.k = k
        self.bands = bands
        self.rows = rows
        self.verify_t = verify_t
        self.n_docs = n_docs
        self.band_cap = band_cap

    # ---- plan fragments ----------------------------------------------

    @staticmethod
    def _toks_frame(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
        return docs.select(
            F.col(id_col).alias("doc"),
            F.array_distinct(ws_tokens(text_col)).alias("ts"),
        )

    def _bands_frame(self, toks: DataFrame) -> DataFrame:
        """(doc, band_idx, band_key, bucket) — one signature fold per
        doc (narrow map), banding via explode of `bands` structs."""
        sigs = toks.withColumn(
            "hs", F.transform("ts", hash32)
        ).withColumn("sig", minhash_signature(F.col("hs"), self.k, hashed=True))
        band_structs = [
            F.struct(
                F.lit(i).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        "_",
                        *[
                            F.col("sig")[i * self.rows + r].cast("string")
                            for r in range(self.rows)
                        ],
                    )
                ).alias("band_key"),
            )
            for i in range(self.bands)
        ]
        return (
            sigs.select("doc", F.explode(F.array(*band_structs)).alias("b"))
            .select("doc", "b.band_idx", "b.band_key")
            .withColumn(
                "bucket",
                F.pmod(F.xxhash64("band_idx", "band_key"), F.lit(self.n_buckets)),
            )
        )

    @staticmethod
    def _tbucket(col, n_buckets: int):
        return F.pmod(F.xxhash64(col), F.lit(n_buckets))

    def _bands_schema(self) -> str:
        return (
            f"doc {self.id_type}, band_idx int, band_key string, bucket long"
        )

    def _toks_schema(self) -> str:
        return f"doc {self.id_type}, ts array<string>, tbucket long"

    def _apply_band_cap(self, bands_df: DataFrame) -> DataFrame:
        """Drop every (band_idx, band_key) group above the persisted
        cap BEFORE candidate generation — the LSH skew guard; a
        degenerate stop-phrase band yields O(group^2) candidates
        otherwise. No-op when band_cap is None."""
        if self.band_cap is None:
            return bands_df
        from pyspark.sql import Window as _W

        return bands_df.withColumn(
            "_bn", F.count("*").over(_W.partitionBy("band_idx", "band_key"))
        ).filter(F.col("_bn") <= self.band_cap).drop("_bn")

    def _verify(self, cand: DataFrame, toks_a: DataFrame, toks_b: DataFrame) -> DataFrame:
        """Exact Jaccard over candidate (doc_a < doc_b) pairs; keeps
        pairs at/above verify_t, similarity rounded to 6dp (the
        engine-wide determinism convention)."""
        ta = toks_a.select(F.col("doc").alias("doc_a"), F.col("ts").alias("ts_a"))
        tb = toks_b.select(F.col("doc").alias("doc_b"), F.col("ts").alias("ts_b"))
        inter = F.size(F.array_intersect("ts_a", "ts_b")).cast("double")
        union = (F.size("ts_a") + F.size("ts_b")).cast("double") - inter
        return (
            cand.join(ta, "doc_a")
            .join(tb, "doc_b")
            .withColumn("_j", inter / union)
            .filter(F.col("_j") >= self.verify_t)
            .select(
                "doc_a", "doc_b", F.round("_j", 6).alias("jaccard_sim")
            )
        )

    # ---- build / load -------------------------------------------------

    @staticmethod
    def build(
        spark: SparkSession,
        docs: DataFrame,
        path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        n_buckets: int = 32,
        k: int = 8,
        bands: int = 2,
        rows: int = 4,
        verify_t: float = 0.9,
        band_cap: int | None = None,
    ) -> "NearDupIndex":
        """One-time build: token sets -> signatures -> banded table ->
        in-corpus candidate self-join (shuffle on band key only) ->
        exact-Jaccard verify -> persisted pairs. Bands and token sets
        land bucket-partitioned so every later add prunes its reads.

        `band_cap` (persisted): skip candidate generation inside any
        (band_idx, band_key) group larger than the cap — the standard
        LSH skew guard (a degenerate stop-phrase band would otherwise
        make O(group^2) candidates). Cap decisions are made against
        the group size AT EACH OPERATION, so a group that crosses the
        cap between adds stops yielding NEW pairs from then on while
        its earlier pairs remain — incremental equals full rebuild
        only while every group stays on one side of the cap (the
        contract tests run uncapped)."""
        if bands * rows > k:
            # the band expression indexes sig[band*rows + r]; past k it
            # yields NULLs that concat_ws silently skips -> degenerate
            # shared band keys and spurious candidate pairs (ADVICE r6).
            # Guarded at build() — NOT in __init__ — so load() of an
            # index persisted before this check still serves its
            # (exact-verified, correct) accumulated pairs for reads.
            raise ValueError(
                f"bands*rows must be <= k (got bands={bands} rows={rows} k={k})"
            )
        id_type = docs.schema[id_col].dataType.simpleString()
        idx = NearDupIndex(
            spark, path, id_col, id_type, n_buckets, k, bands, rows,
            verify_t, n_docs=0, band_cap=band_cap,
        )
        toks = NearDupIndex._toks_frame(docs, id_col, text_col)
        bands_df = idx._bands_frame(toks)

        vdir = begin_version(path)
        (
            bands_df.repartition(min(n_buckets, 32), "bucket")
            .sortWithinPartitions("bucket", "band_idx", "band_key", "doc")
            .write.partitionBy("bucket")
            .parquet(os.path.join(vdir, "bands"))
        )
        (
            toks.withColumn("tbucket", NearDupIndex._tbucket(F.col("doc"), n_buckets))
            .repartition(min(n_buckets, 32), "tbucket")
            .sortWithinPartitions("tbucket", "doc")
            .write.partitionBy("tbucket")
            .parquet(os.path.join(vdir, "toks"))
        )
        idx.vroot = vdir  # reads below serve from the staged version
        # declared schemas: an EMPTY corpus writes only _SUCCESS into
        # the partitioned dirs, and schema inference over zero files
        # aborts the build with an unrelated AnalysisException
        stored_bands = spark.read.schema(idx._bands_schema()).parquet(
            os.path.join(vdir, "bands")
        )
        capped_groups = dropped_band_rows = 0
        if band_cap is not None:
            over = (
                stored_bands.groupBy("band_idx", "band_key")
                .count()
                .filter(F.col("count") > band_cap)
                .agg(
                    F.count(F.lit(1)).alias("g"),
                    F.coalesce(F.sum("count"), F.lit(0)).alias("r"),
                )
                .collect()[0]
            )
            capped_groups, dropped_band_rows = int(over["g"]), int(over["r"])
        stored_bands = idx._apply_band_cap(stored_bands)
        a = stored_bands.alias("a")
        b = stored_bands.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc") < F.col("b.doc")),
            )
            .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
            .distinct()
        )
        stored_toks = spark.read.schema(idx._toks_schema()).parquet(
            os.path.join(vdir, "toks")
        ).select("doc", "ts")
        pairs = idx._verify(cand, stored_toks, stored_toks)
        write_pairs(
            pairs, os.path.join(vdir, "pairs"),
            "doc_a", "doc_b", "jaccard_sim", n_buckets,
        )
        n = docs.count()
        idx.n_docs = n
        idx._write_stats(
            vdir, n, capped_groups=capped_groups,
            dropped_band_rows=dropped_band_rows,
        )
        idx.vroot = commit_version(path, vdir)  # COMMIT
        return idx

    def _write_stats(
        self,
        vdir: str,
        n_delta: int,
        capped_groups: int = 0,
        dropped_band_rows: int = 0,
    ) -> None:
        """Append one DELTA row; load() sums them — integer-associative,
        so the running doc count merges losslessly across adds. Under
        foreachBatch crash replay the delta is appended twice, so
        n_docs is an OVER-COUNTING upper bound until a rebuild folds
        it; pair content stays exact (the anti-joined append), which
        is the correctness-bearing state. The band-cap saturation
        counters ride the params JSON (every row carries the full core
        params, so load()'s rows[0] read stays order-independent)."""
        from alma_memory_spark.session import tiny_df

        tiny_df(
            self.spark,
            [
                (
                    json.dumps(
                        {
                            "id_col": self.id_col,
                            "id_type": self.id_type,
                            "n_buckets": self.n_buckets,
                            "k": self.k,
                            "bands": self.bands,
                            "rows": self.rows,
                            "verify_t": self.verify_t,
                            "band_cap": self.band_cap,
                            "pairs_layout": PAIRS_LAYOUT,
                            "capped_groups": capped_groups,
                            "dropped_band_rows": dropped_band_rows,
                        }
                    ),
                    n_delta,
                )
            ],
            "params string, n_docs long",
        ).coalesce(1).write.mode("append").parquet(os.path.join(vdir, "stats"))

    def cap_saturation(self) -> dict:
        """Band-cap saturation over this version's lifetime, aggregated
        from the per-OPERATION snapshots each build/add records. The
        snapshots are observations, not deltas — an add whose batch
        hashes into an already-capped group re-observes that group — so
        the honest order-free aggregates are counts/maxima, never sums:

          ops_with_saturation   operations that saw >= 1 capped group
          max_capped_groups     worst per-operation capped-group count
          max_dropped_band_rows worst per-operation muted-row count

        Non-zero means some group crossed the cap and stopped yielding
        NEW pairs — the alarm a dedup pipeline watches instead of
        discovering missing dups downstream."""
        rows = self.spark.read.parquet(os.path.join(self.vroot, "stats")).collect()
        out = {
            "ops_with_saturation": 0,
            "max_capped_groups": 0,
            "max_dropped_band_rows": 0,
        }
        for r in rows:
            p = json.loads(r["params"])
            g = int(p.get("capped_groups", 0))
            d = int(p.get("dropped_band_rows", 0))
            if g:
                out["ops_with_saturation"] += 1
            out["max_capped_groups"] = max(out["max_capped_groups"], g)
            out["max_dropped_band_rows"] = max(out["max_dropped_band_rows"], d)
        return out

    @staticmethod
    def load(spark: SparkSession, path: str) -> "NearDupIndex":
        vroot = load_vroot(path)
        rows = spark.read.parquet(os.path.join(vroot, "stats")).collect()
        p = json.loads(rows[0]["params"])
        require_pairs_layout(p, path)
        return NearDupIndex(
            spark, path, p["id_col"], p["id_type"], p["n_buckets"], p["k"],
            p["bands"], p["rows"], p["verify_t"],
            n_docs=sum(r["n_docs"] for r in rows), vroot=vroot,
            band_cap=p["band_cap"],
        )

    # ---- incremental add ---------------------------------------------

    def add(self, docs: DataFrame, text_col: str | None = None) -> int:
        """Incremental dedup of a new batch: candidates against ONLY the
        band buckets the new docs hash into (partition-pruned persisted
        scan), exact verify against ONLY the existing docs named by a
        candidate (tbucket-pruned), then append pairs + bands + toks.
        Returns the number of new verified pairs. Assumes new doc ids
        (append-only corpus), the same contract as the text/IVF adds.

        The candidate join keeps new-vs-old AND new-vs-new collisions
        (left side is always a new doc); old-vs-old pairs were emitted
        by earlier adds or the build, so accumulated pairs equal the
        full-rebuild pair set (contract-tested).

        Single-writer contract (same as the text/IVF index adds): one
        add() at a time per index — the pair anti-join reads the
        accumulated pairs before appending, so two RACING adds of
        overlapping batches could both miss each other's in-flight
        pairs. The streaming maintainer serializes adds per query by
        construction; batch callers hold their own lock."""
        if self.bands * self.rows > self.k:
            # load() accepts legacy bad-geometry indexes for READS; a
            # WRITE through one would compute degenerate band keys
            # (out-of-range sig indexing) — re-check at every mutation
            raise ValueError(
                f"bands*rows must be <= k to add (got bands={self.bands} "
                f"rows={self.rows} k={self.k}) — rebuild with valid geometry"
            )
        require_live_version(self.path, self.vroot)
        new_toks = self._toks_frame(docs, self.id_col, text_col or "text")
        new_bands = self._bands_frame(new_toks)
        new_bands = new_bands.localCheckpoint(eager=True)  # 2 consumers
        new_toks = new_toks.localCheckpoint(eager=True)
        capped_groups = dropped_band_rows = 0

        # bucket prune: only partitions a NEW band hashes into
        buckets = [r["bucket"] for r in new_bands.select("bucket").distinct().collect()]
        if buckets:
            old_bands = (
                self.spark.read.schema(self._bands_schema())
                .parquet(os.path.join(self.vroot, "bands"))
                .filter(F.col("bucket").isin(buckets))
                .select("doc", "band_idx", "band_key")
            )
            merged = (
                old_bands.unionByName(
                    new_bands.select("doc", "band_idx", "band_key")
                )
                # crash-replayed batches appended their band rows twice;
                # duplicates cannot change the candidate SET (distinct
                # below) but WOULD double group sizes at the band_cap
                # check, silently muting a legitimately under-cap group
                .dropDuplicates(["doc", "band_idx", "band_key"])
            )
            if self.band_cap is not None:
                # saturation counters (one tiny agg over the PRUNED
                # band set): groups the cap muted this add + their rows
                over = (
                    merged.groupBy("band_idx", "band_key")
                    .count()
                    .filter(F.col("count") > self.band_cap)
                    .agg(
                        F.count(F.lit(1)).alias("g"),
                        F.coalesce(F.sum("count"), F.lit(0)).alias("r"),
                    )
                    .collect()[0]
                )
                capped_groups = int(over["g"])
                dropped_band_rows = int(over["r"])
            both = self._apply_band_cap(merged)
            a = new_bands.alias("a")
            b = both.alias("b")
            cand = (
                a.join(
                    b,
                    (F.col("a.band_idx") == F.col("b.band_idx"))
                    & (F.col("a.band_key") == F.col("b.band_key"))
                    & (F.col("a.doc") != F.col("b.doc")),
                )
                .select(
                    F.least(F.col("a.doc"), F.col("b.doc")).alias("doc_a"),
                    F.greatest(F.col("a.doc"), F.col("b.doc")).alias("doc_b"),
                )
                .distinct()
                .localCheckpoint(eager=True)
            )
            # verify side: new docs' tokens are in memory; existing
            # docs' tokens read only from the tbuckets the candidates'
            # OLD ids hash into
            new_ids = new_toks.select("doc")
            old_ids = (
                cand.select(F.col("doc_a").alias("doc"))
                .union(cand.select(F.col("doc_b").alias("doc")))
                .distinct()
                .join(new_ids, "doc", "left_anti")
            )
            tbuckets = [
                r["tb"]
                for r in old_ids.select(
                    self._tbucket(F.col("doc"), self.n_buckets).alias("tb")
                )
                .distinct()
                .collect()
            ]
            if tbuckets:
                old_toks = (
                    self.spark.read.schema(self._toks_schema())
                    .parquet(os.path.join(self.vroot, "toks"))
                    .filter(F.col("tbucket").isin(tbuckets))
                    .join(old_ids, "doc")
                    .select("doc", "ts")
                    # replayed appends duplicate tok rows; the verify
                    # join must see each existing doc once
                    .dropDuplicates(["doc"])
                )
                all_toks = new_toks.unionByName(old_toks)
            else:
                all_toks = new_toks
            # anti-join against accumulated pairs: a replayed batch
            # (foreachBatch crash redelivery) or a re-added doc would
            # otherwise append duplicate pair rows — this makes add()
            # idempotent on pair CONTENT (bands/toks tolerate replay
            # by construction: duplicates cannot change the candidate
            # set, only waste bytes until a rebuild folds them).
            # Every pair this add can emit touches a NEW doc id, so the
            # guard reads only BATCH-ADJACENT history (VERDICT r7 #1):
            # partition-pruned under the adjacency layout, broadcast
            # semi-joined either way — never an O(history) shuffle
            guard = read_adjacent_pairs(
                self.spark, os.path.join(self.vroot, "pairs"),
                new_toks.select("doc"),
                "doc_a", "doc_b", "jaccard_sim", self.id_type,
                self.n_buckets,
            )
            new_pairs = (
                self._verify(cand, all_toks, all_toks)
                .join(guard, ["doc_a", "doc_b"], "left_anti")
                .localCheckpoint(eager=True)
            )
            n_new = new_pairs.count()
        else:
            n_new = 0
            new_pairs = None

        # publish the new docs into the index, membership FIRST
        # (toks -> bands -> pairs -> stats): a crash after only the
        # membership appends leaves the docs fully verifiable by
        # future adds (their pairs arrive on replay, anti-joined); the
        # old pairs-first order instead left docs whose bands/toks
        # were missing, silently dropping every FUTURE collision
        # against them at the verify join
        (
            new_toks.withColumn(
                "tbucket", self._tbucket(F.col("doc"), self.n_buckets)
            )
            .repartition(min(self.n_buckets, 32), "tbucket")
            .write.mode("append")
            .partitionBy("tbucket")
            .parquet(os.path.join(self.vroot, "toks"))
        )
        (
            new_bands.select("doc", "band_idx", "band_key", "bucket")
            .repartition(min(self.n_buckets, 32), "bucket")
            .write.mode("append")
            .partitionBy("bucket")
            .parquet(os.path.join(self.vroot, "bands"))
        )
        if n_new:
            write_pairs(
                new_pairs, os.path.join(self.vroot, "pairs"),
                "doc_a", "doc_b", "jaccard_sim", self.n_buckets,
            )
        n_delta = docs.count()
        self.n_docs += n_delta
        self._write_stats(
            self.vroot,
            n_delta,
            capped_groups=capped_groups,
            dropped_band_rows=dropped_band_rows,
        )
        return AddStats(int(n_new), capped_groups, dropped_band_rows)

    # ---- maintenance ---------------------------------------------------

    def compact(self) -> "NearDupIndex":
        """Fold accumulated append debris WITHOUT recomputing anything:
        crash-replayed batches append duplicate band/tok rows (harmless
        for correctness — documented — but wasted bytes and scan work)
        and re-append their stats delta (n_docs over-counts). Compaction
        rewrites bands/toks/pairs deduplicated into a NEW version dir,
        folds stats into one exact row (n_docs = distinct docs), and
        commits via the same atomic swap a rebuild uses — O(index size)
        IO, zero similarity recompute, readers on the old version keep
        their snapshot. Returns a fresh handle on the committed version;
        single-writer contract like add()."""
        require_live_version(self.path, self.vroot)
        vdir = begin_version(self.path)
        bands = (
            self.spark.read.schema(self._bands_schema())
            .parquet(os.path.join(self.vroot, "bands"))
            .dropDuplicates(["doc", "band_idx", "band_key"])
        )
        (
            bands.repartition(min(self.n_buckets, 32), "bucket")
            .sortWithinPartitions("bucket", "band_idx", "band_key", "doc")
            .write.partitionBy("bucket")
            .parquet(os.path.join(vdir, "bands"))
        )
        toks = (
            self.spark.read.schema(self._toks_schema())
            .parquet(os.path.join(self.vroot, "toks"))
            .dropDuplicates(["doc"])
        )
        (
            toks.repartition(min(self.n_buckets, 32), "tbucket")
            .sortWithinPartitions("tbucket", "doc")
            .write.partitionBy("tbucket")
            .parquet(os.path.join(vdir, "toks"))
        )
        compact_pairs(
            self.spark,
            os.path.join(self.vroot, "pairs"),
            os.path.join(vdir, "pairs"),
            "doc_a", "doc_b", "jaccard_sim", self.id_type, self.n_buckets,
        )
        n_exact = (
            self.spark.read.schema(self._toks_schema())
            .parquet(os.path.join(vdir, "toks"))
            .count()
        )
        out = NearDupIndex(
            self.spark, self.path, self.id_col, self.id_type,
            self.n_buckets, self.k, self.bands, self.rows, self.verify_t,
            n_docs=n_exact, vroot=vdir, band_cap=self.band_cap,
        )
        out._write_stats(vdir, n_exact)
        out.vroot = commit_version(self.path, vdir)
        return out

    # ---- reads --------------------------------------------------------

    def pairs(self) -> DataFrame:
        """All verified near-dup pairs accumulated so far (canonical
        one-row-per-pair view)."""
        return read_pairs(
            self.spark, os.path.join(self.vroot, "pairs"),
            "doc_a", "doc_b", "jaccard_sim", self.id_type,
        )

    def _pairs_fingerprint(self) -> str:
        from alma_memory_spark.operators._index_version import pairs_fingerprint

        return pairs_fingerprint(os.path.join(self.vroot, "pairs"))

    def groups(self) -> DataFrame:
        """(doc_id, group_id, is_canonical) dedup families DERIVED from
        the accumulated pairs via global connected components — bounded
        by the near-dup population, not the corpus; takes the
        driver-finish fast path when the pair graph is small.

        Memoized per pair-set fingerprint (VERDICT r6 #4): the labels
        persist under groups_memo/fp=<fingerprint> inside the version
        dir (derived data — append-only like every other mutation), so
        repeated groups() calls over an unchanged pair set — including
        after adds that appended no pairs — serve a lazy read of the
        memo and run ZERO Spark jobs at call time.

        groups() is a READ api, so unlike add() it carries no
        single-writer contract — race/GC/crash handling lives in the
        shared machinery (_index_version.serve_memoized_labels, also
        used by SemDedupIndex.groups)."""
        from alma_memory_spark.operators._index_version import (
            serve_memoized_labels,
        )

        return serve_memoized_labels(
            self.spark,
            self.vroot,
            self._pairs_fingerprint(),
            f"doc_id {self.id_type}, group_id {self.id_type}, "
            "is_canonical boolean",
            lambda: near_dup_groups(self.pairs()),
        )

    def drop_list(self) -> DataFrame:
        """Doc ids to REMOVE from the corpus (non-canonical members of
        every dedup family) — the anti-join side of the dedup step."""
        return self.groups().filter(~F.col("is_canonical")).select("doc_id")
