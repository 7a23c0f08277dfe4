"""Persisted inverted text index: build once at ingest, postings-sized
BM25 queries forever after.

The registry's `text_relevance_search` gate proves the BM25 math over a
raw corpus scan (operators/text_search.py:bm25_scores re-tokenizes every
document per query). That shape is correct but corpus-sized: at 100 TB a
query would re-read and re-explode every document. This module
materializes what the reference's text stage builds in memory (the
reference delegates to the `bm25s` library, which constructs an in-RAM
inverted index per corpus — alma/retrieval/text_search.py:46-194); here
the inverted index is a term-bucketed parquet table, so a query reads
only the bucket partitions its terms hash into:

    <path>/_CURRENT        names the live version dir — build() writes a
                           COMPLETE new index under a fresh v<N>/ dir and
                           commits with one atomic rename (see
                           operators/_index_version.py), so a query
                           concurrent with a rebuild never reads
                           half-written postings; handles pin their
                           version at load
    <path>/v<N>/postings/  parquet partitioned by bucket:
                           (term, doc, tf, dl) — one row per (doc, term),
                           sorted by term inside each file so parquet
                           row-group min/max stats prune non-matching terms
                           even within a probed bucket
    <path>/v<N>/stats/     one-row parquet: (n_docs, sum_dl, n_buckets,
                           id_col) — corpus size + total token count; avgdl
                           derives exactly as sum_dl / n_docs

Query shape: `bucket IN (hash(q-terms))` lands in PartitionFilters
(bucket is a hive partition column) and `term IN (q-terms)` in
PushedFilters — the scan touches |q-terms| directories out of
n_buckets and skips non-matching row groups inside them. Everything
downstream (df, idf, the Okapi sum) runs on postings that already
matched the query, exactly like bm25_scores' post-filter plan, so the
scores are identical — the index changes WHERE the postings come from,
not what they are.

Per-term document frequency is NOT stored: all postings of a term live
in that term's bucket, so df = count(rows per term) over the pruned
scan. That keeps `add()` (incremental append of new documents) a pure
postings append + O(1) stats merge with no read-modify-write of any
per-term row.

The bucket hash must agree between the Python driver (query side) and
the JVM (build side): both use the first 8 hex digits of md5(term) mod
n_buckets — a hash both sides can compute exactly.

The index is DERIVED data: a crash between the postings append and the
stats rewrite in add() leaves a rebuildable index, not a corrupted
store (rebuild() re-derives everything from the source table). The
canonical corpus stays the ParquetStore.

Streaming ingest uses EPOCH SEGMENTS for exactly-once adds
(add_epoch): each micro-batch writes its postings under
`segments/<epoch>/postings/...` with mode('overwrite') (a partial
crash leftover is simply rewritten) and then commits by renaming a
`_COMMIT` json (delta stats) into place — an atomic rename, so a
replayed foreachBatch whose epoch already committed is a NO-OP and a
replay of an uncommitted epoch rewrites the same segment instead of
double-appending. Readers union base postings + committed segments;
totals = base stats + committed segment stats. build() folds segments
away (the maintenance rebuild is the compaction).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alma_memory_spark.functions.text import ws_tokens
from alma_memory_spark.operators._index_version import (
    begin_version,
    commit_version,
    load_vroot,
    require_live_version,
)
from alma_memory_spark.operators.text_search import BM25_B, BM25_K1


def _bucket_col(term: F.Column, n_buckets: int) -> F.Column:
    """JVM-side bucket id: first 8 hex digits of md5 mod n_buckets."""
    return F.pmod(
        F.conv(F.substring(F.md5(term), 1, 8), 16, 10).cast("long"),
        F.lit(n_buckets),
    )


def _bucket_py(term: str, n_buckets: int) -> int:
    """Driver-side twin of _bucket_col — must agree bit-for-bit."""
    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % n_buckets


class InvertedTextIndex:
    """Handle over a built index: the postings path + tiny cached stats."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_docs: int,
        sum_dl: int,
        n_buckets: int,
        id_col: str,
        id_type: str = "string",
        extra_cols: list[tuple[str, str]] | None = None,
        vroot: str | None = None,
    ):
        self.spark = spark
        self.path = path
        #: version dir this handle serves; a rebuild swaps _CURRENT
        #: but never mutates this version
        self.vroot = vroot
        self.n_docs = n_docs
        self.sum_dl = sum_dl
        self.n_buckets = n_buckets
        self.id_col = id_col
        self.id_type = id_type
        #: (name, type) attribute columns stored on every posting row —
        #: scope columns (project_id, agent) make scoped BM25 an
        #: index-only read with EXACT scoped statistics: the scope
        #: predicate lands in the pruned scan, per-term df comes from
        #: the already-scoped postings, and N/avgdl come from the
        #: per-group stats table — identical scores to a scan-BM25
        #: over the scoped corpus, no over-fetch, no fallback
        self.extra_cols = extra_cols or []
        # totals INCLUDE committed epoch segments; base stats (what the
        # stats table holds) track only the base postings dir
        self._base_n = n_docs
        self._base_sdl = sum_dl
        for _e, sn, ssdl in self._committed_segments():
            self.n_docs += sn
            self.sum_dl += ssdl

    # ---- epoch segments (exactly-once streaming adds) -----------------

    def _segments_root(self) -> str:
        return os.path.join(self.vroot, "segments")

    def _committed_segments(self) -> list[tuple[int, int, int]]:
        """[(epoch, n_docs, sum_dl)] for every committed segment, epoch
        ASC. Driver-side listing, bounded by batches since the last
        rebuild (build() folds segments away)."""
        import json

        root = self._segments_root()
        if not os.path.isdir(root):
            return []
        out = []
        for d in os.listdir(root):
            commit = os.path.join(root, d, "_COMMIT")
            if not os.path.isfile(commit):
                continue
            try:
                with open(commit) as f:
                    meta = json.load(f)
                out.append((int(d), int(meta["n_docs"]), int(meta["sum_dl"])))
            except (OSError, ValueError, KeyError):
                continue  # torn commit == uncommitted
        return sorted(out)

    def applied_epochs(self) -> set[int]:
        return {e for e, _n, _s in self._committed_segments()}

    def add_epoch(
        self,
        docs: DataFrame,
        epoch: int,
        text_col: str = "text",
        lineage: str | None = None,
    ) -> bool:
        """Exactly-once incremental add keyed by the foreachBatch
        epoch_id: returns False (no-op) when this epoch already
        committed — the crash-replay double-append ADVICE finding. The
        segment write is mode('overwrite') so a replay of an
        UNcommitted epoch rewrites the partial leftover instead of
        duplicating it; the atomic `_COMMIT` rename is the single
        commit point and carries the delta stats.

        `lineage` identifies the WRITER RUN (the streaming sink passes
        its checkpoint's query id): epoch ids are per-checkpoint, so an
        epoch that already committed under a DIFFERENT lineage is not a
        replay — it is a brand-new query on a fresh checkpoint whose
        epochs restart at 0, and silently no-oping would drop its
        batches from the index forever (ADVICE r4, ingest.py:238).
        That collision raises; rebuild the index (folding the old
        lineage's segments) before pointing a new checkpoint at it."""
        import json

        require_live_version(self.path, self.vroot)
        seg = os.path.join(self._segments_root(), str(int(epoch)))
        commit_path = os.path.join(seg, "_COMMIT")
        if os.path.isfile(commit_path):
            self._check_lineage(commit_path, lineage, epoch)
            return False
        postings = self._postings(
            docs, self.id_col, text_col, self.n_buckets, self.extra_cols
        )
        dn, dsdl = self._delta_stats(docs, text_col)
        (
            postings.repartition(min(self.n_buckets, 32), "bucket")
            .sortWithinPartitions("bucket", "term", "doc")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(os.path.join(seg, "postings"))
        )
        if self.extra_cols:
            self._group_stats_frame(
                docs, text_col, self.extra_cols
            ).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(seg, "group_stats")
            )
        tmp = os.path.join(seg, "_COMMIT.tmp")
        with open(tmp, "w") as f:
            json.dump({"n_docs": dn, "sum_dl": dsdl, "lineage": lineage}, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, os.path.join(seg, "_COMMIT"))  # COMMIT POINT
        self.n_docs += dn
        self.sum_dl += dsdl
        return True

    @staticmethod
    def _check_lineage(commit_path: str, lineage: str | None, epoch: int) -> None:
        """Raise when a committed epoch belongs to a DIFFERENT writer
        lineage: that is a fresh-checkpoint epoch collision, not a
        replay. Segments committed before lineages were recorded (or
        callers that pass none) keep the lenient no-op behavior."""
        import json

        if lineage is None:
            return
        try:
            with open(commit_path) as f:
                committed = json.load(f).get("lineage")
        except (OSError, ValueError):
            return  # torn/legacy commit: treat as unknown lineage
        if committed is not None and committed != lineage:
            raise RuntimeError(
                f"epoch {epoch} already committed by writer lineage "
                f"{committed!r}, but this writer is {lineage!r} — a NEW "
                "streaming query (fresh checkpoint, epochs restarting at "
                "0) is feeding an index that has committed segments from "
                "a previous lineage; its batches would be silently "
                "dropped as replays. Rebuild the index first, or resume "
                "the original checkpoint."
            )

    def _postings_df(self) -> DataFrame:
        """Read postings with an EXPLICIT schema: inference-free, so an
        index whose corpus produced zero postings (every doc tokenized
        empty) still reads as an empty frame instead of failing with
        'unable to infer schema'. Committed epoch segments union in
        (each its own pruned scan — filters push through the union)."""
        extra_schema = "".join(f", {n} {t}" for n, t in self.extra_cols)
        schema = (
            f"doc {self.id_type}, dl int{extra_schema}, term string, "
            "tf long, bucket long"
        )
        df = self.spark.read.schema(schema).parquet(
            os.path.join(self.vroot, "postings")
        )
        for e, _n, _s in self._committed_segments():
            df = df.unionByName(
                self.spark.read.schema(schema).parquet(
                    os.path.join(self._segments_root(), str(e), "postings")
                )
            )
        return df

    def _group_stats(self, filters: dict) -> tuple[float, float]:
        """(N, avgdl) for the docs matching the extra-col equality
        filters — aggregated from the base group-stats table plus every
        committed segment's (each bounded by #scopes rows)."""
        paths = [os.path.join(self.vroot, "group_stats")]
        paths += [
            os.path.join(self._segments_root(), str(e), "group_stats")
            for e, _n, _s in self._committed_segments()
        ]
        schema = (
            "".join(f"{n} {t}, " for n, t in self.extra_cols)
            + "n_docs long, sum_dl long"
        )
        frames = [
            self.spark.read.schema(schema).parquet(p)
            for p in paths
            if os.path.isdir(p)
        ]
        if not frames:
            return 0.0, 1.0
        df = frames[0]
        for f in frames[1:]:
            df = df.unionByName(f)
        for col, val in filters.items():
            df = df.filter(F.col(col) == val)
        row = df.agg(
            F.coalesce(F.sum("n_docs"), F.lit(0)).alias("n"),
            F.coalesce(F.sum("sum_dl"), F.lit(0)).alias("sdl"),
        ).collect()[0]
        n = float(row["n"])
        return n, (row["sdl"] / n) if n else 1.0

    # ------------------------------------------------------------------

    @staticmethod
    def _postings(
        docs: DataFrame,
        id_col: str,
        text_col: str,
        n_buckets: int,
        extras: list[tuple[str, str]] | None = None,
    ) -> DataFrame:
        ex = [n for n, _t in (extras or [])]
        toks = docs.select(
            F.col(id_col).alias("doc"), *ex, ws_tokens(text_col).alias("_toks")
        ).withColumn("dl", F.size("_toks"))
        return (
            toks.select("doc", "dl", *ex, F.explode("_toks").alias("term"))
            .groupBy("doc", "dl", *ex, "term")
            .agg(F.count("*").alias("tf"))
            .withColumn("bucket", _bucket_col(F.col("term"), n_buckets))
        )

    @staticmethod
    def build(
        spark: SparkSession,
        docs: DataFrame,
        path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        n_buckets: int = 64,
        extra_cols: list[str] | None = None,
    ) -> "InvertedTextIndex":
        """One-time index build: tokenize -> (doc, term, tf, dl) postings
        -> ONE shuffle on bucket -> term-sorted bucket-partitioned
        parquet. The shuffle that bm25_scores pays per QUERY is paid
        once per BUILD here. `extra_cols` (e.g. scope columns) ride
        every posting row and get a per-group stats table, enabling
        exact scoped BM25 (see search_bm25 filters)."""
        extras = [
            (c, docs.schema[c].dataType.simpleString()) for c in (extra_cols or [])
        ]
        postings = InvertedTextIndex._postings(
            docs, id_col, text_col, n_buckets, extras
        )
        id_type = postings.schema["doc"].dataType.simpleString()
        # write the COMPLETE new index under a fresh version dir (no
        # stale segments by construction; concurrent queries keep
        # reading the previous version until the atomic swap below)
        vdir = begin_version(path)
        # repartition by bucket so each task owns whole buckets (one
        # file per bucket, not one per task x bucket), then sort so the
        # writer emits term-ordered row groups inside each file.
        (
            postings.repartition(min(n_buckets, 32), "bucket")
            .sortWithinPartitions("bucket", "term", "doc")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(os.path.join(vdir, "postings"))
        )
        n, sdl = InvertedTextIndex._delta_stats(docs, text_col)
        InvertedTextIndex._write_stats(
            spark, vdir, n, sdl, n_buckets, id_col, id_type, extras
        )
        if extras:
            InvertedTextIndex._group_stats_frame(
                docs, text_col, extras
            ).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(vdir, "group_stats")
            )
        final = commit_version(path, vdir)  # COMMIT POINT
        return InvertedTextIndex(
            spark, path, n, sdl, n_buckets, id_col, id_type, extras,
            vroot=final,
        )

    @staticmethod
    def _group_stats_frame(docs: DataFrame, text_col: str, extras) -> DataFrame:
        """Per-(extra cols) corpus stats: (group..., n_docs, sum_dl) —
        bounded by the number of distinct scopes, never data-sized."""
        return docs.groupBy(*[n for n, _t in extras]).agg(
            F.count("*").alias("n_docs"),
            F.coalesce(F.sum(F.size(ws_tokens(text_col))), F.lit(0)).alias("sum_dl"),
        )

    @staticmethod
    def _delta_stats(docs: DataFrame, text_col: str):
        """(n_docs, total token count) over ALL docs — including
        zero-token docs, which produce no postings rows but DO count
        toward N and avgdl in bm25_scores' corpus stats."""
        row = docs.agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum(F.size(ws_tokens(text_col))), F.lit(0)).alias("sdl"),
        ).collect()[0]
        return int(row["n"]), int(row["sdl"])

    @staticmethod
    def _write_stats(spark, path, n, sdl, n_buckets, id_col, id_type, extras=None) -> None:
        import json

        from alma_memory_spark.session import tiny_df

        tiny_df(
            spark,
            [(n, sdl, n_buckets, id_col, id_type, json.dumps(extras or []))],
            "n_docs long, sum_dl long, n_buckets int, id_col string, "
            "id_type string, extra_cols string",
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "stats"))

    @staticmethod
    def load(spark: SparkSession, path: str) -> "InvertedTextIndex":
        import json

        vroot = load_vroot(path)
        r = spark.read.parquet(os.path.join(vroot, "stats")).collect()[0]
        extras = [tuple(e) for e in json.loads(r["extra_cols"])]
        return InvertedTextIndex(
            spark, path, r["n_docs"], r["sum_dl"], r["n_buckets"], r["id_col"],
            r["id_type"], extras, vroot=vroot,
        )

    # ------------------------------------------------------------------

    def add(self, docs: DataFrame, text_col: str = "text") -> "InvertedTextIndex":
        """Incremental ingest: append the new documents' postings into
        their bucket partitions and merge corpus stats exactly
        (n + Δn, sum_dl + Δsum_dl — integers, so the merge is
        associative and lossless). No per-term read-modify-write: df is
        derived from postings at query time, so appended postings are
        immediately visible and exactly correct. Assumes doc ids are
        new (append-only corpus); replacing a doc = rebuild its rows,
        same as the store's partition-scoped upsert contract."""
        require_live_version(self.path, self.vroot)
        postings = self._postings(
            docs, self.id_col, text_col, self.n_buckets, self.extra_cols
        )
        dn, dsdl = self._delta_stats(docs, text_col)
        (
            postings.repartition(min(self.n_buckets, 32), "bucket")
            .sortWithinPartitions("bucket", "term", "doc")
            .write.mode("append")
            .partitionBy("bucket")
            .parquet(os.path.join(self.vroot, "postings"))
        )
        if self.extra_cols:
            # merge the per-group deltas into the base group-stats
            # table (bounded by #scopes rows — materialize before
            # rewriting the files the plan reads from)
            gpath = os.path.join(self.vroot, "group_stats")
            schema = (
                "".join(f"{n} {t}, " for n, t in self.extra_cols)
                + "n_docs long, sum_dl long"
            )
            merged = self._group_stats_frame(docs, text_col, self.extra_cols)
            if os.path.isdir(gpath):
                merged = (
                    self.spark.read.schema(schema).parquet(gpath)
                    .unionByName(merged)
                    .groupBy(*[n for n, _t in self.extra_cols])
                    .agg(
                        F.sum("n_docs").alias("n_docs"),
                        F.sum("sum_dl").alias("sum_dl"),
                    )
                )
            rows = merged.collect()
            from alma_memory_spark.session import tiny_df

            tiny_df(self.spark, rows, schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(gpath)
        self.n_docs += dn
        self.sum_dl += dsdl
        # the persisted stats row describes the BASE postings dir only;
        # committed epoch segments carry their own deltas in _COMMIT
        self._base_n += dn
        self._base_sdl += dsdl
        self._write_stats(
            self.spark, self.vroot, self._base_n, self._base_sdl, self.n_buckets,
            self.id_col, self.id_type, self.extra_cols,
        )
        return self

    # ------------------------------------------------------------------

    def _bm25_stats_for(self, filters: dict | None):
        """(n, avgdl) for a query's scope — validation + group-stats vs
        global stats, shared by the single and batch paths so the
        statistics source can never diverge. Returns None when the
        scope is empty (callers return their empty frame)."""
        if filters:
            indexed = {n for n, _t in self.extra_cols}
            if not set(filters) <= indexed:
                raise ValueError(
                    f"filter columns {sorted(set(filters) - indexed)} were "
                    f"not indexed (extra_cols={sorted(indexed)})"
                )
            n, avgdl = self._group_stats(filters)
            if n == 0:
                return None
            return n, avgdl
        n = float(self.n_docs)
        return n, (self.sum_dl / self.n_docs) if self.n_docs else 1.0

    def _bm25_pruned_hits(self, terms: list[str], filters: dict | None):
        """Postings pruned to the terms' buckets (PartitionFilters), the
        terms themselves (PushedFilters), and the scope predicates —
        the shared scan of the single and batch paths."""
        buckets = sorted({_bucket_py(t, self.n_buckets) for t in terms})
        hits = (
            self._postings_df()
            .filter(F.col("bucket").isin(buckets))
            .filter(F.col("term").isin(terms))
        )
        for col, val in (filters or {}).items():
            hits = hits.filter(F.col(col) == val)
        return hits

    @staticmethod
    def _bm25_idf(hits: DataFrame, n: float) -> DataFrame:
        df_ = hits.groupBy("term").agg(F.count("*").alias("df"))
        return df_.select(
            "term",
            F.log(
                (F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
            ).alias("idf"),
        )

    @staticmethod
    def _bm25_contrib(k1: float, b: float, avgdl: float):
        return F.col("idf") * (
            F.col("tf") * (k1 + 1.0)
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl)))
        )

    def search_bm25(
        self,
        query: str,
        k: int = 20,
        k1: float = BM25_K1,
        b: float = BM25_B,
        filters: dict | None = None,
    ) -> DataFrame:
        """Okapi BM25 top-k over the PERSISTED postings — identical
        formula and identical scores to operators/text_search.py:
        bm25_scores, but the scan reads |query-term buckets| partition
        directories instead of the corpus:

            bucket IN (...)  -> PartitionFilters  (directory pruning)
            term IN (...)    -> PushedFilters     (row-group pruning via
                                                   the term-sorted files)

        df per term = count over the pruned postings (each term's rows
        all live in its bucket); N and avgdl come from the 1-row stats
        table and ride the plan as literals. Ends in
        TakeOrderedAndProject (per-partition top-k, k-row reduce).

        `filters` ({extra_col: value}) makes the search EXACTLY scoped:
        the equality predicates join the pruned scan (PushedFilters on
        the stored extra columns), per-term df then counts only scoped
        postings, and N/avgdl come from the per-group stats table — the
        scores equal a scan-BM25 over the scoped corpus, with no
        over-fetch and no fallback."""
        qterms = sorted(set(query.lower().split()))
        empty = self.spark.createDataFrame(
            [], f"{self.id_col} {self.id_type}, bm25_score double"
        )
        if not qterms or self.n_docs == 0:
            return empty
        stats = self._bm25_stats_for(filters)
        if stats is None:
            return empty
        n, avgdl = stats
        hits = self._bm25_pruned_hits(qterms, filters)
        idf = self._bm25_idf(hits, n)
        contrib = self._bm25_contrib(k1, b, avgdl)
        return (
            hits.join(F.broadcast(idf), "term")
            .withColumn("_c", contrib)
            .groupBy("doc")
            .agg(F.sum("_c").alias("bm25_score"))
            .select(F.col("doc").alias(self.id_col), "bm25_score")
            .orderBy(F.desc("bm25_score"), F.asc(self.id_col))
            .limit(k)
        )

    def search_bm25_batch(
        self,
        queries,
        k: int = 20,
        k1: float = BM25_K1,
        b: float = BM25_B,
        filters: dict | None = None,
    ) -> DataFrame:
        """Multi-query BM25 in ONE job — the keyword twin of
        IVFIndex.search_batch. `queries` is a list of (qid, text);
        returns (qid, <id_col>, bm25_score), per-query rows identical
        to search_bm25 (same Okapi math, stats source, and tiebreaks).

        Plan shape: ONE postings scan pruned to the UNION of every
        query's term buckets (per-term df is query-independent, so the
        df/idf aggregation runs once for the whole batch); a broadcast
        (qid, term) membership frame fans each posting out to exactly
        the queries containing its term; one (qid, doc) aggregation and
        one qid window produce every query's top-k. N queries cost one
        scan + one shuffle instead of N of each."""
        from pyspark.sql.window import Window as W

        from alma_memory_spark.session import tiny_df

        empty = self.spark.createDataFrame(
            [], f"qid string, {self.id_col} {self.id_type}, bm25_score double"
        )
        queries = list(queries)  # a generator would defeat the dup check
        pairs = []  # (qid, term)
        for q, text in queries:
            for t in sorted(set(text.lower().split())):
                pairs.append((str(q), t))
        qids = [str(q) for q, _t in queries]
        if len(set(qids)) != len(qids):
            raise ValueError("duplicate qid in batch (after str() folding)")
        if not pairs or self.n_docs == 0:
            return empty
        stats = self._bm25_stats_for(filters)
        if stats is None:
            return empty
        n, avgdl = stats
        all_terms = sorted({t for _q, t in pairs})
        # df/idf per term over the shared pruned scan: identical per
        # term to the single-query path (the per-term count is
        # unaffected by which OTHER terms share the scan)
        hits = self._bm25_pruned_hits(all_terms, filters)
        idf = self._bm25_idf(hits, n)
        qmembers = tiny_df(self.spark, pairs, "qid string, term string")
        contrib = self._bm25_contrib(k1, b, avgdl)
        w = W.partitionBy("qid").orderBy(F.desc("bm25_score"), F.asc("doc"))
        return (
            hits.join(F.broadcast(idf), "term")
            .join(F.broadcast(qmembers), "term")
            .withColumn("_c", contrib)
            .groupBy("qid", "doc")
            .agg(F.sum("_c").alias("bm25_score"))
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= k)
            .select(
                "qid", F.col("doc").alias(self.id_col), "bm25_score"
            )
            .orderBy("qid", F.desc("bm25_score"), F.asc(self.id_col))
        )
