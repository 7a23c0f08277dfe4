"""Chain-level scale proof of the FULL prep pipeline (r12, VERDICT r11 #4).

Every operator has a per-op scale measurement (scripts/measure_*.py),
but the COMPOSED chain — normalize -> exact dedup -> paragraph dedup ->
substring dedup -> MinHash near-dup -> SemDeDup -> decontam ->
quality/LM filter -> stratified sample -> BPE pack -> shards — had
never run end-to-end at a measured scale step. This script runs it at
1x and Nx (default 8x) replications of sf0.1 documents, materializing
each stage to parquet (the checkpointed-pipeline shape) and recording
per-stage wall, output rows, and SHUFFLE read/write bytes (the stage's
tagged jobs, read by alma_memory_spark.metrics.totals), so
cross-operator waste — a redundant repartition between stages, a lost
partitioning contract — shows up as a super-linear shuffle column
instead of hiding inside per-op gates.

Run:  python scripts/measure_chain.py [scales]     # e.g. "1,8" (default)
Env:  SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
      SPARK_GRAFT_CPUS   (default 32)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from alma_memory_spark.metrics import scope, totals  # noqa: E402
from alma_memory_spark.session import ensure_package_shipped, get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def replicate_docs(dst: str, copies: int) -> None:
    """`copies` id-shifted copies of sf documents; text varied per copy
    (exact clones would make every dedup stage degenerate) but with a
    SHARED boilerplate sentence so paragraph/substring dedup have real
    work, and ~3% exact clones so exact dedup has real work."""
    shift = duckdb.sql(
        f"select max(doc_id) + 1 from read_parquet('{SF}/documents.parquet')"
    ).fetchone()[0]
    duckdb.sql(
        f"""
        COPY (
          SELECT doc_id + c * {shift} AS doc_id,
                 CASE WHEN (doc_id + c) % 33 = 0
                      THEN text  -- exact clone family (cross-copy)
                      ELSE 'shared boilerplate header sentence for the chain. '
                           || text || ' copyvar ' || c END AS text,
                 lang, source, n_chars
          FROM read_parquet('{SF}/documents.parquet'),
               (SELECT unnest(range({copies})) AS c)
        ) TO '{dst}' (FORMAT PARQUET)
        """
    )


def run_chain(spark: SparkSession, src: str, work: str) -> list[dict]:
    from alma_memory_spark import pipeline as P
    from alma_memory_spark.embedding import DEFAULT_DIM, hash_embed
    from alma_memory_spark.operators.dedup_index import NearDupIndex

    os.makedirs(work, exist_ok=True)
    results: list[dict] = []
    cur_path = src

    def record(name: str, tag: str, wall: float, n: int) -> None:
        tot = totals(spark, tag)
        results.append(
            {
                "stage": name,
                "wall_s": round(wall, 2),
                "rows_out": n,
                "shuffle_read_mb": round(tot["shuffle_read_bytes"] / 1e6, 1),
                "shuffle_write_mb": round(tot["shuffle_write_bytes"] / 1e6, 1),
            }
        )

    def stage(name, fn, out_name, count_col="doc_id"):
        nonlocal cur_path
        tag = f"chain:{os.path.basename(work)}:{name}"
        t0 = time.perf_counter()
        with scope(spark, tag):
            df_in = spark.read.parquet(cur_path)
            out = fn(df_in)
            out_path = os.path.join(work, out_name)
            out.write.mode("overwrite").parquet(out_path)
            n = spark.read.parquet(out_path).count()
        wall = time.perf_counter() - t0
        record(name, tag, wall, n)
        print(f"  .. {name}: {wall:.2f}s rows={n}", flush=True)
        cur_path = out_path
        spark.catalog.clearCache()

    # 1) normalize: collapse whitespace, drop empties (narrow map)
    stage(
        "normalize",
        lambda d: d.select(
            "doc_id",
            F.trim(F.regexp_replace("text", r"\s+", " ")).alias("text"),
            "lang", "source",
        ).filter(F.col("text") != ""),
        "s01_norm",
    )
    # 2) exact dedup (one hash shuffle)
    stage("exact_dedup", lambda d: P.drop_exact_duplicates(d), "s02_exact")
    # 3) paragraph-level dedup -> respliced text
    stage(
        "para_dedup",
        lambda d: d.join(
            P.dedup_paragraphs(d).select("doc_id", "text_dedup"), "doc_id"
        ).select("doc_id", F.col("text_dedup").alias("text"), "lang", "source"),
        "s03_para",
    )
    # 4) substring (50-token-window) dedup -> respliced text.
    # fp_hash="xxhash64" (r13, VERDICT r12 #6): the chain runs the
    # PRODUCTION fingerprint — 8-byte bigint fps cut hash compute and
    # every fp-keyed shuffle/join width, measured 24% off the
    # winners+losers pipeline at the 8x corpus with byte-identical
    # output; the oracle gates keep md5 (DuckDB replays it exactly).
    stage(
        "substring_dedup",
        lambda d: d.join(
            P.dedup_token_windows(
                d, w=50, fp_hash="xxhash64"
            ).select("doc_id", "text_dedup"),
            "doc_id",
        )
        .select("doc_id", F.col("text_dedup").alias("text"), "lang", "source")
        .filter(F.col("text") != ""),
        "s04_sub",
    )
    # 5) MinHash-LSH near-dup: persisted index build + drop_list
    # anti-join. band_cap=500 is the PRODUCTION skew guard: this
    # corpus's token sets draw from a ~40-word vocab, so band keys
    # collide en masse — uncapped, the verify join's candidate pairs
    # grow ~quadratically inside collision groups (measured: 8x data
    # -> 24x shuffle bytes, 116 s stage wall; see SCALE.md §r12).
    ndroot = os.path.join(work, "ndidx")

    def neardup(d):
        NearDupIndex.build(
            spark, d, ndroot, id_col="doc_id", text_col="text",
            n_buckets=64, band_cap=500,
        )
        drop = NearDupIndex.load(spark, ndroot).drop_list()
        return d.join(drop, "doc_id", "left_anti")

    stage("minhash_neardup", neardup, "s05_nd")

    # 6) SemDeDup over hash embeddings of the surviving docs
    dim = DEFAULT_DIM

    @F.pandas_udf(f"array<float>")
    def embed(texts):
        return texts.map(lambda t: hash_embed(t or "", dim))

    def semdedup(d):
        # materialize the embeddings ONCE (r13): the stage's plan reads
        # emb in multiple passes (centroid seeding, assignment, the CC
        # join-back), and hash_embed is a per-row Python UDF — without
        # the checkpoint it re-runs per pass and dominates the stage
        # (measured 215 s vs ~30 s at the 32x leg). Production shape:
        # embeddings are a materialized column, computed once.
        emb = d.select(
            "doc_id", embed("text").alias("embedding")
        ).localCheckpoint(eager=True)
        # 0.97: bag-of-words hash embeddings over the synthetic corpus's
        # ~40-word vocab are globally correlated; production threshold
        # (0.92 on real sentence embeddings) would mass-drop here.
        # cent_every: occupancy-balanced (r13, VERDICT r12 #1) — the
        # fixed 50 made ASSIGNMENT (n x n_cells) dominate at the 32x
        # leg (57% of chain wall); sqrt(n) balances assign vs pairs
        # (A/B at 160k vectors: 16.9 s vs 26.4 s AND more dups found).
        # semantic_dedup_families (r13): the drop-duplicates stage
        # never needed the O(occ^2) pair rows — per-cell local CC
        # emits one star edge per matched member (row-identical
        # families, contract-tested; 16.5 -> 8.7 s at 160k vectors on
        # this pair-dense corpus). n from d.count(): d is the prior
        # stage's materialized parquet, so the count is metadata-cheap,
        # while cent_every="auto" would re-run the embed UDF.
        from alma_memory_spark.operators.semdedup import auto_cent_every

        groups = P.semantic_dedup_families(
            emb, id_col="doc_id", threshold=0.97,
            cent_every=auto_cent_every(d.count()),
        )
        return d.join(
            groups.filter(~F.col("is_canonical")).select("doc_id"),
            "doc_id",
            "left_anti",
        )

    stage("semdedup", semdedup, "s06_sem")

    # 7) benchmark decontamination (bench = held-out slice of the 1x corpus)
    bench = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("doc_id") % 97 == 0)
        .select("doc_id", "text")
    )
    stage(
        "decontam",
        lambda d: P.decontaminate(d, bench, n=13),
        "s07_decontam",
    )
    # 7b) FUZZY decontamination (r12): MinHash-LSH near-dup of any
    # bench doc, exact-Jaccard verified — catches paraphrased items
    # the exact n-gram pass misses; bench side broadcasts, train side
    # stays a narrow map until the final per-doc groupBy
    stage(
        "decontam_fuzzy",
        lambda d: P.decontaminate_fuzzy(d, bench, verify_t=0.9),
        "s07b_fuzzy",
    )
    # 8a/8b) quality + repetition signals, then the filter. The Gopher
    # stopword rule is unusable on THIS corpus (synthetic ~40-word
    # vocab, no natural stopwords — it zeroes the corpus), so the cuts
    # are quality_score + repetition. PERF — a real find from this
    # chain's first draft: filtering directly on the convenience
    # dup_ngram_fraction("text") expression measured 19.4 s at 8x for
    # 3,015 rows. Two compounding effects: higher-order functions are
    # CodegenFallback and re-evaluate lambda-captured subexpressions
    # PER ELEMENT (the ngrams_of_tokens PERF contract), and — the part
    # binding intermediate aliases does NOT fix — PushDownPredicate
    # substitutes alias definitions back into the predicate when
    # pushing it through the projections, re-inlining the tokenizer
    # into the lambda. The production shape: compute signals ONCE as
    # stored columns (staged projections, each alias referenced >1x so
    # CollapseProject keeps them — the text_profile gate pattern),
    # materialize, filter on plain columns where nothing can inline.
    from alma_memory_spark.functions.text import ngrams_of_tokens, ws_tokens

    def signals(d):
        g = d.select(
            "doc_id", "text", "lang", "source", ws_tokens("text").alias("_ts")
        ).select(
            "doc_id", "text", "lang", "source",
            ngrams_of_tokens(F.col("_ts"), 2).alias("_g"),
        )
        counted = g.select(
            "doc_id", "text", "lang", "source",
            F.size("_g").cast("long").alias("_t"),
            F.size(F.array_distinct("_g")).cast("long").alias("_d"),
        )
        return counted.select(
            "doc_id", "text", "lang", "source",
            P.quality_score("text").alias("q_score"),
            F.when(
                F.col("_t") > 0,
                F.lit(1.0) - F.col("_d").cast("double") / F.col("_t").cast("double"),
            ).otherwise(F.lit(0.0)).alias("dup2_frac"),
        )

    stage("quality_signals", signals, "s08a_signals")
    stage(
        "quality_filter",
        lambda d: d.filter(
            (F.col("q_score") > 0.0) & (F.col("dup2_frac") < 0.9)
        ).drop("q_score", "dup2_frac"),
        "s08_quality",
    )
    # 9) LM quality: self-trained unigram scores, drop the tail tercile
    def lmq(d):
        scores = P.lm_quality_scores(d).localCheckpoint()
        return d.join(P.lm_tail_ids(scores), "doc_id", "left_anti")

    stage("lm_filter", lmq, "s09_lm")
    # 10) deterministic stratified sampling by language
    stage(
        "sample",
        lambda d: P.stratified_sample(
            d, "lang", {"en": 0.9}, key_col="doc_id", default_rate=0.7
        ),
        "s10_sample",
    )
    # 11) BPE count + no-straddle packing
    stage(
        "pack",
        lambda d: P.pack_documents_nostraddle(
            P.with_bpe_token_count(d),
            budget=2048,
            token_col="n_bpe",
            key_col="doc_id",
            n_shards=32,
        ),
        "s11_pack",
    )
    # 12) shard emission + manifest + verify
    shards = os.path.join(work, "shards")
    tag = f"chain:{os.path.basename(work)}:shards"
    t0 = time.perf_counter()
    with scope(spark, tag):
        packed = spark.read.parquet(cur_path)
        P.write_training_shards(packed, shards, token_col="n_bpe")
        P.verify_shards(spark, shards, token_col="n_bpe")
    wall = time.perf_counter() - t0
    record("shards+verify", tag, wall, spark.read.parquet(shards).count())
    return results


def main() -> None:
    scales = [
        int(s) for s in (sys.argv[1] if len(sys.argv) > 1 else "1,8").split(",")
    ]
    spark = get_spark("measure_chain", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_package_shipped(spark)

    root = tempfile.mkdtemp(prefix="alma_chain_")
    all_results: dict[int, list[dict]] = {}
    try:
        for c in scales:
            src = os.path.join(root, f"docs_{c}x.parquet")
            replicate_docs(src, c)
            t0 = time.perf_counter()
            all_results[c] = run_chain(spark, src, os.path.join(root, f"work_{c}x"))
            total = time.perf_counter() - t0
            print(f"\n=== scale {c}x (chain total {total:.1f}s) ===")
            for r in all_results[c]:
                print(
                    f"  {r['stage']:<18} {r['wall_s']:>7.2f}s  rows {r['rows_out']:>8}"
                    f"  shuf R/W {r['shuffle_read_mb']:>8.1f}/{r['shuffle_write_mb']:>8.1f} MB"
                )
        if len(scales) >= 2:
            a, b = scales[0], scales[-1]
            print(f"\n=== {b}x / {a}x ratios (scale step {b / a:.0f}x) ===")
            for ra, rb in zip(all_results[a], all_results[b]):
                wr = rb["wall_s"] / max(ra["wall_s"], 1e-9)
                sr = rb["shuffle_write_mb"] / max(ra["shuffle_write_mb"], 1e-3)
                print(
                    f"  {ra['stage']:<18} wall x{wr:>5.2f}  shuffle-write x{sr:>6.2f}"
                )
        print("\nJSON: " + json.dumps(all_results, separators=(",", ":")))
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
