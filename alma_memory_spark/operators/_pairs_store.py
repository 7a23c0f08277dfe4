"""Adjacency-bucketed persisted pairs layout shared by the incremental
dedup indexes (NearDupIndex, SemDedupIndex) — VERDICT r7 #1.

The replay-idempotence guard in both add paths anti-joins each batch's
recomputed pairs against the ACCUMULATED pairs table. Stored flat, that
read is O(total pairs history) per add: the candidate side is
band-bucket/cell-pruned but the guard was not, so a streaming
maintainer paid an O(history) scan + shuffle per micro-batch once pairs
accumulate. Every pair an add can emit touches a batch id by
construction, so the guard only needs BATCH-ADJACENT history. This
layout serves exactly that:

- each undirected pair (a < b, sim) is stored as TWO oriented rows,
  (src=a, dst=b) and (src=b, dst=a), partitioned by
  ``sbucket = pmod(xxhash64(src), n_buckets)`` — the adjacency-list
  orientation of an edge table;
- the guard reads ONLY the partitions the batch ids hash into
  (PartitionFilters prune at file listing) and broadcast-semi-joins the
  batch-id set: O(batch-adjacent history) join work, and the history is
  never shuffled at any scale;
- the canonical one-row-per-pair view filters ``src < dst`` — the same
  logical content as the old flat layout, so groups(), fingerprints,
  contract tests, and the SQL oracles are unchanged.

Storage doubles; the pairs table is bounded by the near-duplicate
population (tiny vs the corpus) — the standard adjacency-list trade.

Every build records ``pairs_layout`` in its stats params; an index
whose stats lack it (or name another layout) predates this layout and
its load() refuses it — the index is derived data, so the fix is a
rebuild.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

#: current on-disk pairs layout; persisted in each index's stats params
PAIRS_LAYOUT = 2

__all__ = [
    "PAIRS_LAYOUT",
    "compact_pairs",
    "pair_src_bucket",
    "read_adjacent_pairs",
    "read_pairs",
    "require_pairs_layout",
    "write_pairs",
]


def require_pairs_layout(params: dict, path: str) -> None:
    """load()'s check of an index's stats params: its pairs must be in
    the current layout."""
    if params.get("pairs_layout") != PAIRS_LAYOUT:
        raise ValueError(
            f"index at {path} has pairs layout "
            f"{params.get('pairs_layout')!r}, not {PAIRS_LAYOUT} — rebuild it"
        )


def pair_src_bucket(col, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets))


def _oriented_schema(id_type: str, sim_col: str) -> str:
    return f"src {id_type}, dst {id_type}, {sim_col} double, sbucket long"


def write_pairs(
    pairs: DataFrame,
    path: str,
    a_col: str,
    b_col: str,
    sim_col: str,
    n_buckets: int,
) -> None:
    """Append verified pairs (a < b): both orientations, partitioned by
    the src bucket."""
    fwd = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst"), F.col(sim_col)
    )
    rev = pairs.select(
        F.col(b_col).alias("src"), F.col(a_col).alias("dst"), F.col(sim_col)
    )
    (
        fwd.unionByName(rev)
        .withColumn("sbucket", pair_src_bucket(F.col("src"), n_buckets))
        .repartition(min(n_buckets, 32), "sbucket")
        .write.mode("append")
        .partitionBy("sbucket")
        .parquet(path)
    )


def read_pairs(
    spark: SparkSession,
    path: str,
    a_col: str,
    b_col: str,
    sim_col: str,
    id_type: str,
) -> DataFrame:
    """Canonical one-row-per-pair view (a < b) of the accumulated
    pairs."""
    return (
        spark.read.schema(_oriented_schema(id_type, sim_col))
        .parquet(path)
        .filter(F.col("src") < F.col("dst"))
        .select(
            F.col("src").alias(a_col), F.col("dst").alias(b_col), sim_col
        )
    )


def read_adjacent_pairs(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    a_col: str,
    b_col: str,
    sim_col: str,
    id_type: str,
    n_buckets: int,
) -> DataFrame:
    """Accumulated pairs TOUCHING any id in ``ids`` (single column,
    any name) — the replay guard's right side. May return a pair twice
    when both endpoints are in the batch; callers feed a left_anti,
    where duplicates are harmless. The scan prunes to the batch ids'
    src partitions (bucket list collect is bounded by n_buckets, the
    tbuckets precedent) and broadcast-semi-joins the ids — the history
    is never shuffled."""
    (id_col,) = ids.columns
    srcs = ids.select(F.col(id_col).alias("src")).distinct()
    buckets = [
        r["b"]
        for r in srcs.select(
            pair_src_bucket(F.col("src"), n_buckets).alias("b")
        )
        .distinct()
        .collect()
    ]
    if not buckets:
        return spark.createDataFrame(
            [], f"{a_col} {id_type}, {b_col} {id_type}, {sim_col} double"
        )
    return (
        spark.read.schema(_oriented_schema(id_type, sim_col))
        .parquet(path)
        .filter(F.col("sbucket").isin(buckets))
        .join(F.broadcast(srcs), "src", "left_semi")
        .select(
            F.least("src", "dst").alias(a_col),
            F.greatest("src", "dst").alias(b_col),
            sim_col,
        )
    )


def compact_pairs(
    spark: SparkSession,
    src: str,
    dest: str,
    a_col: str,
    b_col: str,
    sim_col: str,
    id_type: str,
    n_buckets: int,
) -> None:
    """Fold an accumulated pairs dir into a fresh one: deduplicated
    canonical content, ONE file per sbucket partition (each add()
    appends a file per touched partition, so a long-running streaming
    maintainer degrades the file listing without this). Shared by every
    index compact() — content is identical through the canonical view
    by construction."""
    folded = read_pairs(
        spark, src, a_col, b_col, sim_col, id_type
    ).dropDuplicates([a_col, b_col])
    write_pairs(folded, dest, a_col, b_col, sim_col, n_buckets)
