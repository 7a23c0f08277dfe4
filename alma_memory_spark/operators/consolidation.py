"""Consolidation: duplicate-group formation + deterministic merge.

Reference (alma/consolidation/engine.py:93-199,
consolidation/deduplication.py:37-230): pairwise cosine >= threshold
(default 0.85) within (project, agent, type) forms duplicate groups;
groups merge into one memory (LLM merge optional; the deterministic
fallback keeps the highest-confidence member) with provenance
`merged_from`; originals are deleted.

Spark shape: one groupBy(block) Arrow pass finds each block's cosine
pairs and their connected components (`learning.cluster_by_similarity`,
the deterministic replacement for the reference's order-dependent greedy
grouping) -> per-group keep-best aggregation -> anti-join delete +
append. For very large blocks, substitute the MinHash-LSH candidate
stage from the dedup family before the exact verify.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from alma_memory_spark.operators.learning import cluster_by_similarity

SIMILARITY_THRESHOLD = 0.85


def find_duplicate_groups(
    memories: DataFrame,
    threshold: float = SIMILARITY_THRESHOLD,
    key_cols: tuple[str, ...] = ("project_id", "agent"),
) -> DataFrame:
    """Attach `cluster_id`; groups with > 1 member are duplicates."""
    clustered = cluster_by_similarity(
        memories, list(key_cols), threshold=threshold
    )
    sizes = clustered.groupBy("cluster_id").agg(F.count("*").alias("_gsz"))
    return clustered.join(sizes, "cluster_id").filter(F.col("_gsz") > 1).drop("_gsz")


def merge_groups(
    dup_groups: DataFrame,
    rank_col: str = "confidence",
) -> DataFrame:
    """Deterministic merge rule: keep the highest-`rank_col` member per
    cluster (id tiebreak), aggregate counters, record provenance
    `merged_from` as the sorted losing ids."""
    w = W.partitionBy("cluster_id").orderBy(F.desc(rank_col), F.asc("id"))
    ranked = dup_groups.withColumn("_rk", F.row_number().over(w))
    winners = ranked.filter(F.col("_rk") == 1).drop("_rk")
    losers = (
        ranked.filter(F.col("_rk") > 1)
        .groupBy("cluster_id")
        .agg(
            F.array_sort(F.collect_list("id")).alias("merged_from"),
            *(
                [F.sum("occurrence_count").alias("_occ_add")]
                if "occurrence_count" in dup_groups.columns
                else []
            ),
            *(
                [F.sum("success_count").alias("_succ_add")]
                if "success_count" in dup_groups.columns
                else []
            ),
        )
    )
    merged = winners.join(losers, "cluster_id")
    if "occurrence_count" in dup_groups.columns:
        merged = merged.withColumn(
            "occurrence_count",
            (F.col("occurrence_count") + F.coalesce(F.col("_occ_add"), F.lit(0))).cast(
                "int"
            ),
        ).drop("_occ_add")
    if "success_count" in dup_groups.columns:
        merged = merged.withColumn(
            "success_count",
            (F.col("success_count") + F.coalesce(F.col("_succ_add"), F.lit(0))).cast(
                "int"
            ),
        ).drop("_succ_add")
    merged = merged.withColumn(
        "metadata",
        F.map_concat(
            F.coalesce(F.col("metadata"), F.create_map().cast("map<string,string>")),
            F.create_map(F.lit("merged_from"), F.array_join(F.col("merged_from"), ",")),
        ),
    ).drop("merged_from", "cluster_id")
    return merged


def consolidate(
    memories: DataFrame, threshold: float = SIMILARITY_THRESHOLD
) -> tuple[DataFrame, DataFrame]:
    """Returns (survivors, merged_rows): survivors = rows not in any
    duplicate group; merged_rows = one merged row per group (to be
    upserted; the group's other members are implicitly deleted because
    they are absent from survivors + merged)."""
    groups = find_duplicate_groups(memories, threshold).cache()
    group_ids = groups.select("id")
    survivors = memories.join(group_ids, "id", "left_anti")
    merged = merge_groups(groups).select(*memories.columns)
    return survivors, merged
