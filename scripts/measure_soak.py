"""Long-run streaming-maintainer soak (SCALE.md r10, VERDICT r9 #7).

Claim under test: with in-stream compaction (`compact_every=N`) the
four-index maintainer is FLAT over hundreds of micro-batches — file
listings stay bounded (compact folds per-add debris) and per-batch add
wall does not creep. The r9 evidence was a short end-to-end test plus
a 100-add measurement; this drives the same add()/compact() cycle the
foreachBatch sink runs (streaming/ingest.py:_sink — adds on all four
indexes, handle re-bind across compaction version swaps) for
SOAK_BATCHES micro-batches and records, per 100-batch window:

  - mean add wall (all four indexes),
  - parquet file count under each index root (the listing the NEXT
    add must pay for),
  - cumulative compactions.

Run:  python scripts/measure_soak.py            # 300 batches
      SOAK_BATCHES=1000 python scripts/measure_soak.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from alma_memory_spark.operators.ann_index import IVFIndex  # noqa: E402
from alma_memory_spark.operators.dedup_index import NearDupIndex  # noqa: E402
from alma_memory_spark.operators.paragraphs import (  # noqa: E402
    ParagraphDedupIndex,
)
from alma_memory_spark.operators.semdedup import SemDedupIndex  # noqa: E402
from alma_memory_spark.operators.substring import (  # noqa: E402
    TokenWindowDedupIndex,
)
from alma_memory_spark.session import get_spark  # noqa: E402

BATCHES = int(os.environ.get("SOAK_BATCHES", "300"))
BATCH_DOCS = int(os.environ.get("SOAK_BATCH_DOCS", "8"))
COMPACT_EVERY = int(os.environ.get("SOAK_COMPACT_EVERY", "25"))
WINDOW = 100
DIM = 16


def synth_batch(spark, start_id: int, n: int):
    """Deterministic doc batch: text with a corpus-wide boilerplate
    paragraph (real dedup structure for the near-dup/paragraph
    indexes) and a hash-derived embedding (IVF/semantic)."""
    base = spark.range(start_id, start_id + n).select(
        F.col("id").alias("doc_id")
    )
    words = F.concat_ws(
        " ",
        *[
            F.concat(
                F.lit(f"tok{w}_"),
                F.pmod(F.col("doc_id") * (w * 131 + 7), F.lit(997)).cast(
                    "string"
                ),
            )
            for w in range(12)
        ],
    )
    text = F.concat(
        words,
        F.lit("\n\nshared boilerplate paragraph across the soak corpus\n\n"),
        words,
    )
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda i: (
            F.pmod(F.col("doc_id") * (i * 37 + 11) + i, F.lit(101)).cast(
                "double"
            )
            / 101.0
        ).cast("float"),
    )
    return base.select(
        "doc_id", text.alias("text"), emb.alias("embedding")
    )


def count_files(root: str) -> int:
    """Parquet files under the LIVE version only — the listing the
    next add/search pays for (the version-swap protocol retains one
    superseded version for in-flight readers; counting it would double
    the metric without touching any read path)."""
    from alma_memory_spark.operators._index_version import resolve_vroot

    live = resolve_vroot(root) or root
    n = 0
    for _dir, _sub, files in os.walk(live):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def main() -> None:
    spark = get_spark()
    work = tempfile.mkdtemp(prefix="alma_soak_")
    roots = {
        k: os.path.join(work, k) for k in ("ivf", "nd", "sd", "pd", "tw")
    }
    seed = synth_batch(spark, 0, 200).localCheckpoint(eager=True)
    refs = {
        "ivf": IVFIndex.build(
            spark, seed, roots["ivf"], id_col="doc_id",
            vec_col="embedding", cent_every=50,
        ),
        "nd": NearDupIndex.build(
            spark, seed.select("doc_id", "text"), roots["nd"],
            id_col="doc_id", text_col="text", n_buckets=8,
        ),
        "sd": SemDedupIndex.build(
            spark, seed.select("doc_id", "embedding"), roots["sd"],
            id_col="doc_id", vec_col="embedding", threshold=0.4,
            cent_every=50,
        ),
        "pd": ParagraphDedupIndex.build(
            spark, seed.select("doc_id", "text"), roots["pd"],
            id_col="doc_id", text_col="text", n_buckets=8,
        ),
        # r11 (VERDICT r10 #7): the fifth compactable index — the
        # token-window (substring) dedup owners, wired into
        # stream_documents_into_indexes via window_index= but unsoaked
        # until now. w=8 so the 12-word synthetic docs actually carry
        # windows.
        "tw": TokenWindowDedupIndex.build(
            spark, seed.select("doc_id", "text"), roots["tw"],
            id_col="doc_id", text_col="text", w=8, n_buckets=8,
        ),
    }
    next_id = 1_000_000
    n_compactions = 0
    win_wall: list[float] = []
    report = []
    for b in range(1, BATCHES + 1):
        batch = synth_batch(spark, next_id, BATCH_DOCS).localCheckpoint(
            eager=True
        )
        next_id += BATCH_DOCS
        t0 = time.perf_counter()
        refs["ivf"].add_epoch(
            batch, epoch=b, id_col="doc_id", vec_col="embedding",
            lineage="soak",
        )
        refs["nd"].add(batch.select("doc_id", "text"), text_col="text")
        refs["sd"].add(batch.select("doc_id", "embedding"))
        refs["pd"].add(batch.select("doc_id", "text"), text_col="text")
        refs["tw"].add(batch.select("doc_id", "text"), text_col="text")
        if b % COMPACT_EVERY == 0:
            # the sink's in-stream fold + handle re-bind
            for k in ("nd", "sd", "pd", "tw"):
                refs[k] = refs[k].compact()
            refs["ivf"] = refs["ivf"].compact_to(refs["ivf"].path)
            n_compactions += 1
        win_wall.append(time.perf_counter() - t0)
        if b % WINDOW == 0 or b == BATCHES:
            row = {
                "batch": b,
                "mean_add_s": round(sum(win_wall) / len(win_wall), 3),
                "max_add_s": round(max(win_wall), 3),
                "files": {k: count_files(r) for k, r in roots.items()},
                "compactions": n_compactions,
            }
            report.append(row)
            print(json.dumps(row), flush=True)
            win_wall = []
        spark.catalog.clearCache()
    print(json.dumps({"soak": report}, indent=2))
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
