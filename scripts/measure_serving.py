"""Measure warm facade retrieve latency (VERDICT r10 #1).

Reproduces the r10 harness: a 30-doc domain_knowledge store, warm-up,
then N retrieves with DISTINCT queries (so the slice cache always
misses and the full plan+execute path runs), reporting median/best.

Usage: python scripts/measure_serving.py [n_queries]
"""

from __future__ import annotations

import os
import statistics
import sys
import tempfile
import time
from datetime import datetime, timezone

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from alma_memory_spark.session import get_spark


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    spark = get_spark("measure_serving", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")

    from alma_memory_spark.engine import AlmaSpark

    anchor = datetime(2024, 2, 15, tzinfo=timezone.utc)
    rows = spark.range(30).select(
        F.col("id").cast("string").alias("id"),
        F.lit("helena").alias("agent"),
        F.lit("p").alias("project_id"),
        F.lit("d").alias("domain"),
        F.concat(F.lit("fact "), F.col("id").cast("string")).alias("fact"),
        F.lit("user_stated").alias("source"),
        ((F.col("id") % 100) / F.lit(100.0)).alias("confidence"),
        F.timestamp_seconds(
            F.lit(anchor.timestamp()) - (F.col("id") % 60) * 86400.0
        ).alias("last_verified"),
        F.lit(None).cast("string").alias("verification_status"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: ((F.col("id") * 31 + i) % 17).cast("float") / 17.0,
        ).alias("embedding"),
        F.lit(None).cast("map<string,string>").alias("metadata"),
    )

    root = tempfile.mkdtemp(prefix="alma_measure_serving_")
    eng = AlmaSpark(spark, root, clock=lambda: anchor)
    eng.store.append("domain_knowledge", rows)

    # warm-up: plan caches, JVM JIT, parquet footer caches
    for i in range(3):
        eng.retrieve(f"warmup question {i}", agent="helena", project_id="p")

    times = []
    for i in range(n):
        t0 = time.perf_counter()
        sl = eng.retrieve(
            f"distinct serving question number {i}", agent="helena", project_id="p"
        )
        times.append(time.perf_counter() - t0)
        assert sl.domain_knowledge, "expected results"
    times.sort()
    print(
        f"warm retrieve over {n} distinct queries: "
        f"median {statistics.median(times):.3f}s best {times[0]:.3f}s "
        f"p90 {times[int(0.9 * n)]:.3f}s mean {statistics.mean(times):.3f}s"
    )

    # ANN-index serving (r12, VERDICT r11 #1): probe on the index path,
    # candidates bound as a VALUES table into the compiled statement
    rep = eng.index_vectors("domain_knowledge", cent_every=7)
    for i in range(3):
        eng.retrieve(
            f"ann warmup {i}", agent="helena", project_id="p",
            use_ann=True, nprobe=2,
        )
    atimes = []
    for i in range(n):
        t0 = time.perf_counter()
        sl = eng.retrieve(
            f"distinct ann question number {i}", agent="helena",
            project_id="p", use_ann=True, nprobe=2,
        )
        atimes.append(time.perf_counter() - t0)
        assert sl.domain_knowledge, "expected ann results"
    atimes.sort()
    print(
        f"warm ANN retrieve (nprobe=2, {rep['n_cells']} cells) over {n} "
        f"distinct queries: median {statistics.median(atimes):.3f}s "
        f"best {atimes[0]:.3f}s p90 {atimes[int(0.9 * n)]:.3f}s "
        f"sql_hits {eng._srv_hits} fallbacks {eng._srv_fallbacks}"
    )

    # batch ANN (r12): one compiled statement + one search_batch probe
    # view for a whole task batch
    bsz = 32
    eng.retrieve_batch(
        [f"batch warm {i}" for i in range(bsz)], agent="helena",
        project_id="p", use_ann=True, nprobe=2,
    )
    bt = []
    for w in range(3):
        tasks = [f"batch ann q {w} {i}" for i in range(bsz)]
        t0 = time.perf_counter()
        out = eng.retrieve_batch(
            tasks, agent="helena", project_id="p", use_ann=True, nprobe=2
        )
        bt.append(time.perf_counter() - t0)
        assert len(out) == bsz
    print(
        f"warm batch ANN retrieve ({bsz} tasks): best "
        f"{min(bt):.3f}s total = {min(bt) / bsz * 1000:.1f} ms/task; "
        f"fallbacks {eng._srv_fallbacks}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
