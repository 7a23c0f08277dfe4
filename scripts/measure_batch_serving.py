"""Engine-level A/B for batch-ANN serving (VERDICT r13 #3): SQL-text
probe splice (default, batches <= _ANN_BATCH_SQL_MAX) vs the prior
per-call search_batch temp-view path, interleaved in ONE session.

Each arm serves N distinct-batch retrieve_batch(use_ann=True) calls at
several batch sizes; reports median ms/call, ms/task, and process-group
CPU seconds (host contention inflates walls only).

Usage: python scripts/measure_batch_serving.py [calls_per_arm]
"""

from __future__ import annotations

import os
import statistics
import sys
import tempfile
import time
from datetime import datetime, timezone

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from alma_memory_spark.session import get_spark  # noqa: E402
from scripts.time_op import pgroup_cpu_seconds  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    spark = get_spark("measure_batch_serving", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")

    from alma_memory_spark import engine as E
    from alma_memory_spark.engine import AlmaSpark

    anchor = datetime(2024, 2, 15, tzinfo=timezone.utc)
    rows = spark.range(60).select(
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
    root = tempfile.mkdtemp(prefix="alma_measure_bserv_")
    eng = AlmaSpark(spark, root, clock=lambda: anchor)
    eng.store.append("domain_knowledge", rows)
    rep = eng.index_vectors("domain_knowledge", cent_every=10)
    assert rep["indexed"], rep

    def serve(tag: str, bs: int, i: int) -> float:
        tasks = [f"{tag} b{bs} call{i} task{j}" for j in range(bs)]
        eng._cache.clear()
        t0 = time.perf_counter()
        out = eng.retrieve_batch(
            tasks, agent="helena", project_id="p", top_k=6,
            use_ann=True, nprobe=3,
        )
        dt = (time.perf_counter() - t0) * 1000
        assert len(out) == bs
        return dt

    # warm both shapes
    E._ANN_BATCH_SQL_MAX = 10**9
    serve("warm_sql", 4, 0)
    E._ANN_BATCH_SQL_MAX = 0
    serve("warm_view", 4, 0)

    print("arm batch ms_call ms_task cpu_s sql_hits")
    for bs in (2, 8, 16, 32):
        for arm, thr in (("sqltext", 10**9), ("view", 0)):
            E._ANN_BATCH_SQL_MAX = thr
            h0 = eng._srv_hits
            walls, cpus = [], []
            for i in range(n):
                c0 = pgroup_cpu_seconds()
                walls.append(serve(arm, bs, i))
                cpus.append(pgroup_cpu_seconds() - c0)
            wm = statistics.median(walls)
            print(
                f"{arm} {bs} {wm:.0f} {wm / bs:.1f} "
                f"{statistics.median(cpus):.2f} {eng._srv_hits - h0}"
            )
    spark.stop()


if __name__ == "__main__":
    main()
