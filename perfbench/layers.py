"""Per-layer split of a traced run (--trace 1).

Every "per call" figure is averaged over the traced facade calls
(retrieve, retrieve_batch, learn) of the loop; the untraced calls of the
same loop, interleaved with them, give the tracing overhead.
"""

from __future__ import annotations

import os
import statistics

LAYERS = ("engine", "embedding", "serving_sql", "retrieval", "ann_index",
          "store", "learning", "spark")

PER_LAYER = [
    ("engine.retrieve.self_ms", "ms"),
    ("engine.retrieve_batch.self_ms", "ms"),
    ("engine.learn.self_ms", "ms"),
    ("engine.retrieve_first_ms", "ms"),
    ("engine.slice_cache.hit_ratio", "ratio"),
    ("embedding.encode.calls", "count"),
    ("embedding.encode.ms", "ms"),
    ("serving_sql.compile.calls", "count"),
    ("serving_sql.compile.ms", "ms"),
    ("serving_sql.template.hit_ratio", "ratio"),
    ("serving_sql.bind.ms", "ms"),
    ("retrieval.fallback.calls", "count"),
    ("ann_index.probe.ms", "ms"),
    ("ann_index.batch_probe.sql.ms", "ms"),
    ("ann_index.batch_probe.arrow.ms", "ms"),
    ("ann_index.load.ms", "ms"),
    ("ann_index.build_s", "s"),
    ("store.read.calls", "count"),
    ("store.read.ms", "ms"),
    ("store.read_plan_cache.hit_ratio", "ratio"),
    ("store.exists.ms", "ms"),
    ("store.version_stamp.ms", "ms"),
    ("store.append.ms", "ms"),
    ("store.upsert.ms", "ms"),
    ("store.files_per_partition", "count"),
    ("store.bytes_per_row", "bytes"),
    ("learning.extract.ms", "ms"),
    ("learning.heuristics_formed", "count"),
    ("learning.anti_patterns_formed", "count"),
    ("learning.guard_blocked", "count"),
    ("spark.sql.ms", "ms"),
    ("spark.collect.ms", "ms"),
    ("spark.read_parquet.ms", "ms"),
    ("spark.write_parquet.ms", "ms"),
    ("spark.jobs_per_call", "count"),
    ("spark.tasks_per_call", "count"),
    ("spark.executor_cpu_s", "s"),
    ("spark.executor_run_s", "s"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    *[(f"layer.{name}.self_ms", "ms") for name in LAYERS],
    ("quality.recall_at_5", "ratio"),
    ("quality.ann_recall_at_5", "ratio"),
    ("trace.facade_calls", "count"),
    ("trace.overhead_pct", "%"),
    ("wall.retrieve_p50_ms", "ms"),
    ("wall.ms_per_task", "ms"),
    ("host.steal_pct", "%"),
    ("calib_1w_s", "s"),
    ("calib_nw_s", "s"),
]

#: per-call span totals: metric -> span names (ms) or ("calls", names)
_SPAN_MS = {
    "embedding.encode.ms": ("embedding.encode", "embedding.encode_batch"),
    "serving_sql.compile.ms": ("serving_sql.compile_serving_template",
                               "serving_sql.compile_batch_template"),
    "serving_sql.bind.ms": ("serving_sql.bind", "serving_sql.bind_batch"),
    "ann_index.probe.ms": ("ann_index.search", "ann_index.search_sql_subquery"),
    "ann_index.load.ms": ("ann_index.load",),
    "store.read.ms": ("store.read",),
    "store.exists.ms": ("store.exists",),
    "store.version_stamp.ms": ("store.version_stamp",),
    "store.append.ms": ("store.append",),
    "store.upsert.ms": ("store.upsert",),
    "learning.extract.ms": ("learning.extract_heuristics",
                            "learning.extract_anti_patterns",
                            "learning.write_guard_filter"),
    "spark.sql.ms": ("spark.session.sql",),
    "spark.collect.ms": ("spark.dataframe.collect", "spark.dataframe.count",
                         "spark.dataframe.toPandas"),
    "spark.read_parquet.ms": ("spark.reader.parquet",),
    "spark.write_parquet.ms": ("spark.writer.parquet",),
}
_SPAN_CALLS = {
    "embedding.encode.calls": ("embedding.encode", "embedding.encode_batch"),
    "serving_sql.compile.calls": ("serving_sql.compile_serving_template",
                                  "serving_sql.compile_batch_template"),
    "retrieval.fallback.calls": ("retrieval.retrieve_type", "retrieval.score_memories"),
    "store.read.calls": ("store.read",),
}


def _store_shape(spark, root: str) -> tuple[float, float]:
    """(parquet files per partition directory, bytes on disk per row) of
    the store's tables."""
    files_per_part: list[int] = []
    total_bytes = 0
    rows = 0
    for table in sorted(os.listdir(root)):
        path = os.path.join(root, table)
        if table.startswith("_") or not os.path.isdir(path):
            continue  # the IVF index lives under _indexes/
        parts: dict[str, int] = {}
        for d, _, files in os.walk(path):
            pq = [f for f in files if f.endswith(".parquet")]
            if pq:
                parts[d] = len(pq)
                total_bytes += sum(os.path.getsize(os.path.join(d, f)) for f in pq)
        if parts:
            files_per_part.extend(parts.values())
            rows += spark.read.parquet(path).count()
    return (
        statistics.fmean(files_per_part) if files_per_part else 0.0,
        total_bytes / rows if rows else 0.0,
    )


def per_layer_metrics(run, eng, loop_calls) -> dict[str, float]:
    from perfbench.spans import drain_listener_bus, spark_stage_totals

    tr = run.tracer
    spans = tr.spans
    self_t = tr.self_times()
    loop = range(run.setup_spans, len(spans))
    roots = [i for i in loop if spans[i].parent is None]
    n = max(len(roots), 1)
    by_root: dict[int, list[int]] = {}
    for i in loop:
        by_root.setdefault(spans[i].root, []).append(i)

    def total_ms(names) -> float:
        return sum(spans[i].end - spans[i].start for i in loop if spans[i].name in names) * 1e3

    def count(names) -> int:
        return sum(1 for i in loop if spans[i].name in names)

    def mean_self_ms(name: str, only=None) -> float:
        xs = [self_t[i] for i in roots if spans[i].name == name and (only is None or only(i))]
        return statistics.fmean(xs) * 1e3 if xs else 0.0

    def reached_spark(r: int) -> bool:
        return any(spans[i].layer == "spark" for i in by_root[r])

    m: dict[str, float] = {}
    m["engine.retrieve.self_ms"] = mean_self_ms("engine.retrieve", reached_spark)
    m["engine.retrieve_batch.self_ms"] = mean_self_ms("engine.retrieve_batch")
    m["engine.learn.self_ms"] = mean_self_ms("engine.learn")
    m["engine.retrieve_first_ms"] = run.detail.get("retrieve_first_ms", 0.0)
    retrieves = [r for r in roots if spans[r].name == "engine.retrieve"]
    m["engine.slice_cache.hit_ratio"] = (
        sum(1 for r in retrieves if not reached_spark(r)) / len(retrieves) if retrieves else 0.0
    )
    for k, names in _SPAN_MS.items():
        m[k] = total_ms(names) / n
    for k, names in _SPAN_CALLS.items():
        m[k] = count(names) / n
    binds = count(("serving_sql.bind", "serving_sql.bind_batch"))
    compiles = count(_SPAN_CALLS["serving_sql.compile.calls"])
    m["serving_sql.template.hit_ratio"] = 1.0 - compiles / binds if binds else 0.0
    batches = count(("engine.retrieve_batch",))
    for k, name in (("ann_index.batch_probe.sql.ms", "ann_index.search_batch_sql_subquery"),
                    ("ann_index.batch_probe.arrow.ms", "ann_index.search_batch")):
        m[k] = total_ms((name,)) / batches if batches else 0.0
    builds = [spans[i].end - spans[i].start for i in range(run.setup_from, run.setup_spans)
              if spans[i].name == "engine.index_vectors"]
    m["ann_index.build_s"] = statistics.median(builds) if builds else 0.0
    # parquet listings per store.read: a plan-cache hit lists nothing
    reads = [i for i in loop if spans[i].name == "store.read"]
    listed = sum(
        1 for i in loop
        if spans[i].name == "spark.reader.parquet"
        and spans[i].parent is not None and spans[spans[i].parent].name == "store.read"
    )
    m["store.read_plan_cache.hit_ratio"] = 1.0 - listed / len(reads) if reads else 0.0
    files, bpr = _store_shape(run.spark, eng.store.root)
    m["store.files_per_partition"] = files
    m["store.bytes_per_row"] = bpr
    learning = run.detail.get("learning", {})
    m["learning.heuristics_formed"] = learning.get("heuristics_formed", 0)
    m["learning.anti_patterns_formed"] = learning.get("anti_patterns_formed", 0)
    m["learning.guard_blocked"] = learning.get("guard_blocked", 0)
    drain_listener_bus(run.spark)
    tot: dict[str, float] = {}
    for g in run.groups:
        for k, v in spark_stage_totals(run.spark, g).items():
            tot[k] = tot.get(k, 0.0) + v
    m["spark.jobs_per_call"] = tot.get("jobs", 0.0) / n
    m["spark.tasks_per_call"] = tot.get("tasks", 0.0) / n
    for k in ("executor_cpu_s", "executor_run_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{k}"] = tot.get(k, 0.0) / n
    for layer in LAYERS:
        m[f"layer.{layer}.self_ms"] = (
            sum(self_t[i] for i in loop if spans[i].layer == layer) * 1e3 / n
        )
    for k, v in run.recall_at_5().items():
        m[f"quality.{k}"] = v
    m["trace.facade_calls"] = len(roots)
    for k, v in run.detail["wall"].items():
        m[f"wall.{k}"] = v
    # exact retrieves only: the one kind with traced and untraced calls
    # in every cycle (see run.Run.loop), so the JIT curve cancels; a kind
    # with one call a cycle is traced only in the later cycle
    on = [c[1] for c in loop_calls if c[0] == "exact" and c[2]]
    off = [c[1] for c in loop_calls if c[0] == "exact" and not c[2]]
    m["trace.overhead_pct"] = (statistics.median(on) / statistics.median(off) - 1.0) * 100
    run.detail["per_layer"] = {**m, "spark_totals": tot, "spans": len(spans)}
    return m
