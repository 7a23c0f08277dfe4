"""Out-of-package layer tracing: wrap public functions, record spans.

`Tracer.install` replaces the public functions of the engine's layers
(and the Spark entry points they call) with wrappers that record one span
per call — name, layer, start, end, parent — while `Tracer.on` is set.
Spans of one facade call share its root index. Nothing in the package
changes on disk; the patches live for the process. Spark's own per-stage
metrics come from the status store through job groups (`spark_stage_totals`),
which works with the UI disabled.
"""

from __future__ import annotations

import importlib
import inspect
import sys
import time
from dataclasses import dataclass

#: (layer, module, class or None, public names)
TARGETS = [
    ("engine", "alma_memory_spark.engine", "AlmaSpark",
     ["retrieve", "retrieve_batch", "learn", "index_vectors"]),
    ("embedding", "alma_memory_spark.embedding", "HashEmbedder", ["encode", "encode_batch"]),
    ("embedding", "alma_memory_spark.embedding", None, ["hash_embed", "hash_embed_batch"]),
    ("serving_sql", "alma_memory_spark.operators.serving_sql", None,
     ["compile_serving_template", "compile_batch_template", "bind_batch"]),
    ("serving_sql", "alma_memory_spark.operators.serving_sql", "ServingTemplate", ["bind"]),
    ("retrieval", "alma_memory_spark.operators.retrieval", None,
     ["retrieve_type", "score_memories", "vector_candidates", "threshold_topk"]),
    ("ann_index", "alma_memory_spark.operators.ann_index", "IVFIndex",
     ["build", "load", "search", "search_sql_subquery",
      "search_batch_sql_subquery", "search_batch"]),
    ("store", "alma_memory_spark.sources.store", "ParquetStore",
     ["read", "exists", "append", "upsert", "overwrite", "delete", "version_stamp"]),
    ("learning", "alma_memory_spark.operators.learning", None,
     ["extract_heuristics", "extract_anti_patterns", "write_guard_filter"]),
]
#: Spark entry points, patched on the live session's concrete classes
SPARK_TARGETS = [
    ("session", ["sql"]),
    ("dataframe", ["collect", "count", "toPandas"]),
    ("reader", ["parquet"]),
    ("writer", ["parquet"]),
]


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    root: int


class Tracer:
    def __init__(self):
        self.on = False
        self.spans: list[Span] = []
        self._stack: list[int] = []

    # -- recording ------------------------------------------------------

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.on:
                return fn(*args, **kwargs)
            idx = len(tracer.spans)
            parent = tracer._stack[-1] if tracer._stack else None
            root = idx if parent is None else tracer.spans[parent].root
            span = Span(name, layer, time.perf_counter(), 0.0, parent, root)
            tracer.spans.append(span)
            tracer._stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                span.end = time.perf_counter()
                tracer._stack.pop()

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        return traced

    def _patch(self, owner, attr: str, name: str, layer: str) -> None:
        raw = inspect.getattr_static(owner, attr)
        if isinstance(raw, staticmethod):
            new = staticmethod(self._wrap(raw.__func__, name, layer))
        elif isinstance(raw, classmethod):
            new = classmethod(self._wrap(raw.__func__, name, layer))
        else:
            new = self._wrap(raw, name, layer)
        setattr(owner, attr, new)

    def install(self, spark) -> None:
        for layer, modname, clsname, names in TARGETS:
            mod = importlib.import_module(modname)
            owner = getattr(mod, clsname) if clsname else mod
            for attr in names:
                orig = getattr(owner, attr)
                self._patch(owner, attr, f"{layer}.{attr}", layer)
                if clsname is None:
                    # rebind names other package modules imported directly
                    for m in list(sys.modules.values()):
                        if (
                            getattr(m, "__name__", "").startswith("alma_memory_spark")
                            and m is not mod
                            and getattr(m, attr, None) is orig
                        ):
                            self._patch(m, attr, f"{layer}.{attr}", layer)
        df = spark.range(1)
        owners = {
            "session": type(spark),
            "dataframe": type(df),
            "reader": type(spark.read),
            "writer": type(df.write),
        }
        for key, names in SPARK_TARGETS:
            for attr in names:
                self._patch(owners[key], attr, f"spark.{key}.{attr}", "spark")

    # -- analysis -------------------------------------------------------

    def self_times(self) -> list[float]:
        """Per span: its duration minus the time its direct children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return [s.end - s.start - c for s, c in zip(self.spans, child)]


def spark_stage_totals(spark, group: str) -> dict[str, float]:
    """Executor metrics of every stage of every job in a job group, read
    from the status store (no UI or REST port needed)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tot = dict.fromkeys(
        ("jobs", "tasks", "executor_cpu_s", "executor_run_s",
         "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"),
        0.0,
    )
    seen: set[int] = set()
    for j in sc.statusTracker().getJobIdsForGroup(group):
        info = sc.statusTracker().getJobInfo(j)
        tot["jobs"] += 1
        for sid in info.stageIds if info else ():
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:
                continue  # evicted or never submitted (skipped)
            if str(st.status()) != "COMPLETE":
                continue
            tot["tasks"] += st.numCompleteTasks()
            tot["executor_cpu_s"] += st.executorCpuTime() / 1e9
            tot["executor_run_s"] += st.executorRunTime() / 1e3
            tot["shuffle_read_bytes"] += st.shuffleReadBytes()
            tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
            tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return tot


def drain_listener_bus(spark) -> None:
    """Wait until the status store has seen every finished job."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:
        time.sleep(1.0)
