"""One metrics path: job tags that reach worker threads, and one reader
of the tagged jobs' stage metrics.

- `scope(spark, tag)` tags every Spark job this thread starts inside
  the block (`SparkContext.addJobTag`).
- `carry(spark, fn)` hands the caller thread's local properties (job
  group, description, tags, scheduler pool) to a thread-pool target. A
  JVM thread inherits local properties only from the thread that
  created it, and py4j creates the threads that serve pool threads, so
  without it a caller's tag or group never reaches a pool target's
  jobs (nor does `cancelJobGroup`). Every `.submit(` in the package
  passes its target through `carry`.
- `totals(spark, tag)` sums executor metrics over the COMPLETE stages
  of the tagged jobs, read from the status store, so it works with
  `spark.ui.enabled=false`. The store keeps only the last
  `spark.ui.retainedJobs` (1000) jobs: read a tag's totals soon after
  its jobs ran.

Job groups are left to callers (a benchmark harness sets its own
per-call group); nothing here calls `setJobGroup`.
"""

from __future__ import annotations

import contextlib
import functools
import json
import tempfile

from alma_memory_spark.cache import LRU, session_key

#: tags with this prefix split a tag's totals by stage of the work
STAGE_PREFIX = "stage:"

_KEYS = (
    "jobs", "tasks", "executor_cpu_s", "executor_run_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


@contextlib.contextmanager
def scope(spark, tag: str):
    """Tag the jobs this thread starts inside the block with `tag`."""
    sc = spark.sparkContext
    sc.addJobTag(tag)
    try:
        yield
    finally:
        sc.removeJobTag(tag)


def carry(spark, fn):
    """`fn` wrapped to run with the local properties the calling thread
    has now; the worker thread's own properties are put back after."""
    jsc = spark.sparkContext._jsc.sc()
    props = jsc.getLocalProperties().clone()

    @functools.wraps(fn)
    def run(*args, **kwargs):
        prev = jsc.getLocalProperties()
        # a copy per call: a scope opened inside one run must not leak
        # into another run of the same wrapper on another thread
        jsc.setLocalProperties(props.clone())
        try:
            return fn(*args, **kwargs)
        finally:
            jsc.setLocalProperties(prev)

    return run


def totals(spark, tag: str) -> dict:
    """Jobs, tasks, executor CPU and run seconds, shuffle read/write and
    spill bytes of every job tagged `tag`, plus the same sums per
    `stage:<name>` tag those jobs also carry, under "stages". A stage
    shared by two jobs counts once; a stage counts when its last
    attempt completed."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    ids = set(jsc.statusTracker().getJobIdsForTag(tag))
    jobs = [
        j for j in _store_entries(spark, "JobDataWrapper", None, ids)
        if j["jobId"] in ids
    ]
    sids = {sid for j in jobs for sid in j["stageIds"]}
    last: dict[int, dict] = {}  # stage id -> its last attempt
    for st in _store_entries(spark, "StageDataWrapper", "stageId", sids):
        prev = last.get(st["stageId"])
        if prev is None or st["attemptId"] > prev["attemptId"]:
            last[st["stageId"]] = st

    def sums(of_jobs: list[dict]) -> dict:
        out = dict.fromkeys(_KEYS, 0)
        out["jobs"] = len(of_jobs)
        for sid in {sid for j in of_jobs for sid in j["stageIds"]}:
            st = last.get(sid)
            if st is None or st["status"] != "COMPLETE":
                continue  # skipped (never run), failed or evicted
            out["tasks"] += st["numCompleteTasks"]
            out["executor_cpu_s"] += st["executorCpuTime"] / 1e9
            out["executor_run_s"] += st["executorRunTime"] / 1e3
            out["shuffle_read_bytes"] += st["shuffleReadBytes"]
            out["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            out["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
        return out

    out = sums(jobs)
    names = {t for j in jobs for t in j["jobTags"] if t.startswith(STAGE_PREFIX)}
    out["stages"] = {
        t[len(STAGE_PREFIX):]: sums([j for j in jobs if t in j["jobTags"]])
        for t in sorted(names)
    }
    return out


#: per session: a JSON writer of Spark's REST API objects (it caches
#: its serializers, so a fresh one per read costs ~20 ms) and the two
#: status-store entry classes
_STORE_JSON = LRU(session_scoped=True)


def _store_entries(spark, wrapper: str, index: str | None, keys: set[int]) -> list:
    """The `info` of the status store's `wrapper` entries whose `index`
    (the natural key when None) lies in [min(keys), max(keys)], as the
    JSON the REST API serves. One read for the lot: reading field by
    field costs a py4j round trip per field, and each
    `lastStageAttempt` re-sorts every retained stage (with ~1000
    retained, 0.6-1.2 s against 0.06-0.12 s for a 78- or 104-job
    bench gate)."""
    if not keys:
        return []

    def build():
        jvm = spark._jvm
        writer = (
            jvm.org.apache.spark.status.api.v1.JacksonMessageWriter()
            .mapper()
            .writer()
            .without(jvm.com.fasterxml.jackson.databind.SerializationFeature.INDENT_OUTPUT)
        )
        return writer, {
            w: jvm.java.lang.Class.forName("org.apache.spark.status." + w)
            for w in ("JobDataWrapper", "StageDataWrapper")
        }

    writer, classes = _STORE_JSON.get_or_build(session_key(spark), build)
    view = spark.sparkContext._jsc.sc().statusStore().store().view(classes[wrapper])
    if index is not None:
        view = view.index(index)
    # through a file, not a returned string: py4j stalls ~44 ms on any
    # reply over 8 KB
    with tempfile.NamedTemporaryFile(suffix=".json") as fh:
        writer.writeValue(
            spark._jvm.java.io.File(fh.name), view.first(min(keys)).last(max(keys))
        )
        return [e["info"] for e in json.load(fh)]
