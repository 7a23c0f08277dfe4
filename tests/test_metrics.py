"""The one metrics path: job tags and groups reach thread-pool jobs,
a pool thread gets its own properties back, and `totals` reads the
tagged jobs' executor metrics from the status store (UI off)."""

import ast
import pathlib
import uuid
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

import alma_memory_spark
from alma_memory_spark.engine import AlmaSpark
from alma_memory_spark.metrics import carry, scope, totals


def _drain(spark):
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _last_job_id(spark):
    """Id of a one-job marker run now, in its own group."""
    sc = spark.sparkContext
    group = f"marker-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "marker")
    try:
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    _drain(spark)
    return max(sc.statusTracker().getJobIdsForGroup(group))


def test_caller_job_group_reaches_the_index_build_list_write(spark, tmp_path):
    """Every job index_vectors launches, the list write on its pool
    thread included, is in the caller's job group, so a caller's
    cancelJobGroup reaches the whole build."""
    eng = AlmaSpark(spark, str(tmp_path / "store"))
    for i in range(12):
        eng.add_knowledge("a1", "p1", "d", f"indexed fact number {i}")
    sc = spark.sparkContext
    lo = _last_job_id(spark)
    sc.setJobGroup("caller", "index build")
    try:
        rep = eng.index_vectors("domain_knowledge", cent_every=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    hi = _last_job_id(spark)
    assert rep["indexed"]
    window = set(range(lo + 1, hi))
    assert window
    assert window <= set(sc.statusTracker().getJobIdsForGroup("caller"))


def test_carried_tag_does_not_outlive_its_scope_on_a_reused_thread(spark):
    """The worker gets its own properties back after a carried target,
    so a later target on the reused thread, wrapped or not, runs
    untagged (pyspark.util.inheritable_thread_target leaves them set)."""
    sc = spark.sparkContext
    tag = f"t-{uuid.uuid4().hex}"

    def work():
        spark.range(3).collect()
        return sc.getJobTags()

    with ThreadPoolExecutor(max_workers=1) as pool:
        with scope(spark, tag):
            first = pool.submit(carry(spark, work)).result()
        bare = pool.submit(work).result()  # the same, reused thread
        second = pool.submit(carry(spark, work)).result()
    assert tag in first
    assert tag not in bare and tag not in second
    assert tag not in sc.getJobTags()
    _drain(spark)
    # only the first target's job carries the tag
    assert len(sc._jsc.sc().statusTracker().getJobIdsForTag(tag)) == 1


def test_every_pool_submit_carries_the_callers_properties():
    """Each `.submit(` in the package passes a carry(...) target."""
    root = pathlib.Path(alma_memory_spark.__file__).parent
    sites, offenders = 0, []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "submit"
            ):
                continue
            sites += 1
            target = node.args[0] if node.args else None
            if not (
                isinstance(target, ast.Call)
                and isinstance(target.func, ast.Name)
                and target.func.id == "carry"
            ):
                offenders.append(f"{path.relative_to(root)}:{node.lineno}")
    assert sites >= 13
    assert not offenders


def test_totals_sums_tagged_stages_and_splits_by_stage_tag(spark):
    tag = f"t-{uuid.uuid4().hex}"
    with scope(spark, tag):
        with scope(spark, "stage:x"):
            spark.range(2000).groupBy((F.col("id") % 7).alias("k")).count().collect()
    tot = totals(spark, tag)
    assert tot["jobs"] >= 1
    assert tot["tasks"] >= 1
    assert tot["shuffle_write_bytes"] > 0
    assert tot["executor_cpu_s"] > 0
    split = tot.pop("stages")
    assert split == {"x": tot}
    assert totals(spark, f"t-{uuid.uuid4().hex}")["jobs"] == 0
