"""Session-level utilities: DDL schema-name parsing, the tiny_df Arrow
fast path, and the concurrent table-cache guard (ADVICE r5)."""

import threading

from alma_memory_spark import session as S
from alma_memory_spark.cache import session_key


def test_schema_field_names_nesting():
    assert S._schema_field_names("a long, b array<double>") == ["a", "b"]
    # '(' must nest like '<': decimal(10,2)'s comma is NOT a separator
    assert S._schema_field_names("a decimal(10,2), b string") == ["a", "b"]
    assert S._schema_field_names(
        "m map<string,decimal(10,2)>, s struct<x:int,y:decimal(3,1)>, z int"
    ) == ["m", "s", "z"]
    assert S._schema_field_names("only decimal(38,18)") == ["only"]


def test_tiny_df_decimal_schema_fast_path(spark):
    """With parenthesized type args the column list used to mis-split,
    always tripping tiny_df's silent fallback to the slow Python-RDD
    path; the names must now parse so dict rows map correctly and the
    plan stays a JVM-side local scan."""
    from decimal import Decimal

    rows = [
        {"amt": Decimal("1.25"), "tag": "x"},
        {"amt": Decimal("3.5"), "tag": "y"},
    ]
    df = S.tiny_df(spark, rows, "amt decimal(10,2), tag string")
    got = {(str(r["amt"]), r["tag"]) for r in df.collect()}
    assert got == {("1.25", "x"), ("3.50", "y")}
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan or "LocalTableScan" in plan, plan


def test_tiny_df_tuple_rows_still_work(spark):
    df = S.tiny_df(spark, [(1, [0.5, 0.5])], "id long, v array<double>")
    r = df.collect()[0]
    assert r["id"] == 1 and r["v"] == [0.5, 0.5]


def test_table_cache_eviction_is_thread_safe(spark, sf_dir):
    """Pre-fill the cache with fake app entries, then hammer load_table
    from threads: every call must return a usable plan and no eviction
    may raise (the unlocked pop(next(iter(..))) raced into KeyError)."""
    for i in range(6):
        S._TABLES.put((f"fake-app-{i}", "d", "t"), object())
    errs = []

    def worker():
        try:
            for _ in range(5):
                df = S.load_table(spark, sf_dir, "region")
                assert df.count() >= 1
        except Exception as e:  # pragma: no cover - failure path
            errs.append(e)

    threads = [threading.Thread(target=worker) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    # the LIVE app's entry survived the evictions
    assert S._TABLES.get(session_key(spark, sf_dir, "region")) is not None


def _compiled_classes(spark) -> int:
    """Whole-stage-codegen classes this JVM has compiled so far."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def test_retrieve_after_learn_reuses_generated_code(spark, tmp_path):
    """An agent loop alternates learn and retrieve. With Spark's default
    100-entry codegen cache each call evicts the other's classes, so
    every retrieve after a learn recompiled its plan (about 100 classes
    per learn/retrieve cycle). get_spark sizes the cache to the engine's
    working set: once one cycle has run, repeating the same call shapes
    compiles nothing."""
    from datetime import datetime, timezone

    from alma_memory_spark.engine import AlmaSpark

    eng = AlmaSpark(spark, str(tmp_path / "store"),
                    clock=lambda: datetime(2024, 2, 15, tzinfo=timezone.utc))
    for i in range(4):
        eng.add_knowledge("a", "p", "forms", f"form fact {i} about submit buttons")
    steps = iter(range(100))

    def succeed():
        return eng.learn("a", f"form job {next(steps)}", True, "p",
                         strategy_used="fill fields wait visible assert submit",
                         task_type="form")

    def fail():
        k = next(steps)
        # strategy tokens unique per failure, so the write guard never
        # blocks a later learn on an earlier failure's anti-pattern
        return eng.learn("a", f"form job {k}", False, "p",
                         strategy_used=" ".join(f"fx{k}{c}" for c in "abcdefghij"),
                         task_type="form", error_message="upstream timeout waiting")

    def retrieve():
        eng.retrieve(f"submit form question {next(steps)}", agent="a", project_id="p")

    # form the scope's heuristic (third success) and anti-pattern
    # (second failure) first: the call that creates a table plans
    # differently from the upserts that follow
    for call in (succeed, succeed, fail, succeed, fail, retrieve):
        call()

    def cycle():
        assert succeed()["heuristics"]  # re-forms the heuristic
        assert fail()["anti_patterns"]  # re-forms the anti-pattern
        retrieve()

    cycle()  # warm-up: every shape compiled once
    before = _compiled_classes(spark)
    cycle()
    assert _compiled_classes(spark) - before == 0
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
