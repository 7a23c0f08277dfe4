"""SparkSession factory tuned for this engine.

Local mode is the test harness; the configs are chosen so the same code
scales to a real cluster: AQE on (runtime re-planning, skew-join
handling, partition coalescing), Arrow on (pandas UDF fast path),
UTC session timezone (oracle comparability), shuffle partitions sized
to cores locally (on a cluster you'd size to ~2-3x total cores).

The generated-code cache holds 1000 compiled classes instead of Spark's
100, enough for the engine's whole working set: an agent loop that
alternates learn and retrieve then compiles each query shape once
instead of on every switch. `spark.sql.codegen.cache.maxEntries` is a
static conf, so it only takes effect in a session this factory builds;
`getOrCreate` on a session that already exists ignores it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from alma_memory_spark.cache import LRU, session_key


def get_spark(app_name: str = "alma_memory_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local mode: executors live in the driver JVM, so this is the
        # whole cluster's memory; 16g leaves ample headroom for 32
        # threads' shuffles + per-query caches on the 128 GiB box
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the driver's synthetic parquet stores TIMESTAMP(NANOS); read as
        # int64 nanos and convert in load_tables (Spark has no nanos type)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # JVM-wide LRU of compiled codegen classes (static; default 100).
        # One learn needs ~30-55 classes and one retrieve ~57, so at 100
        # each evicted the other's and every retrieve after a learn
        # recompiled its plan. Classes compiled per benchmark run
        # (perfbench, 4 vCPU): learn_mix 372-405 at 100 vs 147-151 at
        # 1000, serve 751-809 vs 261-271; 1000 is ~3.7x the larger
        # working set. Metaspace at the end of a serve run: 170 MB at
        # 100, 167 MB at 1000.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Columns stored as TIMESTAMP(NANOS) in the driver's parquet; Spark reads
# them as int64 nanos (legacy.parquet.nanosAsLong) and we convert to
# microsecond timestamps (truncation matches DuckDB's nanos->micros read).
_NANO_TS_COLS = {
    "events": ["ts"],
    "lineitem": ["l_shipdate"],
    "orders": ["o_orderdate"],
}


#: the shipped zip per session: keyed by applicationId, not
#: id(sparkContext) — a stopped context's id can be reused by a new
#: allocation, which would skip the ship for a fresh JVM that never
#: received the zip
_SHIPPED = LRU(session_scoped=True)


def build_package_zip(zpath: str) -> str:
    """Write the executor-shippable package zip to `zpath` (atomic).

    Ships every .py file AND the resources/ data files: functions/
    text.py loads the PSL rule file AT IMPORT TIME — a zip without it
    kills every Python worker import with NotADirectoryError (r14
    inherited-state fix; workers read resources via
    importlib.resources, which resolves into this zip)."""
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    tmp = zpath + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for root, _, files in os.walk(pkg_dir):
            in_resources = os.path.basename(root) == "resources"
            for f in files:
                if f.endswith(".py") or (
                    in_resources and f.endswith((".dat", ".txt"))
                ):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    os.replace(tmp, zpath)  # atomic: addPyFile never sees a partial zip
    return zpath


def ensure_package_shipped(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    Queries that use pandas UDFs / applyInPandas capture module globals
    in their closures; cloudpickle serializes those by reference, so the
    workers must be able to import `alma_memory_spark`. When the driver
    process runs from outside the repo (as the harness driver does),
    sys.path tweaks on the driver do NOT propagate — a zipped copy of
    the package shipped through Spark's file distribution does."""
    # gates run concurrent Spark jobs from threads (e.g. the four
    # store roundtrips): the per-key build lock keeps a second thread
    # from addPyFile-ing a zip the first is still writing (observed as
    # an intermittent executor import failure)
    _SHIPPED.get_or_build(session_key(spark), lambda: _ship_package(spark))


def _ship_package(spark: SparkSession) -> str:
    import tempfile

    zpath = build_package_zip(
        os.path.join(
            tempfile.gettempdir(), f"alma_memory_spark_pkg_{os.getpid()}.zip"
        )
    )
    spark.sparkContext.addPyFile(zpath)
    return zpath


def _schema_field_names(schema: str) -> list[str]:
    """Top-level column names of a DDL schema string ('a long, b
    array<double>') — splits on commas OUTSIDE <...> nesting."""
    names, depth, tok = [], 0, []
    for ch in schema:
        # '(' nests like '<': parenthesized type args ('decimal(10,2)')
        # would otherwise mis-split the column list on their comma
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            names.append("".join(tok))
            tok = []
        else:
            tok.append(ch)
    names.append("".join(tok))
    return [n.strip().split()[0] for n in names if n.strip()]


def tiny_df(spark: SparkSession, rows, schema: str):
    """Small literal DataFrame via the driver-side Arrow path.

    `spark.createDataFrame(list, schema)` parallelizes through a Python
    RDD: every job that touches the result spins Python workers, which
    costs SECONDS per tiny write on a wide local session (measured:
    4-7 s to write 40 rows at local[32] vs 0.2-0.5 s through the
    pandas/Arrow conversion, which plans as a JVM-only LocalRelation).
    Index-build metadata writes (centroids, stats) sit on serving
    rebuild paths, so the difference is benchmark-visible. Rows may be
    tuples, dicts, or Rows; empty input returns an empty frame without
    a job. Any pandas/Arrow conversion trouble (exotic nested types,
    int columns with nulls) falls back to the plain path — tiny_df is
    an optimization, never a semantics change."""
    import pandas as pd

    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], schema)
    try:
        names = (
            _schema_field_names(schema)
            if isinstance(schema, str)
            else list(schema.fieldNames())
        )
        first = rows[0]
        if isinstance(first, dict):
            data = [tuple(r.get(n) for n in names) for r in rows]
        elif hasattr(first, "asDict"):  # pyspark Row
            data = [tuple(r.asDict().get(n) for n in names) for r in rows]
        else:
            data = [tuple(r) for r in rows]
        pdf = pd.DataFrame(data, columns=names, dtype=object)
        return spark.createDataFrame(pdf, schema)
    except Exception:
        return spark.createDataFrame(rows, schema)


#: {(applicationId, sf_dir, name): DataFrame}. A DataFrame is an
#: immutable logical plan, so handing the same object out again is
#: semantically identical to rebuilding it — but rebuilding costs a
#: parquet footer read + conf RPCs (~0.1 s per call), which across
#: 50 gates x 2 tables x 2 bench runs is tens of seconds of pure
#: plan-construction overhead. The synthetic tables never change
#: within a session; session scope drops a stopped context's plans.
_TABLES = LRU(session_scoped=True)


def load_table(spark: SparkSession, sf_dir: str, name: str):
    return _TABLES.get_or_build(
        session_key(spark, sf_dir, name),
        lambda: _load_table_uncached(spark, sf_dir, name),
    )


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str):
    from pyspark.sql import functions as F

    # the driver may hand us a session without this (runtime-settable) conf
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ensure_package_shipped(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in _NANO_TS_COLS.get(name, []):
        if dict(df.dtypes).get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    # parquet TIMESTAMP(MICROS) without tz reads as TIMESTAMP_NTZ under
    # Spark 4.1's NTZ inference; normalize to the session-tz TIMESTAMP
    # (session tz is UTC) so epoch arithmetic/casts behave like DuckDB's
    # naive-as-UTC reading — and like the engine's own written tables.
    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Load the driver's synthetic parquet tables as a dict of DataFrames."""
    names = names or [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    return {n: load_table(spark, sf_dir, n) for n in names}
