"""Gate queries that drive the REAL ParquetStore write paths end-to-end
— upsert-by-id, delete-with-audit, and the JSON store round-trip — and
hash-check the resulting end state against an oracle that recomputes it
straight from the source table. Same pattern as archive_restore_roundtrip:
the store machinery (window-dedup keep-latest, audit-before-delete,
export/import) runs for real in a temp root; only the deterministic end
state is returned.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alma_memory_spark.metrics import carry, scope
from alma_memory_spark.plans.registry import _r6, _t, probe_plan, register
from alma_memory_spark.session import tiny_df as _tiny

_CUTOFF = "2024-01-15 00:00:00"


def _seed_frame(spark: SparkSession, sf_dir: str, user_pred) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(user_pred)
    return ev.select(
        F.col("event_id").cast("string").alias("id"),
        F.concat(F.lit("u"), (F.col("user_id") % 5).cast("string")).alias("agent"),
        F.lit("p").alias("project_id"),
        F.col("value"),
        F.col("ts"),
    )


@register(
    "store_write_roundtrips",
    f"""
    SELECT 'upsert' AS stage,
           CAST(event_id AS VARCHAR) AS id,
           'u' || CAST(user_id % 5 AS VARCHAR) AS agent,
           round(CASE WHEN event_id % 3 = 0 THEN value + 1000.0 ELSE value END, 6)
             AS value,
           CAST(NULL AS VARCHAR) AS tag,
           CAST(NULL AS DOUBLE) AS ts_epoch
    FROM events
    WHERE user_id <= 3
    UNION ALL
    SELECT 'audit',
           'audit_' || md5(CAST(event_id AS VARCHAR)),
           'u' || CAST(user_id % 5 AS VARCHAR),
           CAST(NULL AS DOUBLE),
           CAST(event_id AS VARCHAR) || '/domain_knowledge/p/expired',
           CAST(NULL AS DOUBLE)
    FROM events
    WHERE user_id = 9 AND ts < TIMESTAMP '{_CUTOFF}'
    UNION ALL
    SELECT 'migrate',
           CAST(event_id AS VARCHAR),
           'u' || CAST(user_id % 5 AS VARCHAR),
           round(value, 6),
           CAST(NULL AS VARCHAR),
           CAST(NULL AS DOUBLE)
    FROM events
    WHERE user_id = 13
    UNION ALL
    SELECT 'json',
           CAST(event_id AS VARCHAR),
           'u' || CAST(user_id % 5 AS VARCHAR),
           round(value, 6),
           CAST(NULL AS VARCHAR),
           round(epoch(ts), 6)
    FROM events
    WHERE user_id = 11
    UNION ALL
    SELECT 'txlog',
           CAST(event_id AS VARCHAR),
           'u' || CAST(user_id % 5 AS VARCHAR),
           round(CASE WHEN event_id % 3 = 0 THEN value + 1000.0 ELSE value END, 6),
           CAST(NULL AS VARCHAR),
           CAST(NULL AS DOUBLE)
    FROM events
    WHERE user_id = 5
    """,
)
def store_write_roundtrips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite gate: the four ParquetStore write paths end-to-end in
    one checked frame (merged r3 from upsert_roundtrip +
    forget_audit_trail + migration_roundtrip + json_store_roundtrip to
    fit the 50-query correctness cap; each stage still runs the REAL
    store machinery in its own temp root).

    'upsert' rows — INSERT OR REPLACE (reference:
    sqlite_local.py:644-813): seed, upsert an overlapping batch (every
    third id, value + 1000), return the final table; the oracle's
    keep-latest end state hash-checks the union + window-dedup +
    partition-scoped atomic swap.
    'audit' rows — audit-before-delete (reference: forgetting.py:306-330
    — every forget writes the audit sink FIRST): age-based delete, gate
    returns the forget_audit table with tag =
    memory_id/memory_type/project/reason.
    'migrate' rows — idempotent schema migration (reference: the v1.2.0
    verification-columns migration, sqlite_local.py:1726-1818): a table
    written under the OLD schema gains the missing columns as typed
    NULLs (tag = verification_status, ts_epoch = strength — both NULL
    post-migration); a second migrate() asserts as a no-op.
    'json' rows — file-based JSON store round-trip (reference:
    alma/storage/file_based.py): export -> import into a FRESH store;
    the identity oracle catches type coercion, timestamp formatting
    (the r2 microsecond-truncation bug), and row drops.
    'txlog' rows — the SAME upsert keep-latest semantics through the
    COMMIT-LOG multi-writer backend (sources/txstore.py), with the
    update batch split across THREE lock-free handles upserting
    CONCURRENTLY into the same table (pure optimistic conflict retry,
    the cross-host simulation): the oracle recomputes the end state,
    so a lost update, a phantom from an uncommitted version, or wrong
    snapshot resolution all hash-mismatch."""
    from pyspark.sql.types import StructType

    from alma_memory_spark import schemas as _schemas
    from alma_memory_spark.sources.store import ParquetStore

    root = tempfile.mkdtemp(prefix="alma_write_gates_")
    mig_schema = StructType.fromDDL(
        "id string, agent string, project_id string, value double, "
        "verification_status string, strength double"
    )
    json_schema = "id string, agent string, project_id string, value double, ts timestamp"
    prev_mig = _schemas.ALL_TABLES.get("_mig_gate")
    prev_json = _schemas.ALL_TABLES.get("_json_gate")
    _schemas.ALL_TABLES["_mig_gate"] = mig_schema
    _schemas.ALL_TABLES["_json_gate"] = json_schema
    try:
        def upsert_stage() -> DataFrame:
            live = _seed_frame(spark, sf_dir, F.col("user_id") <= 3)
            up_store = ParquetStore(spark, root + "/upsert")
            up_store.append("domain_knowledge", live)
            updates = live.filter(F.col("id").cast("long") % 3 == 0).withColumn(
                "value", F.col("value") + 1000.0
            )
            up_store.upsert("domain_knowledge", updates)
            return up_store.read("domain_knowledge").select(
                F.lit("upsert").alias("stage"),
                "id",
                "agent",
                _r6(F.col("value")).alias("value"),
                F.lit(None).cast("string").alias("tag"),
                F.lit(None).cast("double").alias("ts_epoch"),
            )

        def audit_stage() -> DataFrame:
            fg_store = ParquetStore(spark, root + "/forget")
            fg_store.append(
                "domain_knowledge", _seed_frame(spark, sf_dir, F.col("user_id") == 9)
            )
            fg_store.delete(
                "domain_knowledge",
                F.col("ts") < F.to_timestamp(F.lit(_CUTOFF)),
                reason="expired",
                memory_type="domain_knowledge",
            )
            return fg_store.read("forget_audit").select(
                F.lit("audit").alias("stage"),
                "id",
                "agent",
                F.lit(None).cast("double").alias("value"),
                F.concat_ws(
                    "/", "memory_id", "memory_type", "project_id", "reason"
                ).alias("tag"),
                F.lit(None).cast("double").alias("ts_epoch"),
            )

        def migrate_stage() -> DataFrame:
            mig_store = ParquetStore(spark, root + "/migrate")
            mig_store.append(
                "_mig_gate",
                _seed_frame(spark, sf_dir, F.col("user_id") == 13).drop("ts"),
            )
            added = mig_store.migrate("_mig_gate")
            assert added == ["verification_status", "strength"], added
            assert mig_store.migrate("_mig_gate") == []  # idempotent
            return mig_store.read("_mig_gate").select(
                F.lit("migrate").alias("stage"),
                "id",
                "agent",
                _r6(F.col("value")).alias("value"),
                F.col("verification_status").alias("tag"),
                F.col("strength").alias("ts_epoch"),
            )

        def json_stage() -> DataFrame:
            src = ParquetStore(spark, root + "/json_a")
            dst = ParquetStore(spark, root + "/json_b")
            src.append(
                "_json_gate", _seed_frame(spark, sf_dir, F.col("user_id") == 11)
            )
            src.export_json("_json_gate", root + "/export")
            dst.import_json("_json_gate", root + "/export")
            return dst.read("_json_gate").select(
                F.lit("json").alias("stage"),
                "id",
                "agent",
                _r6(F.col("value")).alias("value"),
                F.lit(None).cast("string").alias("tag"),
                _r6(F.col("ts").cast("double")).alias("ts_epoch"),
            )

        def txlog_stage() -> DataFrame:
            from alma_memory_spark.sources.txstore import TxLogStore

            live = _seed_frame(spark, sf_dir, F.col("user_id") == 5)
            seed_store = TxLogStore(spark, root + "/txlog")
            seed_store.append("domain_knowledge", live)
            updates = live.filter(F.col("id").cast("long") % 3 == 0).withColumn(
                "value", F.col("value") + 1000.0
            )
            # three INDEPENDENT lock-free writers each upsert a
            # disjoint third of the update batch concurrently; the
            # commit protocol alone must serialize them
            from concurrent.futures import ThreadPoolExecutor as _TPE

            def one_writer(k: int) -> None:
                st = TxLogStore(spark, root + "/txlog", lock=False)
                st.upsert(
                    "domain_knowledge",
                    updates.filter(F.col("id").cast("long") % 9 == 3 * k),
                )

            with _TPE(max_workers=3) as wpool:
                for f in [
                    wpool.submit(carry(spark, one_writer), k) for k in range(3)
                ]:
                    f.result()
            return seed_store.read("domain_knowledge").select(
                F.lit("txlog").alias("stage"),
                "id",
                "agent",
                _r6(F.col("value")).alias("value"),
                F.lit(None).cast("string").alias("tag"),
                F.lit(None).cast("double").alias("ts_epoch"),
            )

        # the five roundtrips touch disjoint roots and disjoint tables —
        # run them as CONCURRENT Spark jobs (thread-per-stage is the
        # documented way to overlap independent jobs on one session);
        # the result union keeps a fixed stage order regardless of
        # completion order, so the gate stays deterministic
        from concurrent.futures import ThreadPoolExecutor

        from alma_memory_spark.session import ensure_package_shipped

        ensure_package_shipped(spark)  # once, before the stage threads

        def _tagged(fn):
            # each stage's jobs carry a stage:<name> tag (bench.py
            # splits the gate's profile by it)
            def run():
                with scope(spark, "stage:" + fn.__name__.removesuffix("_stage")):
                    return fn()

            return run

        with ThreadPoolExecutor(max_workers=5) as pool:
            futures = [
                pool.submit(carry(spark, _tagged(fn)))
                for fn in (
                    upsert_stage, audit_stage, migrate_stage, json_stage,
                    txlog_stage,
                )
            ]
            upsert_out, audit_out, mig_out, json_out, txlog_out = [
                f.result() for f in futures
            ]

        out = (
            upsert_out.unionByName(audit_out)
            .unionByName(mig_out)
            .unionByName(json_out)
            .unionByName(txlog_out)
        )
        rows = out.collect()  # materialize before the temp roots vanish
        return _tiny(spark, rows, out.schema)
    finally:
        if prev_mig is None:
            _schemas.ALL_TABLES.pop("_mig_gate", None)
        else:
            _schemas.ALL_TABLES["_mig_gate"] = prev_mig
        if prev_json is None:
            _schemas.ALL_TABLES.pop("_json_gate", None)
        else:
            _schemas.ALL_TABLES["_json_gate"] = prev_json
        shutil.rmtree(root, ignore_errors=True)


@register(
    "streaming_learn_ingest",
    """
    SELECT CAST(event_id AS VARCHAR) AS id,
           'u' || CAST(user_id % 5 AS VARCHAR) AS agent,
           event_type AS task_type,
           value > 30.0 AS success,
           round(epoch(ts), 6) AS ts_epoch
    FROM events
    WHERE user_id <= 2
    ORDER BY id
    """,
)
def streaming_learn_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous learn-ingest end-to-end (SURVEY §2.9; the streaming
    form of the reference's incremental learn(), core.py:309-380):
    outcome rows derived from events land as 12 parquet files, replay
    through the file-source stream -> foreachBatch append into a REAL
    ParquetStore across multiple micro-batches, and the gate returns the
    final outcomes table. The oracle is the batch identity over events —
    a dropped or duplicated micro-batch breaks the hash."""
    from alma_memory_spark import schemas as _schemas
    from alma_memory_spark.sources.store import ParquetStore
    from alma_memory_spark.streaming.ingest import (
        read_outcome_stream,
        stream_outcomes_into_store,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") <= 2)
    outcomes = ev.select(
        F.col("event_id").cast("string").alias("id"),
        F.concat(F.lit("u"), (F.col("user_id") % 5).cast("string")).alias("agent"),
        F.lit("p").alias("project_id"),
        F.col("event_type").alias("task_type"),
        F.lit(None).cast("string").alias("task_description"),
        (F.col("value") > 30.0).alias("success"),
        F.lit(None).cast("string").alias("strategy_used"),
        F.lit(None).cast("int").alias("duration_ms"),
        F.lit(None).cast("string").alias("error_message"),
        F.lit(None).cast("string").alias("user_feedback"),
        F.col("ts").alias("timestamp"),
        F.lit(None).cast("string").alias("verification_status"),
        F.lit(None).cast(_schemas.EMBEDDING).alias("embedding"),
        F.lit(None).cast(_schemas.METADATA).alias("metadata"),
    )
    root = tempfile.mkdtemp(prefix="alma_stream_ingest_gate_")
    try:
        inbox = root + "/inbox"
        outcomes.repartition(12).write.parquet(inbox)
        store = ParquetStore(spark, root + "/store")
        batches: list[int] = []
        q = stream_outcomes_into_store(
            read_outcome_stream(spark, inbox), store, on_batch=batches.append
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        out = (
            store.read("outcomes")
            .select(
                "id",
                "agent",
                "task_type",
                "success",
                _r6(F.col("timestamp").cast("double")).alias("ts_epoch"),
            )
            .orderBy("id")
        )
        rows = out.collect()
        return _tiny(spark, rows, out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "workflow_scope_filter",
    """
    SELECT CAST(event_id AS VARCHAR) AS id,
           't' || CAST(user_id % 3 AS VARCHAR) AS tenant_id,
           'w' || CAST(user_id AS VARCHAR) AS workflow_id,
           'r' || CAST(event_id % 7 AS VARCHAR) AS run_id,
           CASE WHEN value > 30.0 THEN 'success' ELSE 'failure' END AS result
    FROM events
    WHERE user_id % 3 = 1 AND user_id = 7 AND event_id % 7 = 2
    ORDER BY id
    """,
)
def workflow_scope_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ScopeFilter (reference: types.py:88-141,
    sqlite_local.py:1971-1995 — tenant > workflow > run equality
    cascade) through the real engine API: workflow_outcomes seeded from
    events, then engine.get_workflow_outcomes(tenant_id='t1',
    workflow_id='w7', run_id='r2'). At scale these are partition-
    prunable columns; the oracle applies the same cascade in SQL."""
    from alma_memory_spark.engine import AlmaSpark

    ev = _t(spark, sf_dir, "events")
    rows_df = ev.select(
        F.col("event_id").cast("string").alias("id"),
        F.concat(F.lit("t"), (F.col("user_id") % 3).cast("string")).alias("tenant_id"),
        F.concat(F.lit("w"), F.col("user_id").cast("string")).alias("workflow_id"),
        F.concat(F.lit("r"), (F.col("event_id") % 7).cast("string")).alias("run_id"),
        F.lit(None).cast("string").alias("agent"),
        F.lit("p").alias("project_id"),
        F.when(F.col("value") > 30.0, "success").otherwise("failure").alias("result"),
        F.lit(None).cast("string").alias("summary"),
        F.lit(None).cast("array<string>").alias("strategies_used"),
        F.lit(None).cast("array<string>").alias("successful_patterns"),
        F.lit(None).cast("array<string>").alias("failed_patterns"),
        F.lit(None).cast("double").alias("duration_seconds"),
        F.lit(None).cast("int").alias("node_count"),
        F.lit(None).cast("string").alias("error_message"),
        F.col("ts").alias("created_at"),
    )
    root = tempfile.mkdtemp(prefix="alma_scope_gate_")
    try:
        eng = AlmaSpark(spark, root)
        eng.store.append("workflow_outcomes", rows_df)
        out = (
            eng.get_workflow_outcomes(
                tenant_id="t1", workflow_id="w7", run_id="r2"
            )
            .select("id", "tenant_id", "workflow_id", "run_id", "result")
            .orderBy("id")
        )
        probe_plan("workflow_scope_filter", "outcomes", out)
        rows = out.collect()
        return _tiny(spark, rows, out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


_ENCODE_TEXTS = [
    "spark query engine fast join",
    "the quick brown fox",
    "deploy release rollout pipeline",
    "",
    "Unicode tokens naive resume",
]


def _encode_oracle() -> str:
    """Oracle literals computed by the SAME pure hash_embed the UDF
    wraps — the gate therefore checks the Arrow/executor plumbing
    (serialization, batching, null handling), which is exactly the part
    a pure-Python unit test cannot reach."""
    from alma_memory_spark.embedding import hash_embed

    rows = []
    for i, t in enumerate(_ENCODE_TEXTS):
        v = hash_embed(t, 64)
        norm = sum(x * x for x in v) ** 0.5
        rows.append(
            f"({i}, {round(float(v[0]), 6)}, {round(float(v[1]), 6)}, "
            f"{round(float(norm), 6)})"
        )
    values = ",\n      ".join(rows)
    return f"""
    SELECT * FROM (VALUES
      {values}
    ) AS t(text_id, dim0, dim1, norm)
    ORDER BY text_id
    """


@register("embedding_encode_udf", _encode_oracle())
def embedding_encode_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-time embedding encode through the REAL Arrow-batched
    pandas UDF (reference: MockEmbeddingProvider default strategy —
    deterministic embedder, embedding.py:74): encode a fixed text set
    on the EXECUTORS and compare dim samples + L2 norm against literals
    computed driver-side by the same pure function. Catches Arrow float
    truncation, batch-boundary bugs, and null-text handling; the empty
    string exercises the zero-vector path."""
    from alma_memory_spark.embedding import encode_udf
    from alma_memory_spark.session import ensure_package_shipped

    ensure_package_shipped(spark)
    df = spark.createDataFrame(
        list(enumerate(_ENCODE_TEXTS)), "text_id int, text string"
    )
    enc = df.repartition(3).withColumn("emb", encode_udf(64)(F.col("text")))
    norm = F.sqrt(F.aggregate("emb", F.lit(0.0), lambda a, x: a + x * x))
    out = enc.select(
        "text_id",
        _r6(F.col("emb")[0].cast("double")).alias("dim0"),
        _r6(F.col("emb")[1].cast("double")).alias("dim1"),
        _r6(norm).alias("norm"),
    ).orderBy("text_id")
    probe_plan("embedding_encode_udf", "encode", out)
    rows = out.collect()
    return _tiny(spark, rows, out.schema)


@register(
    "graph_asof_neighbors",
    f"""
    SELECT n.n_name AS source_name, r.r_name AS target_name,
           'in_region' AS relation_type
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE (n.n_nationkey % 3 = 0 OR n.n_nationkey % 2 = 0)
      AND n.n_nationkey % 5 <> 0
    ORDER BY source_name
    """,
)
def graph_asof_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal graph as-of through the REAL engine
    (reference: alma/graph/store.py:535-559): nation->region edges with
    a mix of NULL valid_from (valid since forever, nationkey % 3 = 0),
    early/late validity starts (% 2), and expired valid_to
    (% 5 = 0); engine.relationships_as_of at the shared NOW anchor must
    keep exactly the (since-forever OR started) AND NOT expired set.
    NULL-handling in the as-of predicate is the part a wrong `<=` vs
    coalesce silently breaks — the oracle reproduces the validity rules
    arithmetically."""
    from datetime import datetime, timezone

    from alma_memory_spark.engine import AlmaSpark

    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    ents = nation.select(
        F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias("id"),
        F.col("n_name").alias("name"),
        F.lit("nation").alias("entity_type"),
        F.create_map().cast("map<string,string>").alias("properties"),
        F.to_timestamp(F.lit("2023-12-01 00:00:00")).alias("created_at"),
    ).unionByName(
        region.select(
            F.concat(F.lit("r"), F.col("r_regionkey").cast("string")).alias("id"),
            F.col("r_name").alias("name"),
            F.lit("region").alias("entity_type"),
            F.create_map().cast("map<string,string>").alias("properties"),
            F.to_timestamp(F.lit("2023-12-01 00:00:00")).alias("created_at"),
        )
    )
    k = F.col("n_nationkey")
    rels = nation.select(
        F.concat(F.lit("rel"), k.cast("string")).alias("id"),
        F.concat(F.lit("n"), k.cast("string")).alias("source_id"),
        F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("target_id"),
        F.lit("in_region").alias("relation_type"),
        F.create_map().cast("map<string,string>").alias("properties"),
        F.lit(1.0).alias("confidence"),
        F.to_timestamp(F.lit("2023-12-01 00:00:00")).alias("created_at"),
        F.when(k % 3 == 0, F.lit(None).cast("timestamp"))
        .when(k % 2 == 0, F.to_timestamp(F.lit("2024-01-01 00:00:00")))
        .otherwise(F.to_timestamp(F.lit("2024-03-01 00:00:00")))
        .alias("valid_from"),
        F.when(k % 5 == 0, F.to_timestamp(F.lit("2024-02-01 00:00:00")))
        .otherwise(F.lit(None).cast("timestamp"))
        .alias("valid_to"),
    )
    root = tempfile.mkdtemp(prefix="alma_graph_gate_")
    try:
        eng = AlmaSpark(spark, root)
        eng.store.append("graph_entities", ents)
        eng.store.append("graph_relationships", rels)
        at = datetime(2024, 2, 15, tzinfo=timezone.utc)
        live = eng.relationships_as_of(at)
        names = eng.store.read("graph_entities").select("id", "name")
        out = (
            live.join(names.withColumnRenamed("id", "source_id"), "source_id")
            .withColumnRenamed("name", "source_name")
            .join(
                names.withColumnRenamed("id", "target_id").withColumnRenamed(
                    "name", "target_name"
                ),
                "target_id",
            )
            .select("source_name", "target_name", "relation_type")
            .orderBy("source_name")
        )
        probe_plan("graph_asof_neighbors", "asof", out)
        rows = out.collect()
        return _tiny(spark, rows, out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


_RAW_COS = """
      list_sum(list_transform(range(1, len(embedding)+1), i -> embedding[i]::DOUBLE * q[i]))
      / (sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
         * sqrt(list_sum(list_transform(q, x -> x * x))))
"""


def _retrieve_e2e_oracle(qv_sql: str | None = None) -> str:
    from alma_memory_spark.plans.registry import _QV_SQL

    qv_sql = qv_sql or _QV_SQL
    return f"""
    WITH qv AS (SELECT {qv_sql} AS q),
    c AS (
      SELECT CAST(vec_id AS VARCHAR) AS id, vec_id, {_RAW_COS} AS sim
      FROM embeddings, qv
    ),
    top40 AS (
      SELECT * FROM (
        SELECT c.*, row_number() OVER (ORDER BY sim DESC, id ASC) AS ann_rank
        FROM c
      ) WHERE ann_rank <= 40
    ),
    scored AS (
      SELECT id, ann_rank,
             0.4 * sim
             + 0.3 * pow(0.5, (vec_id % 60) / 30.0)
             + 0.2 * 1.0
             + 0.1 * ((vec_id % 100) / 100.0) AS score
      FROM top40
    )
    SELECT id, round(score, 6) AS score
    FROM scored
    WHERE score >= 0.2
    ORDER BY score DESC, ann_rank ASC
    LIMIT 20
    """


def _serving_corpus(spark: SparkSession, sf_dir: str, anchor) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        F.col("vec_id").cast("string").alias("id"),
        F.lit("helena").alias("agent"),
        F.lit("p").alias("project_id"),
        F.lit("d").alias("domain"),
        F.concat(F.lit("fact "), F.col("vec_id").cast("string")).alias("fact"),
        F.lit("user_stated").alias("source"),
        ((F.col("vec_id") % 100) / F.lit(100.0)).alias("confidence"),
        F.timestamp_seconds(
            F.lit(anchor.timestamp()) - (F.col("vec_id") % 60) * 86400.0
        ).alias("last_verified"),
        F.lit(None).cast("string").alias("verification_status"),
        F.col("embedding"),
        F.lit(None).cast("map<string,string>").alias("metadata"),
    )


def _retrieve_mode_oracle() -> str:
    from alma_memory_spark.plans.registry import _QV_SQL

    # RECALL mode (operators/retrieval.py MODES): k=15 caller override,
    # min_confidence 0.5 as the score threshold, weights
    # (0.95, 0, 0, 0.05), exact_match_boost 3.0 -> sim > 0.9 scores x3,
    # sim > 0.8 scores x2 (1 + (B-1)/2).
    return f"""
    WITH qv AS (SELECT {_QV_SQL} AS q),
    c AS (
      SELECT CAST(vec_id AS VARCHAR) AS id, vec_id, {_RAW_COS} AS sim
      FROM embeddings, qv
    ),
    top30 AS (
      SELECT * FROM (
        SELECT c.*, row_number() OVER (ORDER BY sim DESC, id ASC) AS ann_rank
        FROM c
      ) WHERE ann_rank <= 30
    ),
    scored AS (
      SELECT id, ann_rank,
             (0.95 * sim + 0.05 * ((vec_id % 100) / 100.0))
             * (CASE WHEN sim > 0.9 THEN 3.0
                     WHEN sim > 0.8 THEN 2.0
                     ELSE 1.0 END) AS score
      FROM top30
    )
    SELECT id, round(score, 6) AS score
    FROM scored
    WHERE score >= 0.5
    ORDER BY score DESC, ann_rank ASC
    LIMIT 15
    """




def _retrieve_feedback_oracle() -> str:
    from alma_memory_spark.plans.registry import _QV_SQL

    # feedback per vec_id%4: 0 -> 'used' (fb=1 -> +0.15), 1 ->
    # 'thumbs_down' (fb=-1 -> +0), 2 -> 'ignored' (fb=0 -> +0.075),
    # 3 -> no feedback (score unchanged); blend w=0.15
    return f"""
    WITH qv AS (SELECT {_QV_SQL} AS q),
    c AS (
      SELECT CAST(vec_id AS VARCHAR) AS id, vec_id, {_RAW_COS} AS sim
      FROM embeddings, qv
    ),
    top40 AS (
      SELECT * FROM (
        SELECT c.*, row_number() OVER (ORDER BY sim DESC, id ASC) AS ann_rank
        FROM c
      ) WHERE ann_rank <= 40
    ),
    base AS (
      SELECT id, vec_id, ann_rank,
             0.4 * sim
             + 0.3 * pow(0.5, (vec_id % 60) / 30.0)
             + 0.2 * 1.0
             + 0.1 * ((vec_id % 100) / 100.0) AS score
      FROM top40
    ),
    fetched AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (ORDER BY score DESC, ann_rank ASC) AS rk
        FROM base WHERE score >= 0.2
      ) WHERE rk <= 20
    ),
    blended AS (
      SELECT id, ann_rank,
             CASE WHEN vec_id % 4 = 0 THEN 0.85 * score + 0.15
                  WHEN vec_id % 4 = 1 THEN 0.85 * score
                  WHEN vec_id % 4 = 2 THEN 0.85 * score + 0.075
                  ELSE score END AS fscore
      FROM fetched
    )
    SELECT id, round(fscore, 6) AS score
    FROM blended ORDER BY fscore DESC, ann_rank ASC LIMIT 20
    """


def _retrieve_ann_oracle() -> str:
    from alma_memory_spark.plans.registry import _QV_SQL

    # the IVF index rounds cosines to 6dp BEFORE ranking (the fused
    # Arrow kernel's determinism contract, operators/ann_index.py), so
    # the full-nprobe ANN serve equals the exact plan with round(sim,6)
    # applied before the candidate cut — everything downstream
    # (composite weights, threshold, top-k, ann_rank tiebreak) is the
    # same pipeline
    return f"""
    WITH qv AS (SELECT {_QV_SQL} AS q),
    c AS (
      SELECT CAST(vec_id AS VARCHAR) AS id, vec_id,
             round({_RAW_COS}, 6) AS sim
      FROM embeddings, qv
    ),
    top40 AS (
      SELECT * FROM (
        SELECT c.*, row_number() OVER (ORDER BY sim DESC, id ASC) AS ann_rank
        FROM c
      ) WHERE ann_rank <= 40
    ),
    scored AS (
      SELECT id, ann_rank,
             0.4 * sim
             + 0.3 * pow(0.5, (vec_id % 60) / 30.0)
             + 0.2 * 1.0
             + 0.1 * ((vec_id % 100) / 100.0) AS score
      FROM top40
    )
    SELECT id, round(score, 6) AS score
    FROM scored
    WHERE score >= 0.2
    ORDER BY score DESC, ann_rank ASC
    LIMIT 20
    """


#: second task of the r5 batch variant; its hash-embedded vector is a
#: SQL literal so the oracle can re-derive the whole pipeline for it
_BATCH_TASK_2 = "vector similarity memory recall"


def _batch_task2_qv_sql() -> str:
    from alma_memory_spark.embedding import hash_embed
    from alma_memory_spark.plans.registry import QUERY_VEC
    from alma_memory_spark.slice import sanitize_query

    vec = hash_embed(sanitize_query(_BATCH_TASK_2), len(QUERY_VEC))
    return "[" + ",".join(repr(v) for v in vec) + "]::DOUBLE[]"


def _retrieve_serving_oracle() -> str:
    return f"""
    SELECT 'e2e' AS variant, id, score FROM ({_retrieve_e2e_oracle()})
    UNION ALL
    SELECT 'recall', id, score FROM ({_retrieve_mode_oracle()})
    UNION ALL
    SELECT 'feedback', id, score FROM ({_retrieve_feedback_oracle()})
    UNION ALL
    SELECT 'ann', id, score FROM ({_retrieve_ann_oracle()})
    UNION ALL
    SELECT 'batch:q0', id, score FROM ({_retrieve_e2e_oracle()})
    UNION ALL
    SELECT 'batch:q1', id, score
    FROM ({_retrieve_e2e_oracle(_batch_task2_qv_sql())})
    """


@register("engine_retrieve_serving", _retrieve_serving_oracle())
def engine_retrieve_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE serving path through the real facade, all three variants over
    ONE seeded corpus + engine (merged r3 from engine_retrieve_e2e +
    engine_retrieve_mode_recall + engine_retrieve_feedback to fit the
    50-query correctness cap; the corpus now writes once instead of
    three times).

    'e2e' rows — AlmaSpark.retrieve() end-to-end (reference:
    alma/core.py:246-307 + retrieval/engine.py:275-374) with an
    injected fixed clock: sanitize -> HashEmbedder encode (qvec == the
    shared QUERY_VEC) -> one-job union plan -> vector top-2k candidates
    with explicit ann_rank -> composite 0.4/0.3/0.2/0.1 scoring -> 0.2
    threshold -> top-k -> MemorySlice. The oracle recomputes every
    stage in SQL.
    'recall' rows — mode-aware retrieval (reference:
    retrieval/engine.py:375-520 + modes.py RECALL): caller top_k=15
    overrides the mode default, weights (0.95 sim / 0.05 conf),
    min_confidence 0.5 as score threshold, exact-match boost x3 above
    sim 0.9 / x2 above 0.8 BEFORE threshold/top-k.
    'feedback' rows — retrieve(use_feedback=True) (reference:
    alma/retrieval/feedback.py:170-230): seeded used / thumbs_down /
    ignored signals aggregate to (pos-neg)/total and blend
    (1-w)*score + w*(fb+1)/2 at w=0.15 for exactly the memories with
    feedback. Because the same engine serves all the calls, this gate
    also proves the retrieval cache keys on (mode, top_k, use_feedback,
    use_ann) — a key that ignored any of them would replay the 'e2e'
    result.
    'batch:<qid>' rows (r5) — retrieve_batch([task1, task2]): BOTH
    tasks' full default-mode pipelines in ONE Spark job (candidate
    stage crossJoined over the qid dimension, per-qid threshold +
    top-k); each task's slice must equal its single-task retrieve(),
    and the oracle re-derives the complete composite pipeline per
    query vector.
    'ann' rows (r4) — retrieve(use_ann=True) SERVED FROM the persisted
    scope-aware IVF index (reference: the FAISS-IVF serving shape,
    sqlite_local.py:555-640) with nprobe covering every cell: the
    candidate stage is the index's pruned probe + broadcast hydration
    join, and the oracle replicates the index kernel's 6dp cosine
    rounding before the candidate cut — a wrong scope filter, a stale
    tombstone, a broken hydration join, or rank-order drift all
    hash-mismatch."""
    from datetime import datetime, timezone

    from alma_memory_spark.engine import AlmaSpark
    from alma_memory_spark.plans.registry import QUERY_TEXT

    anchor = datetime(2024, 2, 15, tzinfo=timezone.utc)
    emb = _t(spark, sf_dir, "embeddings")
    rows_df = _serving_corpus(spark, sf_dir, anchor)
    signal = (
        F.when(F.col("vec_id") % 4 == 0, "used")
        .when(F.col("vec_id") % 4 == 1, "thumbs_down")
        .when(F.col("vec_id") % 4 == 2, "ignored")
    )
    fb_df = emb.filter(F.col("vec_id") % 4 != 3).select(
        F.concat(F.lit("fb"), F.col("vec_id").cast("string")).alias("id"),
        F.col("vec_id").cast("string").alias("memory_id"),
        F.lit("domain_knowledge").alias("memory_type"),
        F.lit(None).cast("string").alias("query"),
        F.lit("helena").alias("agent"),
        F.lit("p").alias("project_id"),
        signal.alias("signal"),
        F.to_timestamp(F.lit("2024-02-01 00:00:00")).alias("timestamp"),
    )
    root = tempfile.mkdtemp(prefix="alma_serving_gate_")
    try:
        eng = AlmaSpark(spark, root, clock=lambda: anchor)
        # the two seeds append to DIFFERENT tables (independent table
        # locks) — overlap their write jobs
        from concurrent.futures import ThreadPoolExecutor

        append_pool = ThreadPoolExecutor(max_workers=2)
        with scope(spark, "stage:seed_appends"):
            w1 = append_pool.submit(
                carry(spark, eng.store.append), "domain_knowledge", rows_df
            )
            w2 = append_pool.submit(
                carry(spark, eng.store.append), "retrieval_feedback", fb_df
            )

        # the IVF build starts the moment the domain_knowledge append
        # commits (it reads only that table and writes under its own
        # uncommitted version dir — the r7 safety argument) and
        # overlaps the feedback append AND every retrieve below. The
        # pool is closed via shutdown(wait=True) in the enclosing
        # finally: a retrieve failing mid-gate must still JOIN the
        # build before the outer `finally: rmtree(root)` deletes the
        # dir the build writes into
        build_pool = ThreadPoolExecutor(max_workers=1)
        try:
            def _build():
                w1.result()
                with scope(spark, "stage:ivf_build"):
                    return eng.index_vectors("domain_knowledge", cent_every=50)

            f3 = build_pool.submit(carry(spark, _build))
            w1.result(), w2.result()
            append_pool.shutdown(wait=True)

            # the cache-separation property (mode/top_k/use_feedback in
            # the key) is proven by the HASHES: all three variants run
            # on one engine with distinct cache keys, so a key that
            # failed to separate would serve one variant's slice for
            # another and mismatch that variant's oracle rows. That
            # property holds regardless of call order, so all five
            # retrieve variants overlap below (r8 — the serial
            # e2e-first ordering kept the most expensive cold retrieve
            # OFF the thread pool and on the gate's critical path).
            def e2e_call():
              with scope(spark, "stage:e2e"):
                s = eng.retrieve(
                    QUERY_TEXT, agent="helena", project_id="p", top_k=20
                )
                return [
                    ("e2e", r["id"], round(float(r["score"]), 6))
                    for r in s.domain_knowledge
                ]

            def recall_call():
              with scope(spark, "stage:recall"):
                s = eng.retrieve(
                    QUERY_TEXT, agent="helena", project_id="p", top_k=15, mode="recall"
                )
                return [
                    ("recall", r["id"], round(float(r["score"]), 6))
                    for r in s.domain_knowledge
                ]

            def feedback_call():
              with scope(spark, "stage:feedback"):
                s = eng.retrieve(
                    QUERY_TEXT, agent="helena", project_id="p", top_k=20,
                    use_feedback=True,
                )
                return [
                    ("feedback", r["id"], round(float(r["score"]), 6))
                    for r in s.domain_knowledge
                ]

            # 'ann' serves the SAME retrieval from the scope-aware IVF
            # index with every cell probed — it joins the build future
            # INSIDE its thread, so the only work serialized behind the
            # build is the single ann retrieve (r8; previously the
            # whole ann+batch section waited on the build)
            def ann_call():
                rep = f3.result()
                assert rep["indexed"], rep
                with scope(spark, "stage:ann"):
                    s = eng.retrieve(
                        QUERY_TEXT, agent="helena", project_id="p", top_k=20,
                        use_ann=True, nprobe=rep["n_cells"],
                    )
                return [
                    ("ann", r["id"], round(float(r["score"]), 6))
                    for r in s.domain_knowledge
                ]

            def batch_call():
                with scope(spark, "stage:batch"):
                    bt = eng.retrieve_batch(
                        [QUERY_TEXT, _BATCH_TASK_2], agent="helena",
                        project_id="p", top_k=20,
                    )
                rows = []
                for qi, task in enumerate([QUERY_TEXT, _BATCH_TASK_2]):
                    rows += [
                        (f"batch:q{qi}", r["id"], round(float(r["score"]), 6))
                        for r in bt[task].domain_knowledge
                    ]
                return rows

            # every variant is a pure read on the cache-cold engine;
            # all five overlap (ann self-gates on the build)
            with ThreadPoolExecutor(max_workers=5) as pool:
                futs = [
                    pool.submit(carry(spark, c))
                    for c in (e2e_call, recall_call, feedback_call,
                              batch_call, ann_call)
                ]
                out = [row for f in futs for row in f.result()]
            rep = f3.result()
        finally:
            build_pool.shutdown(wait=True)
            append_pool.shutdown(wait=True)  # no-op when already down
        assert rep["indexed"], rep
        return _tiny(spark, out, "variant string, id string, score double")
    finally:
        shutil.rmtree(root, ignore_errors=True)
