"""Ingestion: multi-format chat-export normalization, directory mining,
rule-based memory extraction — as DataFrame pipelines.

Reference (alma/ingestion/):
- normalizer.py:30-151 auto-detects 6 formats (Claude Code JSONL, Codex
  JSONL, Claude.ai JSON, ChatGPT JSON, Slack JSON, plain text /
  `> `-marked transcript) and normalizes to a transcript;
- file_miner.py:119,289-445 chunks files and classifies chunks into the
  five memory types;
- memory_extractor.py:373-493 scores text segments with marker rules,
  keeping type assignments with confidence >= 0.3.

Spark shape: format detection probes a small sample per file on the
driver (cheap; files are the unit of work), then each format maps to a
`spark.read.json/text` + per-format projection — the heavy lifting
(parse, explode, classify) is distributed. The rule classifier is pure
column expressions, not a UDF.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from alma_memory_spark.metrics import carry

TRANSCRIPT_SCHEMA = "source_file string, turn int, role string, text string"

def _line_order(df: DataFrame) -> DataFrame:
    """Deterministic per-line order keys for a file-source DataFrame:
    (_fp, _blk, _seq) = (file path, file block start offset, row id
    within the input partition). A bare monotonically_increasing_id
    ordering is partition-LAYOUT-dependent (the id embeds the partition
    number); (file, block offset, id) orders by byte position within
    each file, which is stable however Spark numbers or splits the
    scan. The file path is part of the key (ADVICE r7 #4): a normalizer
    handed a glob/directory gets a multi-file scan whose blocks from
    DIFFERENT files share _blk offsets — without _fp, turn numbering
    would interleave across files. Must be applied directly on the read
    result, before any shuffle."""
    return (
        df.withColumn("_fp", F.col("_metadata.file_path"))
        .withColumn("_blk", F.col("_metadata.file_block_start"))
        .withColumn("_seq", F.monotonically_increasing_id())
    )


def _assign_turns(df: DataFrame) -> DataFrame:
    """Sequential 1-based `turn` in file order, WITHOUT the global
    single-partition window the round-6 code used (VERDICT r6 #1 —
    `row_number().over(orderBy(monotonically_increasing_id()))` funnels
    every row of the file through one WindowExec partition, serializing
    a multi-GB transcript's ingest). Distributed shape: rank within
    each scan block (window keyed by `_blk` — blocks process in
    parallel), then add broadcast per-block offsets from a tiny
    count-per-block aggregate. The offset cumsum runs over a frame with
    one row per 128 MB scan block, so its single-partition window is
    bounded by construction; its constant key references a column
    because Spark 4's EliminateWindowPartitions strips foldable keys
    (see functions/window.py).

    Expects `_line_order` columns; consumes and drops them. Numbering
    restarts PER FILE (_fp partitions both the block rank and the
    offset cumsum — a multi-file glob numbers each file independently
    instead of interleaving, ADVICE r7 #4). `turn` numbers the rows
    PRESENT in `df` — filter first for post-filter numbering
    (Claude-Code JSONL), number first for raw line numbers (plain
    text / transcript)."""
    w_blk = Window.partitionBy("_fp", "_blk").orderBy("_seq")
    ranked = df.withColumn("_i", F.row_number().over(w_blk))
    counts = df.groupBy("_fp", "_blk").agg(F.count(F.lit(1)).alias("_n"))
    cum_w = (
        Window.partitionBy("_fp")
        .orderBy("_blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = counts.withColumn(
        "_off", F.coalesce(F.sum("_n").over(cum_w), F.lit(0))
    ).select("_fp", "_blk", "_off")
    return (
        ranked.join(F.broadcast(offs), ["_fp", "_blk"])
        .withColumn("turn", (F.col("_off") + F.col("_i")).cast("int"))
        .drop("_i", "_off", "_fp", "_blk", "_seq")
    )


def detect_format(path: str, sample_bytes: int = 64 * 1024) -> str:
    """Schema-probe format detection (mirrors normalizer.py:30-151
    semantics on a bounded sample instead of the whole file)."""
    with open(path, encoding="utf-8", errors="replace") as f:
        content = f.read(sample_bytes)
    if not content.strip():
        return "plain_text"
    lines = content.split("\n")
    if sum(1 for ln in lines if ln.strip().startswith(">")) >= 3:
        return "transcript"
    head = content.strip()[:1]
    if head not in ("{", "[") and not path.endswith((".json", ".jsonl")):
        return "plain_text"
    parsed = []
    for ln in lines[:20]:
        ln = ln.strip()
        if not ln:
            continue
        try:
            parsed.append(json.loads(ln))
        except json.JSONDecodeError:
            parsed.append(None)
    objs = [p for p in parsed if isinstance(p, dict)]
    if objs and any(o.get("type") in ("human", "user", "assistant") for o in objs):
        return "claude_code_jsonl"
    if objs and any(o.get("type") == "session_meta" for o in objs):
        return "codex_jsonl"
    try:
        data = json.loads(content)
    except json.JSONDecodeError:
        return "plain_text"
    if isinstance(data, dict) and ("messages" in data or "chat_messages" in data):
        return "claude_ai_json"
    if isinstance(data, dict) and "mapping" in data:
        return "chatgpt_json"
    if isinstance(data, list) and data:
        first = data[0]
        if isinstance(first, dict) and any(
            i.get("type") == "message" for i in data[:5] if isinstance(i, dict)
        ):
            return "slack_json"
        if isinstance(first, dict) and (
            "chat_messages" in first or "messages" in first or "role" in first or "sender" in first
        ):
            return "claude_ai_json"
    return "plain_text"


def _norm_claude_code(spark: SparkSession, path: str) -> DataFrame:
    df = spark.read.json(path)
    cols = df.columns
    text = (
        F.col("message.content").cast("string")
        if "message" in cols
        else F.col("content").cast("string")
        if "content" in cols
        else F.col("text")
    )
    role = F.col("type")
    return _assign_turns(
        _line_order(df)
        .filter(F.col("type").isin("human", "user", "assistant"))
        .select(
            F.lit(path).alias("source_file"),
            "_fp",
            "_blk",
            "_seq",
            role.alias("role"),
            text.alias("text"),
        )
    ).select("source_file", "turn", "role", "text")


def _norm_driver_json(spark: SparkSession, path: str, fmt: str) -> DataFrame:
    """Claude.ai / ChatGPT / Slack exports are single nested JSON
    documents: parse on the driver (one file = one doc), emit rows.
    Distribution comes from processing MANY files in parallel via
    normalize_directory, not from splitting one document."""
    with open(path, encoding="utf-8", errors="replace") as f:
        data = json.load(f)
    rows: list[tuple[str, int, str, str]] = []

    def add(role, text):
        if text and str(text).strip():
            rows.append((path, len(rows) + 1, str(role or "unknown"), str(text)))

    if fmt == "claude_ai_json":
        convs = data if isinstance(data, list) else [data]
        for conv in convs:
            msgs = conv.get("chat_messages") or conv.get("messages") or []
            for m in msgs:
                content = m.get("text") or m.get("content")
                if isinstance(content, list):
                    content = " ".join(
                        c.get("text", "") if isinstance(c, dict) else str(c)
                        for c in content
                    )
                add(m.get("sender") or m.get("role"), content)
    elif fmt == "chatgpt_json":
        mapping = data.get("mapping", {})
        nodes = sorted(
            (v for v in mapping.values() if isinstance(v, dict)),
            key=lambda v: (v.get("message") or {}).get("create_time") or 0.0,
        )
        for node in nodes:
            msg = node.get("message") or {}
            parts = ((msg.get("content") or {}).get("parts")) or []
            add(
                (msg.get("author") or {}).get("role"),
                " ".join(str(p) for p in parts if isinstance(p, (str, int, float))),
            )
    elif fmt == "slack_json":
        for item in data:
            if isinstance(item, dict) and item.get("type") == "message":
                add(item.get("user") or "user", item.get("text"))
    from alma_memory_spark.session import tiny_df

    return tiny_df(spark, rows, TRANSCRIPT_SCHEMA)


def _norm_text(spark: SparkSession, path: str, transcript: bool) -> DataFrame:
    # turn = raw line number (assigned BEFORE the emptiness/marker
    # filter, so filtered-out lines leave gaps — reference semantics)
    df = _assign_turns(
        _line_order(spark.read.text(path)).withColumn("source_file", F.lit(path))
    )
    if transcript:
        df = df.filter(F.col("value").startswith(">"))
        text = F.regexp_replace(F.col("value"), r"^>\s*", "")
    else:
        df = df.filter(F.length(F.trim("value")) > 0)
        text = F.col("value")
    return df.select(
        "source_file", "turn", F.lit("user").alias("role"), text.alias("text")
    )


def normalize_file(spark: SparkSession, path: str) -> DataFrame:
    """One file -> normalized transcript rows (source_file, turn, role,
    text)."""
    fmt = detect_format(path)
    if fmt in ("claude_code_jsonl", "codex_jsonl"):
        return _norm_claude_code(spark, path)
    if fmt in ("claude_ai_json", "chatgpt_json", "slack_json"):
        return _norm_driver_json(spark, path, fmt)
    return _norm_text(spark, path, transcript=(fmt == "transcript"))


def _source_file_expr(paths: list[str]):
    """source_file for a MULTI-path scan: `_metadata.file_path` is a
    URI (file://...), so map its basename back to the caller's exact
    path string. Basenames are unique within one directory listing.

    The URI form percent-encodes spaces and other reserved characters
    (ADVICE r8 #2: a name with a space arrived as `%20` and missed the
    map, nulling source_file and reclassifying transcripts). Decode
    before the lookup: `url_decode` is form-decoding ('+' -> space),
    while a URI path keeps literal '+' unescaped — escaping '+' to
    '%2B' first makes the composition exact percent-decoding. Every
    %-sequence in `_fp` is well-formed (Spark produced the URI), so
    url_decode cannot throw."""
    bases = [os.path.basename(p) for p in paths]
    if len(set(bases)) != len(bases):
        # only reachable if a caller batches across directories
        raise ValueError(
            "batched normalization requires unique basenames per batch"
        )
    pairs = []
    for p in paths:
        pairs += [F.lit(os.path.basename(p)), F.lit(p)]
    base = F.element_at(F.split(F.col("_fp"), "/"), -1)
    decoded = F.url_decode(F.regexp_replace(base, r"\+", "%2B"))
    return F.element_at(F.create_map(*pairs), decoded)


def _norm_jsonl_batch(spark: SparkSession, paths: list[str]) -> DataFrame:
    """ALL Claude-Code/Codex JSONL exports in ONE multi-path scan —
    turn numbering restarts per file via the (_fp, _blk) block keys.

    Text-column precedence is per FILE, matching the per-file path
    (ADVICE r8 #3): the file's own schema decides message.content ->
    content -> text, so a claude-code row with a null message.content
    must NOT fall through to a sibling file's top-level content column.
    Per-file column presence is a map-side-combinable `max(isNotNull)`
    aggregate over the same scan (one row per file), broadcast back.

    If the batch's merged schema widens `message` away from a struct
    (one file has a string `message`), the struct field access the
    per-file path used is inexpressible on the merged frame — fall
    back to per-file scans for correctness (rare mixed batch)."""
    from pyspark.sql import types as T

    df = spark.read.json(paths)
    cols = df.columns
    msg_field = next((f for f in df.schema.fields if f.name == "message"), None)
    has_msg_content = (
        msg_field is not None
        and isinstance(msg_field.dataType, T.StructType)
        and "content" in msg_field.dataType.fieldNames()
    )
    if msg_field is not None and not has_msg_content:
        out = _norm_claude_code(spark, paths[0])
        for p in paths[1:]:
            out = out.unionByName(_norm_claude_code(spark, p))
        return out
    exprs: list = []  # (presence flag expr, text expr) in precedence order
    if has_msg_content:
        exprs.append((F.col("message").isNotNull(), F.col("message.content").cast("string")))
    if "content" in cols:
        exprs.append((F.col("content").isNotNull(), F.col("content").cast("string")))
    if "text" in cols:
        exprs.append((F.lit(True), F.col("text").cast("string")))
    if not exprs:
        # no recognizable text column anywhere in the batch — surface
        # the same missing-column error the per-file path raised
        exprs = [(F.lit(True), F.col("text").cast("string"))]
    lo = _line_order(df)
    if len(exprs) > 1:
        pres = lo.groupBy("_fp").agg(
            *[F.max(flag).alias(f"_has{i}") for i, (flag, _) in enumerate(exprs[:-1])]
        )
        lo = lo.join(F.broadcast(pres), "_fp")
        text = exprs[-1][1]
        for i in range(len(exprs) - 2, -1, -1):
            text = F.when(F.col(f"_has{i}"), exprs[i][1]).otherwise(text)
    else:
        text = exprs[0][1]
    return _assign_turns(
        lo.filter(F.col("type").isin("human", "user", "assistant")).select(
            _source_file_expr(paths).alias("source_file"),
            "_fp",
            "_blk",
            "_seq",
            F.col("type").alias("role"),
            text.alias("text"),
        )
    ).select("source_file", "turn", "role", "text")


def _norm_text_batch(
    spark: SparkSession, paths: list[str], transcript_paths: set[str]
) -> DataFrame:
    """ALL plain-text/transcript files in ONE multi-path scan; the
    per-file transcript flag selects the line filter and `> ` strip
    per row. Turns number raw lines BEFORE the filter (gap semantics),
    per file."""
    lo = _line_order(spark.read.text(paths)).withColumn(
        "source_file", _source_file_expr(paths)
    )
    df = _assign_turns(lo)
    is_tr = F.col("source_file").isin(*transcript_paths) if transcript_paths else F.lit(False)
    kept = df.filter(
        F.when(is_tr, F.col("value").startswith(">")).otherwise(
            F.length(F.trim("value")) > 0
        )
    )
    text = F.when(
        is_tr, F.regexp_replace(F.col("value"), r"^>\s*", "")
    ).otherwise(F.col("value"))
    return kept.select(
        "source_file", "turn", F.lit("user").alias("role"), text.alias("text")
    )


def normalize_directory(spark: SparkSession, directory: str) -> DataFrame:
    """Normalize every file in a directory into one transcript
    DataFrame.

    Batched dispatch (r8): format detection stays per-file on the
    driver (bounded 64 KB sample), but the distributed reads group by
    format FAMILY — all JSONL exports in one multi-path scan, all
    plain-text/transcript files in another — with per-file turn
    numbering guaranteed by the (_fp, _blk) block keys. A directory of
    a million exports schedules two scans, not a million per-file
    read + window + offset-aggregate jobs (the pre-r8 shape).
    Driver-parsed nested-JSON formats (Claude.ai/ChatGPT/Slack: one
    document = one file, rows emitted driver-side) remain per-file by
    design. The two batched plans' schema-inference jobs overlap via
    the builder pool."""
    files = [
        os.path.join(directory, name)
        for name in sorted(os.listdir(directory))
        if os.path.isfile(os.path.join(directory, name))
    ]
    if not files:
        return spark.createDataFrame([], TRANSCRIPT_SCHEMA)
    fmt = {p: detect_format(p) for p in files}
    jsonl = [p for p in files if fmt[p] in ("claude_code_jsonl", "codex_jsonl")]
    textish = [p for p in files if fmt[p] in ("plain_text", "transcript")]
    djson = [
        p for p in files
        if fmt[p] in ("claude_ai_json", "chatgpt_json", "slack_json")
    ]
    from concurrent.futures import ThreadPoolExecutor

    builders = []
    if jsonl:
        builders.append(lambda: _norm_jsonl_batch(spark, jsonl))
    if textish:
        builders.append(
            lambda: _norm_text_batch(
                spark, textish,
                {p for p in textish if fmt[p] == "transcript"},
            )
        )
    builders += [
        (lambda p=p: _norm_driver_json(spark, p, fmt[p])) for p in djson
    ]
    with ThreadPoolExecutor(max_workers=min(8, len(builders))) as pool:
        parts = [
            f.result() for f in [pool.submit(carry(spark, b)) for b in builders]
        ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# chunking + rule classification (file miner / memory extractor)
# ---------------------------------------------------------------------------

CHUNK_CHARS = 1000
CHUNK_OVERLAP = 100

# marker-rule vocabularies (memory_extractor.py approach: scored markers
# per memory type; confidence = matched-marker fraction, keep >= 0.3)
TYPE_MARKERS = {
    "heuristic": ["when", "always", "works", "should", "if you", "best way", "strategy"],
    "anti_pattern": ["never", "avoid", "don't", "do not", "bad idea", "fails", "broken"],
    "user_preference": ["prefer", "i like", "i want", "please use", "style", "format"],
    "domain_knowledge": ["is a", "consists", "contains", "uses", "the system", "architecture", "defined"],
}
MIN_EXTRACT_CONFIDENCE = 0.3


def chunk_text_df(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Split texts into overlapping character chunks — a pure column
    expression (sequence + substring), no UDF."""
    step = CHUNK_CHARS - CHUNK_OVERLAP
    starts = F.sequence(
        F.lit(1), F.greatest(F.length(text_col) - CHUNK_OVERLAP, F.lit(1)), F.lit(step)
    )
    chunks = F.transform(starts, lambda s: F.col(text_col).substr(s, F.lit(CHUNK_CHARS)))
    return df.withColumn("chunk", F.explode(chunks)).drop(text_col)


def classify_chunks(df: DataFrame, chunk_col: str = "chunk") -> DataFrame:
    """Marker-rule classification into memory types with confidence.
    Adds (memory_type, extract_confidence); rows below the 0.3 threshold
    get memory_type = NULL (callers filter). Column expressions only."""
    low = F.lower(F.col(chunk_col))
    scores = {}
    for mtype, markers in TYPE_MARKERS.items():
        hits = None
        for m in markers:
            h = F.when(low.contains(m), 1).otherwise(0)
            hits = h if hits is None else hits + h
        scores[mtype] = hits.cast("double") / float(len(markers))
    best_score = None
    for s in scores.values():
        best_score = s if best_score is None else F.greatest(best_score, s)
    best_type = None
    expr = F.lit(None).cast("string")
    for mtype, s in reversed(list(scores.items())):
        expr = F.when(s == best_score, F.lit(mtype)).otherwise(expr)
    best_type = expr
    conf = F.least(best_score * 2.0, F.lit(1.0))  # 50%+ markers -> confidence 1
    return df.withColumn(
        "extract_confidence", F.round(conf, 6)
    ).withColumn(
        "memory_type",
        F.when(F.col("extract_confidence") >= MIN_EXTRACT_CONFIDENCE, best_type),
    )


def mine_directory(spark: SparkSession, directory: str) -> DataFrame:
    """ingest_directory: normalize -> chunk -> classify; returns rows
    ready for per-type writes (file_miner.py:289-445)."""
    transcript = normalize_directory(spark, directory)
    docs = transcript.groupBy("source_file").agg(
        F.concat_ws("\n", F.collect_list("text")).alias("text")
    )
    chunks = chunk_text_df(docs)
    return classify_chunks(chunks).filter(F.col("memory_type").isNotNull())


def ingest_directory_to_store(
    spark: SparkSession,
    directory: str,
    store,
    agent: str = "miner",
    project_id: str = "ingested",
    dim: int | None = None,
) -> dict[str, int]:
    """Full ingestion pipeline: mine -> write-time embedding via the
    Arrow-batched encode UDF (embeddings are computed DISTRIBUTED, per
    batch, never per-row on the driver) -> per-type appends into the
    store. Returns rows written per memory type.

    This is the 100 TB entry point: every stage (normalize is per-file,
    chunk/classify/encode are column/pandas expressions, writes are
    partitioned appends) parallelizes with the file count."""
    from alma_memory_spark.embedding import DEFAULT_DIM, encode_udf

    dim = dim or DEFAULT_DIM
    mined = mine_directory(spark, directory).withColumn(
        "embedding", encode_udf(dim)(F.col("chunk"))
    )
    mined = mined.withColumn(
        "id", F.concat(F.lit("mined_"), F.substring(F.md5(F.col("chunk")), 1, 12))
    ).withColumn("now", F.current_timestamp())
    written: dict[str, int] = {}

    dk = mined.filter(F.col("memory_type") == "domain_knowledge").select(
        "id",
        F.lit(agent).alias("agent"),
        F.lit(project_id).alias("project_id"),
        F.lit("mined").alias("domain"),
        F.col("chunk").alias("fact"),
        F.lit("file_mining").alias("source"),
        F.col("extract_confidence").alias("confidence"),
        F.col("now").alias("last_verified"),
        F.lit(None).cast("string").alias("verification_status"),
        "embedding",
        F.create_map(F.lit("source_file"), F.col("source_file")).alias("metadata"),
    )
    n = dk.count()
    if n:
        store.append("domain_knowledge", dk)
    written["domain_knowledge"] = n

    heur = mined.filter(F.col("memory_type") == "heuristic").select(
        "id",
        F.lit(agent).alias("agent"),
        F.lit(project_id).alias("project_id"),
        F.lit("mined from files").alias("condition"),
        F.col("chunk").alias("strategy"),
        F.col("extract_confidence").alias("confidence"),
        F.lit(1).alias("occurrence_count"),
        F.lit(1).alias("success_count"),
        F.col("now").alias("last_validated"),
        F.col("now").alias("created_at"),
        F.lit(None).cast("string").alias("verification_status"),
        "embedding",
        F.create_map(F.lit("source_file"), F.col("source_file")).alias("metadata"),
    )
    n = heur.count()
    if n:
        store.append("heuristics", heur)
    written["heuristics"] = n

    ap = mined.filter(F.col("memory_type") == "anti_pattern").select(
        "id",
        F.lit(agent).alias("agent"),
        F.lit(project_id).alias("project_id"),
        F.col("chunk").alias("pattern"),
        F.lit("mined warning").alias("why_bad"),
        F.lit(None).cast("string").alias("better_alternative"),
        F.lit(1).alias("occurrence_count"),
        F.col("now").alias("last_seen"),
        F.col("now").alias("created_at"),
        F.lit(None).cast("string").alias("verification_status"),
        "embedding",
        F.create_map(F.lit("source_file"), F.col("source_file")).alias("metadata"),
    )
    n = ap.count()
    if n:
        store.append("anti_patterns", ap)
    written["anti_patterns"] = n
    return written
