"""Learning layer: outcomes -> heuristics / anti-patterns, write guard.

Reference semantics (re-expressed as distributed aggregations):

- Heuristic extraction (alma/learning/heuristic_extractor.py:110-342):
  group outcomes by (agent, task_type), cluster similar strategies, and
  per cluster emit a heuristic when n >= min_occurrences (3) and the
  cluster's confidence >= 0.5, with
  success_rate = successes / n and
  confidence = success_rate * (0.5 + 0.5 * min(n / 20, 1)).
  The reference's greedy first-match clustering is order-dependent; here
  a cluster is a connected component of the similarity graph inside one
  block, labelled by its minimum id (documented deviation: same clusters
  on transitive similarity, stable under parallelism).

- Anti-pattern creation (protocols.py:231-279): >= 2 failures with
  similar error (substring containment) -> AntiPattern with
  occurrence_count = n.

- Write guard (alma/learning/write_guard.py): a save is blocked when any
  of (task, strategy, error) matches a stored anti-pattern by normalized
  substring containment either way, or token overlap >= 0.45 of the
  pattern's tokens. Implemented as a broadcast join against the (small)
  anti-pattern set — a pre-write filter, not a per-row RPC.

Spark shape: edges never cross a block, so each extractor is ONE
groupBy(block).applyInArrow pass (`_block_clusters`): the kernel finds
the block's edges, closes them with a min-id union-find and emits the
clusters — no self-join, no join back, no second shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MIN_OCCURRENCES = 3
MIN_CONFIDENCE = 0.5
STRATEGY_SIM_THRESHOLD = 0.75  # embedding cosine (protocols.py similarity_threshold)
GUARD_TOKEN_OVERLAP = 0.45


def _norm(col: Column) -> Column:
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def _guard_tokens(col: Column) -> Column:
    """Tokens of >= 3 chars (write_guard.py _tokens)."""
    return F.array_distinct(
        F.filter(
            F.split(_norm(col), "[^a-z0-9_]+"),
            lambda t: F.length(t) >= 3,
        )
    )


def _content_id(prefix: str, *cols: str) -> Column:
    """Deterministic id from content: prefix + md5(cols joined by |)[:12]."""
    return F.concat(F.lit(prefix), F.substring(F.md5(F.concat_ws("|", *cols)), 1, 12))


def _block_clusters(
    df: DataFrame,
    block_cols: list[str],
    threshold: float | None,
    id_col: str = "id",
    embedding_col: str = "embedding",
    aggs: list | None = None,
    agg_schema: str = "",
    order: list | None = None,
) -> DataFrame:
    """ONE groupBy(block).applyInArrow pass. Per block the kernel links
    rows of different non-null ids — cosine of `embedding_col` >=
    threshold, or, when threshold is None, containment either way of the
    `err` column — and labels each row with the string-min id of its
    connected component (`cluster_id`; the row's own id without edges,
    null for a null id). A block with a null key has no edges, as an
    equi-join on it would match nothing. Without `aggs` the result is
    df's rows plus `cluster_id`; with them, one row per (block, cluster)
    of pyarrow hash aggregates (`agg_schema` declares them; rows are
    sorted by `order` first, for "first").

    Timestamps cross the Arrow boundary as epoch micros (unix_micros in,
    timestamp_micros out for the row form), so no value depends on
    pandas' datetime64[ns] range or the session time zone. The cosine is
    functions/vector.py's cosine_similarity done the same way: sequential
    double folds over the dimensions (never BLAS); 0.0 when a side is
    null, holds a null element or has zero norm; NULL (no edge) when the
    dimensions differ; NaN passes, as in Spark's ordering. Rows are
    compared in chunks, so a block's memory stays bounded."""
    ts = [f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampType)]
    inp = df.select(
        *[F.unix_micros(c).alias(c) if c in ts else F.col(c) for c in df.columns],
        F.col(id_col).cast("string").alias("_cid"),
    )
    keys = list(block_cols)
    if aggs is None:
        schema = T.StructType(
            [f for f in inp.schema.fields if f.name != "_cid"]
            + [T.StructField("cluster_id", T.StringType())]
        )
    else:
        schema = ", ".join(
            [f"`{k}` {inp.schema[k].dataType.simpleString()}" for k in keys] + [agg_schema]
        )
        names = keys + [f.split()[0] for f in agg_schema.split(",")]

    def cosine_pairs(emb, has_id):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        lens = pc.fill_null(pc.list_value_length(emb), -1).to_numpy()
        flat = pc.list_flatten(emb)
        vals = pc.fill_null(pc.cast(flat, pa.float64()), 0.0).to_numpy()
        size = np.maximum(lens, 0)
        end = np.cumsum(size)
        start = end - size
        nulls = np.concatenate([[0], np.cumsum(flat.is_null().to_numpy(zero_copy_only=False))])
        ok = (lens >= 0) & (nulls[end] == nulls[start])
        norm = np.zeros(len(lens))
        ii, jj = [np.zeros(0, np.int64)], [np.zeros(0, np.int64)]
        with np.errstate(all="ignore"):
            for d in np.unique(lens[ok]):
                r = np.flatnonzero(ok & (lens == d))
                V = vals[start[r, None] + np.arange(d)].T  # (dims, rows)
                acc = np.zeros(len(r))
                for t in range(d):
                    acc = acc + V[t] * V[t]
                norm[r] = np.sqrt(acc)
                pos = (norm[r] > 0) | np.isnan(norm[r])  # Spark: NaN > 0
                r, V = r[pos], V[:, pos]
                step = max(1, (1 << 20) // max(len(r), 1))
                for c0 in range(0, len(r), step):
                    c1 = min(c0 + step, len(r))
                    dot = np.zeros((c1 - c0, len(r)))
                    for t in range(d):
                        dot = dot + np.multiply.outer(V[t, c0:c1], V[t])
                    den = np.multiply.outer(norm[r[c0:c1]], norm[r])
                    cos = dot / den
                    hit = (den != 0) & (np.isnan(cos) | (cos >= threshold))
                    hit &= np.arange(c0, c1)[:, None] < np.arange(len(r))
                    a, b = np.nonzero(hit)
                    ii.append(r[a + c0])
                    jj.append(r[b])
        zero = np.flatnonzero(~((norm > 0) | np.isnan(norm)) & has_id)
        if len(zero) and 0.0 >= threshold:  # cos 0.0 links a zero row to all
            ii.append(np.full(len(lens), zero[0]))
            jj.append(np.arange(len(lens)))
        return zip(np.concatenate(ii).tolist(), np.concatenate(jj).tolist())

    def kernel(t):
        import numpy as np
        import pyarrow as pa

        cid = t["_cid"].to_pylist()
        pairs = []
        if all(t[k][0].is_valid for k in keys):
            if threshold is None:
                e = t["err"].to_pylist()
                pairs = [
                    (i, j)
                    for i in range(len(e))
                    for j in range(i + 1, len(e))
                    if e[i] is not None and e[j] is not None
                    and (e[j] in e[i] or e[i] in e[j])
                ]
            else:
                has_id = np.array([c is not None for c in cid])
                pairs = cosine_pairs(t[embedding_col].combine_chunks(), has_id)
        # sorted node list: the smaller index is the smaller string id,
        # so linking the larger root under the smaller keeps root = min id
        nodes = sorted({c for c in cid if c is not None})
        ix = {c: i for i, c in enumerate(nodes)}
        parent = list(range(len(nodes)))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for i, j in pairs:
            if cid[i] is not None and cid[j] is not None:
                a, b = find(ix[cid[i]]), find(ix[cid[j]])
                if a != b:
                    parent[max(a, b)] = min(a, b)
        label = [None if c is None else nodes[find(ix[c])] for c in cid]
        t = t.drop_columns(["_cid"]).append_column("cluster_id", pa.array(label, pa.string()))
        if aggs is None:
            return t
        r = (t.sort_by(order) if order else t).group_by(
            keys + ["cluster_id"], use_threads=False
        ).aggregate(aggs)
        got = [r[f"{c}_{fn}" if c else fn] for c, fn in aggs]  # pyarrow's names
        return pa.Table.from_arrays([r[k] for k in keys] + got, names)

    out = inp.groupBy(*keys).applyInArrow(kernel, schema)
    if aggs is not None:
        return out
    return out.select(
        *[F.timestamp_micros(c).alias(c) if c in ts else F.col(c) for c in out.columns]
    )


def cluster_by_similarity(
    df: DataFrame,
    key_cols: list[str],
    id_col: str = "id",
    embedding_col: str = "embedding",
    threshold: float = STRATEGY_SIM_THRESHOLD,
) -> DataFrame:
    """Deterministic similarity clustering within key_cols blocks: rows
    whose cosine >= threshold are linked, and each row's `cluster_id` is
    the string-min id of its connected component. Returns df +
    `cluster_id`. Cost is O(block^2) per block, not O(n^2); the blocks
    are the unit of parallelism."""
    return _block_clusters(df, key_cols, threshold, id_col, embedding_col)


def extract_heuristics(
    outcomes: DataFrame,
    min_occurrences: int = MIN_OCCURRENCES,
    min_confidence: float = MIN_CONFIDENCE,
    similarity_threshold: float = STRATEGY_SIM_THRESHOLD,
) -> DataFrame:
    """Batch heuristic extraction: per (project, agent, task_type,
    strategy-cluster): n, successes, success_rate, confidence; keep
    clusters passing the thresholds. Returns heuristic candidate rows
    (the reference's update-or-create then applies upsert-by-id).
    The representative is the lexicographic-min strategy: stable as the
    cluster grows across incremental learns (a min-row-id would shift)."""
    block = ["project_id", "agent", "task_type"]
    stats = _block_clusters(
        outcomes.filter(F.col("strategy_used").isNotNull()).select(
            *block, "id", "strategy_used", "timestamp", "embedding",
            F.when(F.col("success"), 1).otherwise(0).alias("success"),
        ),
        block,
        similarity_threshold,
        aggs=[
            ([], "count_all"),
            ("success", "sum"),
            ("strategy_used", "min"),
            ("timestamp", "max"),
            ("timestamp", "min"),
        ],
        agg_schema="occurrence_count long, success_count long, strategy string, "
        "last_validated long, created_at long",
    )
    n = F.col("occurrence_count")
    rate = F.col("success_count").cast("double") / n
    conf = rate * (F.lit(0.5) + F.lit(0.5) * F.least(n / F.lit(20.0), F.lit(1.0)))
    return (
        stats.select(
            *block,
            n,
            F.col("success_count").cast("int").alias("success_count"),
            rate.alias("success_rate"),
            conf.alias("confidence"),
            "strategy",
            F.timestamp_micros("last_validated").alias("last_validated"),
            F.timestamp_micros("created_at").alias("created_at"),
        )
        .filter(
            (F.col("occurrence_count") >= min_occurrences)
            & (F.col("confidence") >= min_confidence)
            & (F.col("success_rate") > 0.5)
        )
        .withColumn("condition", F.concat(F.lit("task type: "), F.col("task_type")))
        .withColumn("id", _content_id("heur_", *block, "strategy"))
    )


def extract_anti_patterns(outcomes: DataFrame, min_failures: int = 2) -> DataFrame:
    """Anti-pattern creation: failures whose errors are mutually similar
    (substring containment, protocols.py:424-429) grouped; >= 2 similar
    failures -> candidate. Containment clustering via normalized-prefix
    grouping would miss mid-string containment, so containment is tested
    pairwise within (project, agent) — failure sets are small — and, as
    it is not transitive, closed with connected components. The shortest
    error is the cluster's "core" pattern and stays stable as longer
    variants join (content-stable identity)."""
    fails = (
        outcomes.filter((~F.col("success")) & F.col("error_message").isNotNull())
        .select("project_id", "agent", "id", "strategy_used",
                _norm(F.col("error_message")).alias("err"), "timestamp")
        .withColumn("_len", F.length("err"))
    )
    stats = _block_clusters(
        fails,
        ["project_id", "agent"],
        None,
        aggs=[
            ([], "count_all"),
            ("strategy_used", "min"),
            ("err", "first"),
            ("timestamp", "max"),
            ("timestamp", "min"),
        ],
        agg_schema="occurrence_count long, pattern string, why_bad string, "
        "last_seen long, created_at long",
        order=[("_len", "ascending"), ("err", "ascending")],
    )
    return (
        stats.filter(F.col("occurrence_count") >= min_failures)
        .select(
            "project_id",
            "agent",
            F.col("occurrence_count").cast("int").alias("occurrence_count"),
            "pattern",
            "why_bad",
            F.timestamp_micros("last_seen").alias("last_seen"),
            F.timestamp_micros("created_at").alias("created_at"),
            _content_id("anti_", "project_id", "agent", "why_bad").alias("id"),
            F.lit(None).cast("string").alias("better_alternative"),
        )
    )


def write_guard_filter(
    candidates: DataFrame,
    anti_patterns: DataFrame,
    text_cols: list[str],
    pattern_col: str = "pattern",
) -> tuple[DataFrame, DataFrame]:
    """Split candidate rows into (allowed, blocked) against stored
    anti-patterns (write_guard.py semantics: normalized substring
    containment either way, or token overlap >= 0.45 of pattern tokens).
    Semi/anti joins on the hit condition against the broadcast pattern
    set: O(n * |patterns|) map-side, no shuffle of the candidate side."""
    pats = F.broadcast(
        anti_patterns.select(
            _norm(F.col(pattern_col)).alias("_ap_text"),
            _guard_tokens(F.col(pattern_col)).alias("_ap_toks"),
        )
    )
    blob = _norm(F.concat_ws("  ", *[F.coalesce(F.col(c), F.lit("")) for c in text_cols]))
    cand = candidates.withColumn("_blob", blob).withColumn(
        "_toks", _guard_tokens(F.col("_blob"))
    )
    overlap = F.size(F.array_intersect("_toks", "_ap_toks")).cast("double") / F.greatest(
        F.size("_ap_toks").cast("double"), F.lit(1.0)
    )
    hit = (
        F.col("_blob").contains(F.col("_ap_text"))
        | F.col("_ap_text").contains(F.col("_blob"))
        | (overlap >= GUARD_TOKEN_OVERLAP)
    )
    blocked = cand.join(pats, hit, "left_semi").select(*candidates.columns)
    allowed = cand.join(pats, hit, "left_anti").select(*candidates.columns)
    return allowed, blocked
