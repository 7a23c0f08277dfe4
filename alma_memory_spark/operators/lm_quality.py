"""Statistical language-model quality scoring (CCNet shape).

CCNet (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data") scores each document by its perplexity
under a KenLM model trained on a trusted corpus and filters by
percentile — the standard statistical quality gate in LLM data
pipelines alongside the rule-based C4/Gopher filters. What ships here
is the full ladder, exact in DataFrame ops: add-one unigram/bigram
models, order-generic stupid backoff up to the 5-gram KenLM shape
(Brants et al. 2007 — the count-only scheme built FOR distributed
training), the percentile tail filter, head/middle/tail bucketing,
and CCNet's per-language structure via `group_col` (one model, floor
and tercile set per language from one shared count shuffle). A real
KenLM scorer would slot in as an Arrow-batched kernel at the same
call sites, like the embedding/cross-encoder env boundaries.

Scale shape: training is one map-side-combinable n-gram count shuffle;
scoring is explode -> broadcast-join the (bounded) log-prob table ->
one per-doc aggregation. The corpus is never joined to itself and the
model table broadcasts — the same discipline as the BM25/TF-IDF plans
in operators/text_search.py. Self-training on raw web text has an
unbounded typo/URL vocabulary, so the broadcast table is boundable at
build time (`top_v`): keep the top-V n-grams by count, everything else
scores at the smoothing floor — the standard vocabulary-truncation
trade, a build knob, off by default for trusted reference corpora.

Determinism: probabilities derive from exact integer counts; the only
float steps are one IEEE division, ln() (engine libm, agrees to ~1
ulp — rounded to 10 dp before use, the codebase's standard float
boundary), and the per-doc mean, whose sum runs in DECIMAL so it is
order-independent under any partitioning. The
'lmq'/'lmq2'/'lmq3'/'lmq5'/'lmql:*'/'lmbkt:*'/'lmtail*' gate rows
hash-match a full DuckDB replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from alma_memory_spark.functions import text as X

__all__ = [
    "bigram_lm",
    "bigram_quality_scores",
    "kenlm_scores",
    "lm_buckets",
    "lm_quality_scores",
    "lm_tail_ids",
    "ngram_backoff_lm",
    "ngram_backoff_scores",
    "stupid_backoff_lm",
    "stupid_backoff_scores",
    "unigram_lm",
]


def _cap_top_v(counts: DataFrame, top_v: int | None, order_cols) -> DataFrame:
    """Bound a model table to its top_v highest-count rows (ties broken
    by the n-gram itself, so the kept set is deterministic). top_v is a
    BUILD KNOB constant — the TakeOrdered here heaps a bounded k per
    task, unlike a corpus-proportional k (the lm_tail_ids lesson)."""
    if top_v is None:
        return counts
    return counts.orderBy(F.desc("cnt"), *order_cols).limit(top_v)


def unigram_lm(docs: DataFrame, text_col: str = "text",
               top_v: int | None = None,
               group_col: str | None = None):
    """(lm, stats): add-one-smoothed unigram log-probabilities over the
    corpus tokens — lm = (token, logp) with
    logp = round(ln((count + 1) / (total + vocab)), 10) — plus the
    one-row stats frame (total, vocab) the OOV floor derives from.
    One count shuffle; `top_v` bounds the broadcastable lm table for
    raw-web self-training (dropped tokens score at the OOV floor —
    stats stay full-corpus so the floor itself is unchanged).

    `group_col` (e.g. a language column) trains ONE MODEL PER GROUP —
    the actual CCNet structure (one KenLM per language, perplexity
    always within-language): lm gains the group column in its key,
    stats has one row per group, and the per-group totals/vocabs give
    each group its own OOV floor. Still one count shuffle (the group
    joins the grouping key); with top_v the per-group cap runs as a
    model-scale row_number window instead of a global TakeOrdered."""
    keys = [group_col] if group_col else []
    toks = docs.select(
        *keys, F.explode(X.ws_tokens(text_col)).alias("token")
    )
    counts = toks.groupBy(*keys, "token").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    if group_col:
        stats = counts.groupBy(group_col).agg(
            F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("vocab")
        )
        if top_v is not None:
            from pyspark.sql import Window

            w = Window.partitionBy(group_col).orderBy(
                F.desc("cnt"), F.asc("token")
            )
            counts = (
                counts.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= top_v)
                .drop("_rn")
            )
        lm = counts.join(F.broadcast(stats), group_col)
    else:
        stats = counts.agg(
            F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("vocab")
        )
        lm = _cap_top_v(counts, top_v, [F.asc("token")]).crossJoin(
            F.broadcast(stats)
        )
    lm = lm.select(
        *keys,
        "token",
        F.round(
            F.log(
                (F.col("cnt") + 1).cast("double")
                / (F.col("total") + F.col("vocab")).cast("double")
            ),
            10,
        ).alias("logp"),
    )
    return lm, stats


def lm_quality_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lm: DataFrame | None = None,
    stats: DataFrame | None = None,
    group_col: str | None = None,
) -> DataFrame:
    """(id, n_tokens, score): mean token log-probability per document —
    higher = more typical of the training corpus (the CCNet quality
    axis; perplexity = exp(-score)). Defaults to self-training on
    `docs` (CCNet trains on the target-domain corpus); pass a
    prebuilt (lm, stats) PAIR to score against a trusted reference
    corpus. Unseen tokens take the smoothing floor
    ln(1 / (total + vocab)). The per-doc sum runs in DECIMAL(28,10)
    so the mean is bit-stable under any partitioning.

    EVERY input doc gets a row: empty/whitespace-only documents (zero
    tokens) come back with n_tokens = 0 and score = NULL — they would
    otherwise vanish from the explode and silently bypass any
    downstream tail filter or score join.

    `group_col` (e.g. a language column on docs) scores each doc
    under ITS GROUP'S model — the CCNet per-language structure
    (Wenzek et al. 2020 train one KenLM per language and always
    compare perplexities within-language). The output keeps the
    group column and each group applies its own OOV floor. A doc
    whose group has NO model row at all (possible only with a
    prebuilt per-group lm) gets score = NULL — scoring it against
    another language's model would be the exact cross-language
    comparison CCNet's design exists to avoid."""
    if (lm is None) != (stats is None):
        raise ValueError(
            "lm and stats must be passed together (stats carries the "
            "total/vocab the OOV floor derives from); got "
            f"lm={'set' if lm is not None else None}, "
            f"stats={'set' if stats is not None else None}"
        )
    if lm is None:
        lm, stats = unigram_lm(docs, text_col, group_col=group_col)
    keys = [group_col] if group_col else []
    floor = F.round(
        F.log(1.0 / (F.col("total") + F.col("vocab")).cast("double")), 10
    )
    toks = docs.select(
        F.col(id_col), *keys,
        F.explode(X.ws_tokens(text_col)).alias("token"),
    )
    joined = toks.join(F.broadcast(lm), [*keys, "token"], "left")
    if group_col:
        joined = joined.join(F.broadcast(stats), group_col, "left")
    else:
        joined = joined.crossJoin(F.broadcast(stats))
    scored = joined.select(
        id_col, *keys,
        F.when(
            F.col("total").isNotNull(), F.coalesce("logp", floor)
        ).alias("lp"),
    )
    agg = scored.groupBy(id_col, *keys).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(
            F.sum(F.col("lp").cast("decimal(28,10)")).cast("double")
            / F.count("lp"),
            6,
        ).alias("score"),
    )
    # zero-token docs never reach the explode — emit them from a
    # narrow filtered scan (no join) so the output covers every input
    empties = docs.filter(
        F.coalesce(F.size(X.ws_tokens(text_col)), F.lit(0)) <= 0
    ).select(
        F.col(id_col), *keys,
        F.lit(0).cast("long").alias("n_tokens"),
        F.lit(None).cast("double").alias("score"),
    )
    return agg.unionByName(empties)


def lm_tail_ids(
    scores: DataFrame,
    frac: float = 0.1,
    id_col: str = "doc_id",
    score_col: str = "score",
    method: str = "approx",
    accuracy: int = 10000,
    group_col: str | None = None,
) -> DataFrame:
    """Ids of the lowest-`frac` fraction of documents by LM score —
    CCNet's tail bucket (candidates to drop or down-weight). NULL
    scores (zero-token docs) are never in the tail: they carry no LM
    evidence either way (drop them with their own rule if desired).

    method='approx' (the at-scale default): the cutoff is
    `percentile_approx(score, frac, accuracy)` — a mergeable GK
    sketch whose per-partition state is O(accuracy), aggregated
    tree-wise; no count() action, no corpus-proportional heap, and
    the whole thing stays one lazy plan (cutoff agg -> broadcast ->
    tie-inclusive <= filter). Rank error is bounded by n/accuracy;
    when n <= accuracy the sketch holds every value and the cutoff
    is EXACT (how the oracle gates it at test SFs).

    method='exact2': the EXACT cutoff (identical result to 'exact' and
    the same rank-replay oracle) via two-pass distributed selection —
    pass 1 histograms the scores into `buckets` fixed-width bins (one
    map-side-combinable agg; the B-row histogram comes to the driver,
    never data), locates the bin containing rank k from the cumulative
    counts, then pass 2 runs the bottom-(k - below) TakeOrdered over
    ONLY that bin's rows — the heap is bounded by the bin occupancy
    (~n/B expected) instead of k. Worst case (every score equal: one
    bin holds everything) degrades to 'exact'; real LM-score
    distributions spread. The scale-clean EXACT option when the
    sketch's bounded rank error is not acceptable.

    method='exact': the cutoff is the max score among the bottom-k
    rows (k = floor(frac * n)) via a TakeOrdered bottom-k heap —
    bit-exact against a rank-based SQL replay, but k grows with the
    corpus, so every partition heaps k rows and the driver merges
    them: a single-point funnel at production frac. Retained for
    bounded-SF oracle replay only. Both exact paths run count()/agg
    actions — materialize `scores` first (localCheckpoint) or the
    scores DAG re-executes per action.

    Boundary ties are INCLUDED (score <= cutoff) on every path, which
    keeps the result deterministic under any partition layout."""
    if frac <= 0:
        return scores.select(id_col).limit(0)
    if group_col is not None:
        # per-group tail (CCNet drops the tail per LANGUAGE, never
        # pooled): one per-group percentile sketch, broadcast back on
        # the group key; NULL-group rows never match the join, and a
        # NULL cut comparison is NULL, so they are never in the tail.
        # Only the sketch path distributes per-group (the exact paths
        # exist for bounded-SF oracle replay, which gates the global
        # form).
        if method != "approx":
            raise ValueError(
                "group_col requires method='approx' (the at-scale "
                f"sketch path); got {method!r}"
            )
        cut = scores.groupBy(group_col).agg(
            F.percentile_approx(
                score_col, F.lit(frac), F.lit(accuracy)
            ).alias("cut")
        )
        return (
            scores.join(F.broadcast(cut), group_col, "left")
            .filter(F.col(score_col) <= F.col("cut"))
            .select(id_col)
        )
    if method == "approx":
        cutoff = scores.agg(
            F.percentile_approx(score_col, F.lit(frac), F.lit(accuracy))
            .alias("cut")
        )
    elif method == "exact":
        n = scores.filter(F.col(score_col).isNotNull()).count()
        k = int(frac * n)
        if k <= 0:
            return scores.select(id_col).limit(0)
        cutoff = (
            scores.select(score_col)
            .filter(F.col(score_col).isNotNull())
            .orderBy(F.asc(score_col))
            .limit(k)
            .agg(F.max(score_col).alias("cut"))
        )
    elif method == "exact2":
        cutoff = _selection_cutoff(scores, frac, score_col, buckets=2048)
        if cutoff is None:
            return scores.select(id_col).limit(0)
        cutoff = F.broadcast(
            scores.sparkSession.createDataFrame([(cutoff,)], "cut double")
        )
    else:
        raise ValueError(
            f"method must be approx|exact|exact2, got {method!r}"
        )
    return (
        scores.crossJoin(F.broadcast(cutoff))
        .filter(F.col(score_col) <= F.col("cut"))
        .select(id_col)
    )


#: 'exact2' funnel bound (r11, VERDICT r10 #5): when the target bin
#: still holds more than this many sub-k rows, re-histogram INSIDE the
#: bin instead of running the bottom-(k - below) heap over it — a
#: near-constant score distribution with a tiny outlier tail puts
#: almost all rows in one bin, and the heap would re-grow to ~k there.
#: Each recursion level shrinks the candidate range by ~`buckets`x;
#: identical-float mass inside a bin terminates via the lo == hi exact
#: answer. The depth cap is a float-precision backstop (2048^8 range
#: reduction exhausts a double's mantissa long before 8 levels): at
#: the cap the bounded heap runs as before, so the result is exact on
#: every path.
_EXACT2_MAX_FUNNEL = 65536
_EXACT2_MAX_DEPTH = 8


def _selection_cutoff(
    scores: DataFrame,
    frac: float,
    score_col: str,
    buckets: int,
    max_funnel: int = _EXACT2_MAX_FUNNEL,
) -> float | None:
    """Exact k-th smallest score (k = floor(frac * n)) by histogram
    selection with degenerate-bin recursion; None when k == 0. See
    lm_tail_ids('exact2')."""
    vals = F.col(score_col)
    nonnull = scores.filter(vals.isNotNull())
    n = nonnull.count()
    k = int(frac * n) if n else 0
    if k <= 0:
        return None
    return _select_kth(
        nonnull, k, score_col, buckets, max_funnel, _EXACT2_MAX_DEPTH
    )


def _select_kth(
    df: DataFrame,
    k: int,
    score_col: str,
    buckets: int,
    max_funnel: int,
    depth: int,
) -> float:
    """k-th smallest value of a non-null score frame: histogram pass ->
    target bin -> either a bounded bottom-(k - below) heap over the bin
    or (degenerate bin, r11) one more histogram level inside it."""
    vals = F.col(score_col)
    stats = df.agg(F.min(vals).alias("lo"), F.max(vals).alias("hi")).collect()[0]
    lo, hi = stats["lo"], stats["hi"]
    if lo == hi:
        return lo
    # pass 1: fixed-width histogram (bin ids clamp into [0, buckets-1];
    # the B-row result is driver-tiny)
    width = (hi - lo) / buckets
    bin_of = F.least(
        F.lit(buckets - 1),
        F.floor((vals - F.lit(lo)) / F.lit(width)).cast("int"),
    )
    hist = {
        r["b"]: r["c"]
        for r in df.groupBy(bin_of.alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    below, target_bin = 0, buckets - 1
    for b in range(buckets):
        c = hist.get(b, 0)
        if below + c >= k:
            target_bin = b
            break
        below += c
    need = k - below
    in_bin = df.filter(bin_of == target_bin)
    if need > max_funnel and depth > 0:
        # degenerate bin: recurse into it — rank need within the bin
        return _select_kth(
            in_bin, need, score_col, buckets, max_funnel, depth - 1
        )
    # pass 2: bottom-need within the one target bin only
    row = (
        in_bin.select(vals.alias("_s"))
        .orderBy(F.asc("_s"))
        .limit(need)
        .agg(F.max("_s").alias("cut"))
        .collect()[0]
    )
    return row["cut"]


def _bigram_pairs(arr) -> F.Column:
    """Array of (w1, w2) structs for each adjacent token pair, in
    order, over a BOUND token-array column. PERF: the lambda
    references `arr` twice per element — pass a projected COLUMN,
    never the ws_tokens split tree itself (Catalyst does not CSE
    inside higher-order lambdas; an inline tree re-runs the split per
    element: O(n²) per document, measured 17 s vs 2 s on the sf0.1
    gate). Guarded: F.sequence(1, 0) would generate DESCENDING, so
    docs with < 2 tokens map to an explicit empty array."""
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(arr) - 1),
        lambda i: F.struct(
            F.element_at(arr, i).alias("w1"),
            F.element_at(arr, i + 1).alias("w2"),
        ),
    )
    empty = F.array().cast("array<struct<w1:string,w2:string>>")
    return F.when(F.coalesce(F.size(arr), F.lit(0)) >= 2, pairs).otherwise(
        empty
    )


def _explode_bigrams(docs: DataFrame, text_col: str, *keep) -> DataFrame:
    """(…keep, w1, w2): one row per adjacent token pair, the token
    array bound as a real column before the pair lambda runs."""
    bound = docs.select(*keep, X.ws_tokens(text_col).alias("_toks"))
    return bound.select(
        *keep, F.explode(_bigram_pairs(F.col("_toks"))).alias("bg")
    ).select(*keep, "bg.w1", "bg.w2")


def bigram_lm(docs: DataFrame, text_col: str = "text",
              top_v: int | None = None):
    """(lm2, ctx, stats): add-one-smoothed bigram conditionals over the
    corpus — lm2 = (w1, w2, logp) with
    logp = round(ln((c12 + 1) / (c1 + vocab)), 10), ctx = (w1, c1)
    the per-context denominators (c1 = count of w1 as a bigram
    history), stats = one row (vocab = distinct corpus tokens).
    CCNet's scorer is a 5-gram KenLM; bigram is the first
    SQL-replayable step up from unigram on the same ladder — one
    extra n-gram count shuffle, same DECIMAL/broadcast discipline.

    `top_v` bounds BOTH broadcast tables (lm2 grows toward vocab² on
    raw web text): kept rows are the top-V by count with n-gram
    tie-break; dropped bigrams score at their context floor, dropped
    contexts at the cold floor ln(1/vocab)."""
    pairs = _explode_bigrams(docs, text_col)
    c12 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    ctx = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("cnt"))
    stats = (
        docs.select(F.explode(X.ws_tokens(text_col)).alias("token"))
        .agg(F.count_distinct("token").alias("vocab"))
    )
    lm2 = (
        _cap_top_v(c12, top_v, [F.asc("w1"), F.asc("w2")])
        .withColumnRenamed("cnt", "c12")
        .join(ctx.withColumnRenamed("cnt", "c1"), "w1")
        .crossJoin(F.broadcast(stats))
        .select(
            "w1",
            "w2",
            F.round(
                F.log(
                    (F.col("c12") + 1).cast("double")
                    / (F.col("c1") + F.col("vocab")).cast("double")
                ),
                10,
            ).alias("logp"),
        )
    )
    ctx = _cap_top_v(ctx, top_v, [F.asc("w1")]).withColumnRenamed("cnt", "c1")
    return lm2, ctx, stats


def bigram_quality_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lm2: DataFrame | None = None,
    ctx: DataFrame | None = None,
    stats: DataFrame | None = None,
) -> DataFrame:
    """(id, n_bigrams, score): mean bigram-conditional log-probability
    per document under an add-one bigram model (see bigram_lm).
    Unseen bigram with a known context w1 floors at
    ln(1 / (c1 + vocab)); unknown context floors at ln(1 / vocab).
    Docs with < 2 tokens carry no bigram evidence: n_bigrams = 0,
    score = NULL (the lm_quality_scores empty-doc contract). Same
    DECIMAL-summed partition-invariant mean; 'lmq2' gate rows
    hash-match a full DuckDB replay."""
    given = (lm2 is not None, ctx is not None, stats is not None)
    if any(given) and not all(given):
        raise ValueError(
            "lm2, ctx and stats must be passed together; got "
            f"(lm2, ctx, stats) present = {given}"
        )
    if lm2 is None:
        lm2, ctx, stats = bigram_lm(docs, text_col)
    ctx_floor = F.round(
        F.log(1.0 / (F.col("c1") + F.col("vocab")).cast("double")), 10
    )
    cold_floor = F.round(F.log(1.0 / F.col("vocab").cast("double")), 10)
    bgs = _explode_bigrams(docs, text_col, id_col)
    scored = (
        bgs.join(F.broadcast(lm2), ["w1", "w2"], "left")
        .join(F.broadcast(ctx), "w1", "left")
        .crossJoin(F.broadcast(stats))
        .select(
            id_col,
            F.coalesce(
                "logp", F.when(F.col("c1").isNotNull(), ctx_floor),
                cold_floor,
            ).alias("lp"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            F.sum(F.col("lp").cast("decimal(28,10)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("score"),
    )
    empties = docs.filter(
        F.coalesce(F.size(X.ws_tokens(text_col)), F.lit(0)) < 2
    ).select(
        F.col(id_col),
        F.lit(0).cast("long").alias("n_bigrams"),
        F.lit(None).cast("double").alias("score"),
    )
    return agg.unionByName(empties)


def _gram_struct_t(k: int) -> str:
    return (
        "array<struct<"
        + ",".join(f"w{i}:string" for i in range(1, k + 1))
        + ">>"
    )


def _gram_zip(arr, k: int):
    """Guarded array of k-token windows over a BOUND token array —
    arrays_zip over k shifted slices (one pass per doc, no
    per-element lambda; the _bigram_pairs no-CSE lesson applies
    identically). Docs with < k tokens map to an explicit empty
    array — F.slice with length <= 0 would throw."""
    n = F.size(arr) - (k - 1)
    zipped = F.arrays_zip(
        *[F.slice(arr, i, n).alias(f"w{i}") for i in range(1, k + 1)]
    ).cast(_gram_struct_t(k))
    return F.when(
        F.coalesce(F.size(arr), F.lit(0)) >= k, zipped
    ).otherwise(F.array().cast(_gram_struct_t(k)))


def _ngram_rows(
    docs: DataFrame, text_col: str, order: int, *keep
) -> DataFrame:
    """(…keep, w1..wN): one row per adjacent N-token window."""
    bound = docs.select(*keep, X.ws_tokens(text_col).alias("_toks"))
    return bound.select(
        *keep, F.explode(_gram_zip(F.col("_toks"), order)).alias("g")
    ).select(*keep, *[f"g.w{i}" for i in range(1, order + 1)])


def _ngram_counts(
    train: DataFrame, text_col: str, max_order: int = 3
) -> DataFrame:
    """(order, w1..w{max_order}, cnt): counts for EVERY order
    1..max_order from ONE scan and ONE map-side-combinable shuffle —
    each doc's token array emits all orders into a single exploded
    stream (the KenLM count-job shape: one pass over the corpus,
    never one per order). w_{k+1}.. are NULL below a row's order."""
    bound = train.select(X.ws_tokens(text_col).alias("_toks"))
    arr = F.col("_toks")
    null_s = F.lit(None).cast("string")
    wcols = [f"w{i}" for i in range(1, max_order + 1)]
    gram_t = (
        "array<struct<order:int,"
        + ",".join(f"{w}:string" for w in wcols)
        + ">>"
    )
    parts = []
    for k in range(1, max_order + 1):
        # factory, NOT a default-arg binding: F.transform passes the
        # element INDEX to any second parameter it sees on the lambda
        def make_widen(k):
            def widen(g):
                fields = [F.lit(k).alias("order")]
                for i in range(1, max_order + 1):
                    if k == 1:
                        src = g if i == 1 else null_s
                    else:
                        src = g[f"w{i}"] if i <= k else null_s
                    fields.append(src.alias(f"w{i}"))
                return F.struct(*fields)

            return widen

        base = arr if k == 1 else _gram_zip(arr, k)
        parts.append(F.transform(base, make_widen(k)).cast(gram_t))
    grams = F.concat(*parts)
    return (
        bound.select(F.explode(grams).alias("g"))
        .groupBy("g.order", *[f"g.{w}" for w in wcols])
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def ngram_backoff_lm(train: DataFrame, text_col: str = "text",
                     order: int = 3, top_v: int | None = None):
    """(models, stats): count tables for an order-N stupid-backoff
    scorer — models[k-1] = the k-gram count table (w1..wk, cnt) for
    k = 1..order, stats = one row (total tokens, vocab). All orders
    come from ONE scan + ONE count shuffle (_ngram_counts),
    materialized once (lazy localCheckpoint) so every derived table
    is a shallow filter over it. `top_v` bounds EACH broadcastable
    table (higher orders grow fastest on raw web text) — dropped
    n-grams back off one order, exactly the scheme's semantics.
    stats derives from the UNCAPPED unigrams, so the OOV floor is
    unchanged by capping. order=5 is the CCNet/KenLM shape."""
    if order < 1:
        raise ValueError(f"order must be >= 1, got {order}")
    counts = _ngram_counts(train, text_col, order).localCheckpoint(
        eager=False
    )
    uni_full = counts.filter(F.col("order") == 1).select(
        F.col("w1").alias("token"), "cnt"
    )
    stats = uni_full.agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("vocab")
    )
    models = []
    for k in range(1, order + 1):
        cols = [f"w{i}" for i in range(1, k + 1)]
        t = counts.filter(F.col("order") == k).select(*cols, "cnt")
        models.append(_cap_top_v(t, top_v, [F.asc(c) for c in cols]))
    return models, stats


def _backoff_pen(lna, m: int):
    """Sum of m copies of the rounded ln(alpha), left-associated —
    the exact double-addition order the trigram instance ('lmq3'
    oracle) uses, so every order reproduces it bit-for-bit."""
    if m <= 0:
        return None
    pen = lna
    for _ in range(m - 1):
        pen = pen + lna
    return pen


def ngram_backoff_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    train: DataFrame | None = None,
    order: int = 3,
    alpha: float = 0.4,
    models: list | None = None,
    stats: DataFrame | None = None,
) -> DataFrame:
    """(id, n_ngrams, score): mean order-N stupid-backoff
    log-probability per document (Brants et al. 2007). Per N-gram
    (w1..wN), level k scores the LAST k tokens:

        S_N = c(w1..wN) / c(w1..wN-1)            if in-model
        S_k = alpha^(N-k) * c(w_{N-k+1}..w_N)
                            / c(w_{N-k+1}..w_{N-1})   backing off
        S_1 = alpha^(N-1) * c(wN) / total
        floor = alpha^(N-1) * 1 / (total + vocab)

    lp is assembled from PER-FACTOR rounded-to-10dp lns (one
    round(ln(alpha),10) added per backoff level, left-associated),
    the per-doc sum runs in DECIMAL(28,10) — the module's standard
    determinism discipline; order=3 is bit-identical to
    stupid_backoff_scores (the 'lmq3' oracle gate). The backoff
    cascade is pre-folded into N lp tables at model scale, so the
    corpus-sized n-gram stream takes N broadcast joins + one
    coalesce. Docs with < order tokens carry no evidence:
    n_ngrams = 0, score = NULL.

    `train` (default: docs) is the model corpus; or pass prebuilt
    (models, stats) from ngram_backoff_lm together — then `order` is
    taken from len(models) and the parameter is ignored, and passing
    `train` alongside prebuilt models raises (the training corpus
    argument would silently do nothing — r11, ADVICE)."""
    if (models is None) != (stats is None):
        raise ValueError(
            "models and stats must be passed together; got "
            f"(models, stats) present = "
            f"({models is not None}, {stats is not None})"
        )
    if models is not None and train is not None:
        raise ValueError(
            "train and prebuilt (models, stats) are mutually exclusive: "
            "prebuilt models are served as-is, so the training corpus "
            "argument would be silently ignored — build with "
            "ngram_backoff_lm(train, ...) and pass only (models, stats)"
        )
    if models is None:
        models, stats = ngram_backoff_lm(
            train if train is not None else docs, text_col, order
        )
    order = len(models)
    lna = F.round(F.log(F.lit(float(alpha))), 10)

    def _pen_plus(m: int, term):
        pen = _backoff_pen(lna, m)
        return term if pen is None else pen + term

    lp_tables = []
    for k in range(order, 0, -1):
        # level-k lp, keyed on the n-gram's LAST k positions
        shift = order - k
        if k == 1:
            tab = models[0].crossJoin(F.broadcast(stats)).select(
                F.col("w1").alias(f"w{order}"),
                _pen_plus(
                    shift,
                    F.round(
                        F.log(
                            F.col("cnt").cast("double")
                            / F.col("total").cast("double")
                        ),
                        10,
                    ),
                ).alias("lp1"),
            )
        else:
            prefix = [f"w{i}" for i in range(1, k)]
            tab = (
                models[k - 1].withColumnRenamed("cnt", "_ck")
                .join(
                    F.broadcast(
                        models[k - 2].withColumnRenamed("cnt", "_cp")
                    ),
                    prefix,
                )
                .select(
                    *[
                        F.col(f"w{i}").alias(f"w{i + shift}")
                        for i in range(1, k + 1)
                    ],
                    _pen_plus(
                        shift,
                        F.round(
                            F.log(
                                F.col("_ck").cast("double")
                                / F.col("_cp").cast("double")
                            ),
                            10,
                        ),
                    ).alias(f"lp{k}"),
                )
            )
        lp_tables.append((k, tab))
    floor = _pen_plus(
        order - 1,
        F.round(
            F.log(
                F.lit(1.0)
                / (F.col("total") + F.col("vocab")).cast("double")
            ),
            10,
        ),
    )
    scored = _ngram_rows(docs, text_col, order, id_col)
    for k, tab in lp_tables:
        keys = [f"w{i}" for i in range(order - k + 1, order + 1)]
        scored = scored.join(F.broadcast(tab), keys, "left")
    scored = scored.crossJoin(F.broadcast(stats)).select(
        id_col,
        F.coalesce(
            *[f"lp{k}" for k in range(order, 0, -1)], floor
        ).alias("lp"),
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_ngrams"),
        F.round(
            F.sum(F.col("lp").cast("decimal(28,10)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("score"),
    )
    empties = docs.filter(
        F.coalesce(F.size(X.ws_tokens(text_col)), F.lit(0)) < order
    ).select(
        F.col(id_col),
        F.lit(0).cast("long").alias("n_ngrams"),
        F.lit(None).cast("double").alias("score"),
    )
    return agg.unionByName(empties)


def stupid_backoff_lm(train: DataFrame, text_col: str = "text",
                      top_v: int | None = None):
    """(tri, bi, uni, stats): raw n-gram count tables for a trigram
    stupid-backoff scorer (Brants et al. 2007, "Large Language Models
    in Machine Translation" — the count-only smoothing scheme designed
    FOR distributed map-reduce LM training: no normalization pass, no
    discounting statistics, just relative frequencies with a fixed
    backoff penalty, which is why it scales where Kneser-Ney doesn't).
    One more rung up the CCNet n-gram ladder from bigram_lm toward the
    5-gram KenLM shape.

    tri = (w1, w2, w3, cnt), bi = (w1, w2, cnt), uni = (token, cnt),
    stats = one row (total tokens, vocab). All three orders come from
    ONE scan + ONE count shuffle (_ngram_counts), materialized once
    (lazy localCheckpoint) so the four derived tables are shallow
    filters over it — the downstream lp-table/broadcast builds then
    neither re-execute the corpus pass nor re-analyze a deep plan.
    `top_v` bounds EACH broadcastable table (trigram tables grow
    fastest on raw web text) — dropped n-grams back off one order,
    exactly the scheme's semantics. The order-3 instance of
    ngram_backoff_lm (order=5 is the full CCNet/KenLM shape)."""
    (uni, bi, tri), stats = ngram_backoff_lm(
        train, text_col, order=3, top_v=top_v
    )
    return tri, bi, uni.withColumnRenamed("w1", "token"), stats


def stupid_backoff_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    train: DataFrame | None = None,
    alpha: float = 0.4,
    tri: DataFrame | None = None,
    bi: DataFrame | None = None,
    uni: DataFrame | None = None,
    stats: DataFrame | None = None,
) -> DataFrame:
    """(id, n_trigrams, score): mean trigram stupid-backoff
    log-probability per document. Per trigram (w1, w2, w3):

        S = c(w1 w2 w3)/c(w1 w2)            if the trigram is in-model
          | alpha * c(w2 w3)/c(w2)          else if the bigram is
          | alpha^2 * c(w3)/total           else if the unigram is
          | alpha^2 * 1/(total + vocab)     else (OOV floor)

    lp = the ln of S assembled from PER-FACTOR rounded-to-10dp lns
    (round(ln(alpha),10) added per backoff level), so both engines sum
    identical doubles; the per-doc sum runs in DECIMAL(28,10) — the
    module's standard determinism discipline. Docs with < 3 tokens
    carry no trigram evidence: n_trigrams = 0, score = NULL.

    `train` (default: docs themselves) is the model corpus — pass a
    held-out or trusted split to make the backoff levels actually
    fire (self-training sees every trigram, so only the first branch
    runs). Alternatively pass prebuilt (tri, bi, uni, stats) from
    stupid_backoff_lm, all four together. The order-3 instance of
    ngram_backoff_scores (order=5 is the full CCNet/KenLM shape)."""
    given = (tri is not None, bi is not None, uni is not None,
             stats is not None)
    if any(given) and not all(given):
        raise ValueError(
            "tri, bi, uni and stats must be passed together; got "
            f"(tri, bi, uni, stats) present = {given}"
        )
    models = (
        [uni.withColumnRenamed("token", "w1"), bi, tri]
        if tri is not None
        else None
    )
    return ngram_backoff_scores(
        docs, id_col=id_col, text_col=text_col, train=train, order=3,
        alpha=alpha, models=models, stats=stats,
    ).withColumnRenamed("n_ngrams", "n_trigrams")


def lm_buckets(
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
    cuts: tuple = (1.0 / 3, 2.0 / 3),
    accuracy: int = 10000,
    group_col: str | None = None,
) -> DataFrame:
    """(id, bucket): CCNet's head/middle/tail perplexity bucketing —
    the paper's actual published operator (Wenzek et al. 2020 §4.3
    partitions each language into thirds by perplexity and KEEPS the
    buckets as quality tiers; dropping the tail is just one policy).
    Higher score = lower perplexity, so the lowest-score third is
    'tail', the highest 'head'; NULL scores (no-evidence docs) get
    'none' — they carry no LM signal either way.

    Both cutoffs come from ONE mergeable percentile_approx sketch
    (O(accuracy) state per partition, no count() action, exact when
    n <= accuracy — the lm_tail_ids 'approx' discipline), broadcast
    into a tie-inclusive CASE: tail <= cut1 < middle <= cut2 < head.
    One lazy plan, scale-clean at any corpus size.

    `group_col` buckets WITHIN each group — CCNet's per-language
    terciles (a language's tail is defined against its own
    distribution, never pooled): the sketch aggregates per group
    (one agg shuffle over group keys, still O(accuracy) state per
    group) and the cutoffs broadcast-join back on the group."""
    pct = F.percentile_approx(
        score_col,
        F.array(F.lit(float(cuts[0])), F.lit(float(cuts[1]))),
        F.lit(accuracy),
    ).alias("c")
    bucket = (
        F.when(F.col(score_col).isNull(), F.lit("none"))
        # a NULL group never matches the cut join (cut1 NULL would
        # otherwise fall through the <= comparisons into 'head')
        .when(F.col("cut1").isNull(), F.lit("none"))
        .when(F.col(score_col) <= F.col("cut1"), F.lit("tail"))
        .when(F.col(score_col) <= F.col("cut2"), F.lit("middle"))
        .otherwise(F.lit("head"))
        .alias("bucket")
    )
    if group_col:
        cut = scores.groupBy(group_col).agg(pct).select(
            group_col,
            F.col("c")[0].alias("cut1"),
            F.col("c")[1].alias("cut2"),
        )
        return scores.join(F.broadcast(cut), group_col, "left").select(
            id_col, group_col, bucket
        )
    cut = scores.agg(pct).select(
        F.col("c")[0].alias("cut1"), F.col("c")[1].alias("cut2")
    )
    return scores.crossJoin(F.broadcast(cut)).select(id_col, bucket)


# ---------------------------------------------------------------------------
# env-gated KenLM scoring (r11, VERDICT r10 #3)
# ---------------------------------------------------------------------------

def _kenlm_kernel(
    model_file: str,
    shipped_name: str | None,
    id_col: str,
    text_col: str,
    normalize: bool,
):
    """The mapInPandas kernel for kenlm_scores, factored out so the
    plumbing (tokenization convention, normalization math, NULL/empty
    contract, output columns) unit-tests driver-side with a stub
    `kenlm` module — the library itself is absent in this container,
    so the Spark-side path cannot execute here."""

    def kernel(batches):
        import pandas as pd  # local: runs on executors

        import kenlm  # the env gate re-checked where it matters

        if shipped_name is not None:
            from pyspark import SparkFiles

            path = SparkFiles.get(shipped_name)
        else:
            path = model_file
        model = kenlm.Model(path)  # mmap'd once per python worker
        for pdf in batches:
            ids, ntoks, scores = [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                toks = (t or "").split()
                n = len(toks)
                ids.append(i)
                ntoks.append(n)
                if n == 0:
                    # the module-wide empty-doc contract (lm_quality_
                    # scores, ngram_backoff_scores): no evidence ->
                    # NULL score, never a fake floor
                    scores.append(None)
                else:
                    # total log10 P(doc) with BOS context, no EOS —
                    # CCNet normalizes per token (Wenzek et al. 2020);
                    # perplexity = 10 ** (-score) on the normalized
                    # value
                    lp = model.score(" ".join(toks), bos=True, eos=False)
                    scores.append(lp / n if normalize else lp)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "n_tokens": ntoks,
                    # nullable Float64: a plain float64 column turns
                    # None into NaN, which Arrow ships as NaN (not
                    # NULL) and breaks the empty-doc score-IS-NULL
                    # contract downstream filters rely on
                    "score": pd.array(scores, dtype="Float64"),
                }
            )

    return kernel


def kenlm_scores(
    docs: DataFrame,
    model_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: bool = True,
    ship: bool = True,
) -> DataFrame:
    """(id, n_tokens, score): per-token log10 probability under a REAL
    Kneser-Ney n-gram model via the `kenlm` library — the CCNet scorer
    proper (Wenzek et al. 2020; the reference pipeline scores with a
    KenLM 5-gram). ENV-GATED at the same seam as
    sentence_transformer_udf: the library is not installed in this
    container, so calling this raises the declared boundary error and
    `ngram_backoff_scores(order=5)` is the deterministic default with
    the same distributed shape.

    Parity contract (documented, not oracle-checkable without the
    lib): same whitespace tokenization as the count-only ladder, same
    empty-doc contract (n_tokens = 0, score = NULL), score is
    LENGTH-NORMALIZED log10 P (perplexity = 10 ** (-score)); ranking
    order agrees with ngram_backoff_scores up to smoothing differences
    (Kneser-Ney vs stupid backoff), which is exactly the model-quality
    delta the swap buys.

    Scale shape: the model file ships ONCE per executor via
    SparkContext.addFile (`ship=True`; pass ship=False when
    `model_path` is already on a shared/cluster filesystem) and is
    memory-mapped per python worker — NOT a broadcast variable: a
    multi-GB .bin through the JVM broadcast path would copy through
    driver and executor heaps, while mmap shares pages across the
    worker processes on each host. Scoring is one narrow
    mapInPandas — no shuffle, no driver funnel, linear in corpus."""
    try:
        import kenlm  # noqa: F401
    except ImportError as e:  # pragma: no cover - lib absent here
        raise NotImplementedError(
            "kenlm is not available in this environment; use "
            "ngram_backoff_scores(order=5) — the deterministic "
            "count-only stupid-backoff scorer with the same "
            "distributed shape"
        ) from e
    import os as _os  # pragma: no cover - below requires the lib

    spark = docs.sparkSession  # pragma: no cover
    shipped = None  # pragma: no cover
    if ship:  # pragma: no cover
        spark.sparkContext.addFile(model_path)
        shipped = _os.path.basename(model_path)
    id_type = docs.schema[id_col].dataType.simpleString()  # pragma: no cover
    return docs.select(id_col, text_col).mapInPandas(  # pragma: no cover
        _kenlm_kernel(model_path, shipped, id_col, text_col, normalize),
        f"{id_col} {id_type}, n_tokens int, score double",
    )
