"""Text analysis as paired Spark / DuckDB-SQL expression builders.

Implements the engine's text surface (reference: tokenizer + Jaccard
alma/retrieval/text_search.py:129-132 and
alma/learning/heuristic_extractor.py:324-368; token estimation
alma/retrieval/budget.py:131-195) plus the large-corpus pipeline
operators a training-data pipeline needs (language-ID, quality scoring,
fingerprinting, shingles, MinHash, SimHash — standard public techniques:
Broder 1997 resemblance/MinHash, Charikar 2002 SimHash, C4/Gopher-style
quality heuristics).

Every operator exists twice, from shared constants:
- a Spark Column builder (JVM-side, codegen'd — no Python UDFs), and
- a DuckDB SQL snippet builder for the correctness oracle.

The portable 32-bit token hash folds the first 8 hex chars of md5 —
identical bit-for-bit in both engines (verified), unlike engine-native
hash() functions which differ.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_RE = "[^a-z0-9]+"  # alphanumeric tokenizer
# Whitespace class, EXPLICIT on both engines: Java's \s includes \x0B
# (vertical tab) but RE2's (DuckDB) does not — a text containing \x0B
# would normalize differently per engine and break every hash-matched
# text gate. The literal class below is identical in Java, RE2, and
# Python re. (Reference tokenizer: lowercase + whitespace split.)
WS_RE = "[ \t\n\x0b\f\r]+"
# alias for interpolation into DuckDB SQL string literals. INVARIANT:
# the value must contain REAL control characters, never backslash
# escapes — WS_RE above is a plain (non-raw) literal so Python already
# decoded \t \n \x0b \f \r to real chars; DuckDB plain string literals
# do NOT process backslash escapes, so r"..." here would silently turn
# the class into literal backslash-t etc. on the oracle side only.
SQL_WS_RE = WS_RE
HEX = "0123456789abcdef"
# BPE-ish pre-tokenizer (the GPT-2 pre-tokenization shape simplified to
# the Java-regex/RE2 common subset — letter runs, digit runs, punct runs,
# each absorbing one leading space). \s is avoided deliberately: Java's
# \s includes \x0B, RE2's does not — the explicit class is identical in
# both engines.
BPE_TOKEN_RE = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \t\n\r\f]+"
WINNOW_K = 5  # winnowing shingle length (chars)
WINNOW_W = 4  # winnowing window (shingle hashes per window)
WINNOW_BASE = 257  # rolling polynomial hash base (Rabin-Karp)
WINNOW_MOD = 2147483647  # 2^31 - 1
MINHASH_PRIME = 2147483647  # 2^31 - 1
# Fixed odd multipliers / offsets for MinHash permutations (seeded once).
MINHASH_A = [
    6250229, 2332469, 7558063, 3814699, 9838517, 1174243, 4921687, 8632711,
    2563217, 6834563, 1957403, 8313529, 3511867, 7291199, 5167621, 9400949,
]
MINHASH_B = [
    4111219, 8224447, 1337711, 6652049, 2776103, 9011857, 5587963, 3344779,
    7720441, 1143893, 6269381, 2890621, 9537161, 4458737, 8083021, 1692409,
]

STOPWORDS_EN = "the and of to a in is it you that he was for on are".split()
STOPWORDS_ES = "el la de que y en un los se no por las del con una".split()
STOPWORDS_DE = "der die und das ist von mit den nicht ein zu dem sich auf".split()
STOPWORDS_FR = "le la les de et un une est pour que dans qui par sur".split()


# ---------------------------------------------------------------------------
# Spark column builders
# ---------------------------------------------------------------------------

def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(col: Column | str, pattern: str = TOKEN_RE) -> Column:
    """lower + regex split + drop empties."""
    return F.filter(F.split(F.lower(_c(col)), pattern), lambda x: x != "")


def ws_tokens(col: Column | str) -> Column:
    """The reference's tokenizer: lowercase + whitespace split
    (text_search.py:129-132)."""
    return tokens(col, WS_RE)


def token_count(col: Column | str) -> Column:
    return F.size(ws_tokens(col))


def token_estimate(col: Column | str) -> Column:
    """len(text)/4 token-count heuristic (reference: budget.py:131-195)."""
    return F.floor(F.length(_c(col)) / F.lit(4)).cast("long")


def bpe_token_count(col: Column | str) -> Column:
    """BPE-ish token count: matches of the GPT-2-shaped pre-tokenizer
    regex (letter/digit/punctuation runs with an absorbed leading
    space). A far better LLM-token estimate than len/4 on code and
    punctuation-heavy text; pure JVM regex — scan-speed at any scale."""
    return F.size(F.regexp_extract_all(_c(col), F.lit(BPE_TOKEN_RE), 0)).cast("long")


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 over whitespace-normalized lowercase text
    — exact-dedup canonical key."""
    return F.md5(F.regexp_replace(F.trim(F.lower(_c(col))), WS_RE, " "))


def jaccard(a: Column | str, b: Column | str) -> Column:
    """Set Jaccard of two token-array columns (reference strategy
    clustering threshold 0.5, heuristic_extractor.py:324-368)."""
    inter = F.size(F.array_intersect(_c(a), _c(b))).cast("double")
    union = F.size(F.array_union(_c(a), _c(b))).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def shingles(col: Column | str, n: int = 3, *,
             norm: Column | None = None) -> Column:
    """Character n-gram shingles of the normalized text.

    PERF: the transform lambda references the normalized string once
    per shingle position, and higher-order lambdas get no CSE — the
    inline normalization re-runs per position (O(len²) per row). Wide
    scans must pre-project `regexp_replace(trim(lower(col)), WS_RE,
    ' ')` and pass it via ``norm=`` (the r10 HOF lesson; the hot
    winnowing path uses the numpy rolling-hash kernel instead)."""
    if norm is None:
        norm = F.regexp_replace(F.trim(F.lower(_c(col))), WS_RE, " ")
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(norm) - F.lit(n - 1), F.lit(1))),
        lambda i: norm.substr(i, F.lit(n)),
    )


def winnow_norm(col: Column | str) -> Column:
    """Normalization for winnowing: lowercase, collapse whitespace, map
    non-printable-ASCII to '?' (so byte == code point on both engines),
    pad with WINNOW_K trailing spaces (every shingle window is full
    even for short/empty docs). JVM regex — codegen'd, one pass."""
    norm = F.regexp_replace(F.trim(F.lower(_c(col))), WS_RE, " ")
    ascii_ = F.regexp_replace(norm, "[^ -~]", "?")
    return F.concat(ascii_, F.lit(" " * WINNOW_K))


def rolling_shingle_hashes(text_bytes, k: int = WINNOW_K):
    """NUMPY kernel (not a Column): Rabin-Karp polynomial hashes of every
    k-byte shingle of an ascii byte array — the classic rolling-hash
    fingerprint stream (hash_i = sum_j b[i+j] * BASE^(k-1-j) mod MOD).
    Fully vectorized: k shifted slices, one add-reduce, one mod — the
    md5-per-shingle variant this replaced was ~4 ms/doc interpreted
    (measured 18 s for 5000 docs); this is microseconds. The SQL
    counterpart (sql_rolling_shingle_hashes) is exact-arithmetic
    identical."""
    import numpy as np

    b = np.frombuffer(text_bytes, dtype=np.uint8).astype(np.int64)
    n = len(b) - k + 1
    h = np.zeros(n, dtype=np.int64)
    for j in range(k):
        h += b[j : j + n] * (WINNOW_BASE ** (k - 1 - j))
    return h % WINNOW_MOD


def hash32(col: Column) -> Column:
    """Portable 32-bit string hash: fold first 8 hex chars of md5.
    Bit-identical in Spark and DuckDB."""
    return F.aggregate(
        F.split(F.substring(F.md5(col), 1, 8), ""),
        F.lit(0).cast("long"),
        lambda acc, ch: acc * F.lit(16) + (F.instr(F.lit(HEX), ch) - F.lit(1)).cast("long"),
    )


def minhash_signature(
    token_array: Column, k: int = 8, *, hashed: bool = False
) -> Column:
    """MinHash signature (array of k minima) over a token/shingle array:
    sig_j = min over tokens of (a_j * h32(tok) + b_j) mod p. No explode,
    no shuffle — a per-row fold, embarrassingly parallel at any scale.

    Pass ``hashed=True`` with a PRE-MATERIALIZED ``transform(ts, hash32)``
    column: an inline transform is embedded (and re-evaluated) inside
    every one of the k folds — Catalyst does not CSE across higher-order
    functions, so the md5 per token runs k times instead of once
    (measured ~4x cold-path cost on the LSH pipeline)."""
    hashes = token_array if hashed else F.transform(token_array, hash32)

    def perm_min(j: int) -> Column:
        return F.aggregate(
            hashes,
            F.lit(MINHASH_PRIME).cast("long"),
            lambda acc, h: F.least(
                acc,
                (F.lit(MINHASH_A[j]) * h + F.lit(MINHASH_B[j])) % F.lit(MINHASH_PRIME),
            ),
        )

    return F.array(*[perm_min(j) for j in range(k)])


def cjk_count(col: Column | str) -> Column:
    return F.length(F.regexp_replace(_c(col), "[^\\u4e00-\\u9fff]", ""))


def stopword_hits(token_array: Column, stopwords: list[str]) -> Column:
    return F.size(F.array_intersect(token_array, F.array(*[F.lit(s) for s in stopwords])))


def lang_id(col: Column | str) -> Column:
    """n-gram/stopword heuristic language ID: CJK chars -> zh, else the
    language with most distinct stopword hits (priority en, es, de, fr on
    ties), else 'und'."""
    toks = ws_tokens(col)
    en = stopword_hits(toks, STOPWORDS_EN)
    es = stopword_hits(toks, STOPWORDS_ES)
    de = stopword_hits(toks, STOPWORDS_DE)
    fr = stopword_hits(toks, STOPWORDS_FR)
    best = F.greatest(en, es, de, fr)
    return (
        F.when(cjk_count(col) > 0, F.lit("zh"))
        .when(best == 0, F.lit("und"))
        .when(en == best, F.lit("en"))
        .when(es == best, F.lit("es"))
        .when(de == best, F.lit("de"))
        .otherwise(F.lit("fr"))
    )


def quality_score(col: Column | str) -> Column:
    """Document quality heuristic (C4/Gopher-style signals, public):
    0.3*min(n_tokens/100, 1) + 0.3*(1 - punct_ratio)
    + 0.2*min(5*stopword_ratio, 1) + 0.2*mean_token_len_in_[3,10].
    All ratios from cheap column expressions; returns [0, 1]."""
    toks = ws_tokens(col)
    n_tok = F.size(toks).cast("double")
    n_chars = F.length(_c(col)).cast("double")
    alnum = F.length(F.regexp_replace(F.lower(_c(col)), "[^a-z0-9 ]", "")).cast("double")
    punct_ratio = F.when(n_chars > 0, (n_chars - alnum) / n_chars).otherwise(F.lit(1.0))
    stop_ratio = F.when(
        n_tok > 0, stopword_hits(toks, STOPWORDS_EN).cast("double") / n_tok
    ).otherwise(F.lit(0.0))
    mean_len = F.when(
        n_tok > 0,
        F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)).cast(
            "double"
        )
        / n_tok,
    ).otherwise(F.lit(0.0))
    len_ok = F.when((mean_len >= 3.0) & (mean_len <= 10.0), F.lit(1.0)).otherwise(
        F.lit(0.5)
    )
    return (
        F.lit(0.3) * F.least(n_tok / F.lit(100.0), F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.2) * F.least(F.lit(5.0) * stop_ratio, F.lit(1.0))
        + F.lit(0.2) * len_ok
    )


# Gopher (Rae et al. 2021) required stopwords: a quality doc contains
# at least 2 of these 8
GOPHER_REQUIRED_STOPWORDS = "the be to of and that have with".split()


def quality_signals(
    col: Column | str,
    *,
    tokens: Column | None = None,
    lines_col: Column | None = None,
) -> dict[str, Column]:
    """The raw counting signals behind the published C4/Gopher
    heuristic quality rules, as named Columns over ONE text column:

      n_words / sum_word_len   whitespace tokens and their total length
      alpha_words              tokens containing an alphabetic char
      stopword_presence        distinct GOPHER_REQUIRED_STOPWORDS hits
      symbols                  '#' occurrences + ellipsis runs ('...'/'…')
      n_lines                  newline-split line count
      terminal_lines           lines ending in terminal punct [.!?"] (C4)
      bullet_lines             lines starting with a bullet [-*•]
      ellipsis_lines           lines ending in an ellipsis

    Everything is an INTEGER count — the pass/fail rules compare in
    integer arithmetic (3*n <= sum <= 10*n etc.), so the decisions are
    bit-stable across engines with no float boundaries.

    PERF: several signals reference the token/line arrays, and inline
    higher-order expressions re-evaluate per reference (the
    ngrams_of_tokens lesson). Wide scans should pre-project
    `ws_tokens(col)` and `split(col, '\\n')` into their own aliases
    and pass them via `tokens=`/`lines=` — the text_profile gate's
    qfilter rows do exactly this."""
    c = _c(col)
    ts = tokens if tokens is not None else ws_tokens(c)
    lines = lines_col if lines_col is not None else F.split(c, "\n")
    return {
        "n_words": F.size(ts).cast("long"),
        "sum_word_len": F.aggregate(
            ts, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
        ),
        # any alphabetic character, either case (ADVICE r8 #5: the
        # published Gopher rule is case-insensitive; '[a-z]' failed
        # clean all-caps documents)
        "alpha_words": F.size(
            F.filter(ts, lambda s: s.rlike("[a-zA-Z]"))
        ).cast("long"),
        "stopword_presence": F.size(
            F.array_intersect(
                ts, F.array(*[F.lit(s) for s in GOPHER_REQUIRED_STOPWORDS])
            )
        ).cast("long"),
        "symbols": (
            F.regexp_count(c, F.lit("#"))
            + F.regexp_count(c, F.lit(r"\.\.\.|…"))
        ).cast("long"),
        "n_lines": F.size(lines).cast("long"),
        "terminal_lines": F.size(
            F.filter(lines, lambda x: F.rtrim(x).rlike('[.!?"]$'))
        ).cast("long"),
        "bullet_lines": F.size(
            F.filter(lines, lambda x: F.ltrim(x).rlike("^[-*•]"))
        ).cast("long"),
        "ellipsis_lines": F.size(
            F.filter(lines, lambda x: F.rtrim(x).rlike(r"(\.\.\.|…)$"))
        ).cast("long"),
    }


def gopher_pass_bits(col: Column | str, min_words: int = 50,
                     max_words: int = 100_000, *,
                     tokens: Column | None = None,
                     lines_col: Column | None = None) -> Column:
    """7-char '1'/'0' string, one char per published quality rule (in
    this fixed order): word count in [min_words, max_words]; mean word
    length in [3, 10]; symbol-to-word ratio <= 0.1; bullet-line
    fraction <= 0.9; ellipsis-line fraction <= 0.3; alphabetic-word
    fraction >= 0.8; >= 2 required stopwords present. All comparisons
    in integer arithmetic (see quality_signals). '1111111' = keep.
    Pass pre-projected `tokens=`/`lines_col=` on wide scans (see the
    quality_signals PERF note — signals repeat across bits)."""
    s = quality_signals(col, tokens=tokens, lines_col=lines_col)
    bits = [
        (s["n_words"] >= min_words) & (s["n_words"] <= max_words),
        (3 * s["n_words"] <= s["sum_word_len"])
        & (s["sum_word_len"] <= 10 * s["n_words"]),
        10 * s["symbols"] <= s["n_words"],
        10 * s["bullet_lines"] <= 9 * s["n_lines"],
        10 * s["ellipsis_lines"] <= 3 * s["n_lines"],
        5 * s["alpha_words"] >= 4 * s["n_words"],
        s["stopword_presence"] >= 2,
    ]
    return F.concat(
        *[F.when(b, F.lit("1")).otherwise(F.lit("0")) for b in bits]
    )


def gopher_quality_pass(col: Column | str, min_words: int = 50,
                        max_words: int = 100_000) -> Column:
    """Boolean keep/drop: every gopher_pass_bits rule passes."""
    return gopher_pass_bits(col, min_words, max_words) == "1111111"


# ---------------------------------------------------------------------------
# DuckDB SQL snippet builders (oracle side) — same constants, same math
# ---------------------------------------------------------------------------

def sql_tokens(expr: str, pattern: str = TOKEN_RE) -> str:
    return f"list_filter(regexp_split_to_array(lower({expr}), '{pattern}'), x -> x <> '')"


def sql_ws_tokens(expr: str) -> str:
    return sql_tokens(expr, SQL_WS_RE)


def sql_fingerprint(expr: str) -> str:
    return f"md5(regexp_replace(trim(lower({expr})), '{SQL_WS_RE}', ' ', 'g'))"


def sql_hash32(expr: str) -> str:
    return (
        f"list_reduce(list_transform(string_split_regex(substr(md5({expr}),1,8),'')::VARCHAR[], "
        f"c -> (strpos('{HEX}', c) - 1)::BIGINT), (x,y) -> x*16+y)"
    )


def sql_bpe_token_count(expr: str) -> str:
    # the pattern is embedded with REAL tab/newline characters (DuckDB
    # plain string literals do not process backslash escapes)
    return f"len(regexp_extract_all({expr}, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \t\n\r\f]+'))"


def sql_winnow_norm(expr: str) -> str:
    return (
        f"regexp_replace(regexp_replace(trim(lower({expr})), '{SQL_WS_RE}', ' ', 'g'),"
        f" '[^ -~]', '?', 'g') || '{' ' * WINNOW_K}'"
    )


def sql_rolling_shingle_hashes(norm_expr: str, k: int = WINNOW_K) -> str:
    """Rabin-Karp shingle hashes over a pre-normalized+padded string
    column (pass via CTE). ord(single ascii char) == byte value, so
    this is exact-arithmetic identical to rolling_shingle_hashes."""
    terms = " + ".join(
        f"ord(substr({norm_expr}, i + {j}, 1)) * {WINNOW_BASE ** (k - 1 - j)}"
        for j in range(k)
    )
    return (
        f"list_transform(range(1, length({norm_expr}) - {k} + 2), "
        f"i -> ({terms}) % {WINNOW_MOD})"
    )


def sql_winnow_mins(hashes_expr: str, w: int = WINNOW_W) -> str:
    """Winnow window-minima over a PRE-COMPUTED shingle-hash list column
    (pass the hashes via a CTE — the expression references it several
    times). DuckDB list slicing l[i:j] is 1-based inclusive, so
    l[i:i+w-1] is Spark's slice(l, i, w)."""
    h = hashes_expr
    return (
        f"list_sort(list_distinct(CASE WHEN len({h}) >= {w} THEN "
        f"list_transform(range(1, len({h}) - {w} + 2), i -> list_min(({h})[i:i+{w - 1}])) "
        f"ELSE [list_min({h})] END))"
    )


def sql_minhash_min(tokens_expr: str, j: int) -> str:
    return (
        f"list_min(list_transform({tokens_expr}, "
        f"t -> ({MINHASH_A[j]}::BIGINT * ({sql_hash32('t')}) + {MINHASH_B[j]}) % {MINHASH_PRIME}))"
    )


def sql_simhash32(tokens_expr: str) -> str:
    return (
        "list_sum(list_transform(range(0, 32), i -> CASE WHEN "
        f"list_sum(list_transform({tokens_expr}, t -> CASE WHEN (({sql_hash32('t')}) >> i) % 2 = 1 THEN 1 ELSE -1 END)) > 0 "
        "THEN (1::BIGINT << i) ELSE 0 END))"
    )


def _sql_list(words: list[str]) -> str:
    return "[" + ",".join(f"'{w}'" for w in words) + "]"


def sql_stopword_hits(tokens_expr: str, stopwords: list[str]) -> str:
    return f"len(list_intersect({tokens_expr}, {_sql_list(stopwords)}))"


def sql_lang_id(expr: str) -> str:
    t = sql_ws_tokens(expr)
    en = sql_stopword_hits(t, STOPWORDS_EN)
    es = sql_stopword_hits(t, STOPWORDS_ES)
    de = sql_stopword_hits(t, STOPWORDS_DE)
    fr = sql_stopword_hits(t, STOPWORDS_FR)
    # RE2 (DuckDB) needs \x{...}; Java regex on the Spark side uses \uXXXX
    cjk = f"length(regexp_replace({expr}, '[^\\x{{4e00}}-\\x{{9fff}}]', '', 'g'))"
    return (
        f"CASE WHEN {cjk} > 0 THEN 'zh' "
        f"WHEN greatest({en},{es},{de},{fr}) = 0 THEN 'und' "
        f"WHEN {en} = greatest({en},{es},{de},{fr}) THEN 'en' "
        f"WHEN {es} = greatest({en},{es},{de},{fr}) THEN 'es' "
        f"WHEN {de} = greatest({en},{es},{de},{fr}) THEN 'de' "
        f"ELSE 'fr' END"
    )


def sql_quality_score(expr: str) -> str:
    t = sql_ws_tokens(expr)
    n_tok = f"len({t})::DOUBLE"
    n_chars = f"length({expr})::DOUBLE"
    alnum = f"length(regexp_replace(lower({expr}), '[^a-z0-9 ]', '', 'g'))::DOUBLE"
    punct = f"(CASE WHEN {n_chars} > 0 THEN ({n_chars} - {alnum}) / {n_chars} ELSE 1.0 END)"
    stop = (
        f"(CASE WHEN {n_tok} > 0 THEN {sql_stopword_hits(t, STOPWORDS_EN)}::DOUBLE / {n_tok} ELSE 0.0 END)"
    )
    mean_len = (
        f"(CASE WHEN {n_tok} > 0 THEN list_sum(list_transform({t}, s -> length(s)))::DOUBLE / {n_tok} ELSE 0.0 END)"
    )
    len_ok = f"(CASE WHEN {mean_len} >= 3.0 AND {mean_len} <= 10.0 THEN 1.0 ELSE 0.5 END)"
    return (
        f"0.3 * least({n_tok} / 100.0, 1.0) + 0.3 * (1.0 - {punct}) "
        f"+ 0.2 * least(5.0 * {stop}, 1.0) + 0.2 * {len_ok}"
    )


# ---------------------------------------------------------------------------
# n-grams + repetition (Gopher-style duplicate-fraction signals)
# ---------------------------------------------------------------------------


def ngrams_of_tokens(ts: Column, n: int) -> Column:
    """Space-joined n-grams over an ALREADY-TOKENIZED array column.
    Empty array when the doc has fewer than n tokens — the `when`
    guard matters: sequence(1, size-n+1) with a negative span would
    generate a DESCENDING sequence, not an empty one.

    PERF contract (the r7 lesson — measured 8x gate cost before it):
    higher-order functions are CodegenFallback — no whole-stage
    codegen, no common-subexpression elimination, and every
    subexpression CAPTURED IN THE LAMBDA re-evaluates per element in
    interpreted eval. So (a) `ts` must be a BOUND column reference
    (project the tokenizer into its own alias first), never an inline
    `ws_tokens(text)` expression — or the whole tokenizer re-runs per
    gram position; (b) the per-position builder is an element_at
    concat chain (O(1) attribute reads, no per-gram array allocation);
    (c) callers should reference the returned gram array ONCE per
    projection and derive counts from it in a later select."""

    def _gram(i):
        pieces = []
        for j in range(n):
            if j:
                pieces.append(F.lit(" "))
            pieces.append(F.element_at(ts, i + F.lit(j)))
        return F.concat(*pieces)

    grams = F.transform(F.sequence(F.lit(1), F.size(ts) - F.lit(n - 1)), _gram)
    return F.when(F.size(ts) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def token_ngrams(col: Column | str, n: int) -> Column:
    """Convenience inline-tokenizing form — ONLY for tiny frames or
    single-reference expressions; wide scans must pre-project the
    tokens and use ngrams_of_tokens (see its PERF contract)."""
    return ngrams_of_tokens(ws_tokens(col), n)


def dup_ngram_fraction(col: Column | str, n: int = 2) -> Column:
    """Gopher-style repetition signal: the fraction of n-gram
    OCCURRENCES that are repeats of an earlier one (1 - distinct/total;
    0.0 for docs shorter than n tokens). High values mark boilerplate /
    looping text that quality-filtering drops.

    Convenience form — evaluates the gram array twice (see
    token_ngrams PERF note). Wide scans should compute the gram array
    once and derive (total, distinct, fraction) from it, the way the
    text_profile gate does.

    FILTER TRAP (r12, found by the measure_chain scale proof): binding
    the tokens/grams as aliased columns is NOT enough when this feeds
    a `.filter()` — PushDownPredicate substitutes alias definitions
    back into the predicate as it pushes through the projections,
    re-inlining the tokenizer into the HOF lambda (measured 19.4 s vs
    0.8 s for 3k rows). Filters over HOF-derived signals should
    compute the signal as a STORED column (materialize, or keep it as
    a projected output consumed downstream) and filter on the plain
    column."""
    g = token_ngrams(col, n)
    total = F.size(g)
    return F.when(
        total > 0,
        F.lit(1.0) - F.size(F.array_distinct(g)).cast("double") / total.cast("double"),
    ).otherwise(F.lit(0.0))


def with_repetition_signals(
    df, col: Column | str, ns: tuple[int, ...] = (2,), prefix: str = "dup"
):
    """The PRODUCTION form of dup_ngram_fraction (r12): attach
    `<prefix><n>_frac` for each n in `ns` as REAL columns through
    staged projections — tokens bound once, each n's gram array bound
    once, counts derived from the bound arrays — so the tokenizer and
    every gram transform evaluate ONCE per row regardless of how many
    signals reference them. Values are identical to
    dup_ngram_fraction(col, n) (contract-tested).

    Use this (and then filter on the plain output columns) instead of
    putting dup_ngram_fraction inside a `.filter()`: PushDownPredicate
    re-inlines aliased expressions into pushed predicates, which puts
    the tokenizer back inside the CodegenFallback lambda at
    per-element cost (measured 19.4 s -> 0.8 s on a 3k-row filter —
    see dup_ngram_fraction's FILTER TRAP note)."""
    reserved = {"_rs_ts"} | {
        f"_rs_{kind}{n}" for n in ns for kind in ("g", "t", "d")
    }
    outputs = {f"{prefix}{n}_frac" for n in ns}
    clash = (reserved | outputs) & set(df.columns)
    if clash:
        # a pre-existing scratch column would make the staged selects
        # ambiguous; a pre-existing output column would be silently
        # shadowed (ADVICE r12) — refuse loudly instead
        raise ValueError(
            "with_repetition_signals: input already has column(s) "
            f"{sorted(clash)}; rename them or pass a different prefix"
        )
    star = [F.col(x) for x in df.columns]
    out = df.select(*star, ws_tokens(col).alias("_rs_ts"))
    out = out.select(
        *star, "_rs_ts",
        *[
            ngrams_of_tokens(F.col("_rs_ts"), n).alias(f"_rs_g{n}")
            for n in ns
        ],
    )
    counted = out.select(
        *star,
        *[
            c
            for n in ns
            for c in (
                F.size(f"_rs_g{n}").cast("long").alias(f"_rs_t{n}"),
                F.size(F.array_distinct(f"_rs_g{n}")).cast("long").alias(f"_rs_d{n}"),
            )
        ],
    )
    return counted.select(
        *star,
        *[
            F.when(
                F.col(f"_rs_t{n}") > 0,
                F.lit(1.0)
                - F.col(f"_rs_d{n}").cast("double")
                / F.col(f"_rs_t{n}").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias(f"{prefix}{n}_frac")
            for n in ns
        ],
    )


def sql_quality_signals(expr: str) -> dict[str, str]:
    """DuckDB mirrors of quality_signals, same names and math."""
    ts = sql_ws_tokens(expr)
    lines = f"string_split({expr}, chr(10))"
    return {
        "n_words": f"len({ts})",
        "sum_word_len": f"coalesce(list_sum(list_transform({ts}, s -> length(s))), 0)",
        "alpha_words": f"len(list_filter({ts}, s -> regexp_matches(s, '[a-zA-Z]')))",
        "stopword_presence": f"len(list_intersect({ts}, {_sql_list(GOPHER_REQUIRED_STOPWORDS)}))",
        "symbols": (
            f"len(regexp_extract_all({expr}, '#'))"
            f" + len(regexp_extract_all({expr}, '\\.\\.\\.|…'))"
        ),
        "n_lines": f"len({lines})",
        "terminal_lines": (
            f"len(list_filter({lines}, x -> regexp_matches(rtrim(x), '[.!?\"]$')))"
        ),
        "bullet_lines": (
            f"len(list_filter({lines}, x -> regexp_matches(ltrim(x), '^[-*•]')))"
        ),
        "ellipsis_lines": (
            f"len(list_filter({lines}, x -> regexp_matches(rtrim(x), '(\\.\\.\\.|…)$')))"
        ),
    }


def sql_gopher_pass_bits(expr: str, min_words: int = 50,
                         max_words: int = 100_000) -> str:
    """DuckDB mirror of gopher_pass_bits (identical integer math)."""
    s = sql_quality_signals(expr)
    bits = [
        f"({s['n_words']} >= {min_words} AND {s['n_words']} <= {max_words})",
        f"(3 * {s['n_words']} <= {s['sum_word_len']} AND {s['sum_word_len']} <= 10 * {s['n_words']})",
        f"(10 * ({s['symbols']}) <= {s['n_words']})",
        f"(10 * {s['bullet_lines']} <= 9 * {s['n_lines']})",
        f"(10 * {s['ellipsis_lines']} <= 3 * {s['n_lines']})",
        f"(5 * {s['alpha_words']} >= 4 * {s['n_words']})",
        f"({s['stopword_presence']} >= 2)",
    ]
    return " || ".join(f"(CASE WHEN {b} THEN '1' ELSE '0' END)" for b in bits)


def sql_token_ngrams(expr: str, n: int) -> str:
    """DuckDB mirror of token_ngrams (1-based inclusive list slices)."""
    ts = sql_ws_tokens(expr)
    return (
        f"CASE WHEN len({ts}) >= {n} THEN "
        f"list_transform(range(1, len({ts}) - {n} + 2), "
        f"i -> array_to_string(({ts})[i:i+{n - 1}], ' ')) "
        f"ELSE [] END"
    )


def sql_dup_ngram_fraction(expr: str, n: int = 2) -> str:
    g = sql_token_ngrams(expr, n)
    return (
        f"CASE WHEN len({g}) > 0 THEN "
        f"1.0 - len(list_distinct({g})) * 1.0 / len({g}) "
        f"ELSE 0.0 END"
    )


# ---------------------------------------------------------------------------
# URL / domain quality rules (r9, VERDICT r8 #6)
# ---------------------------------------------------------------------------

#: registrable domains whose documents fail the blocklist rule. A
#: production pipeline swaps in a real blocklist (the rule is a plain
#: isin over the extracted registrable domain, so the list size only
#: changes a broadcast literal set). 'bad.co.uk' is reachable ONLY
#: through the public-suffix rule (the last-2-label approximation
#: would yield 'co.uk' and never block it).
URL_BLOCKLIST = ("spam.example", "ads.invalid", "tracker.test", "bad.co.uk")


#: sanity bound on the lastK chain length (a rule needing more labels
#: than this means the rule file is not a public suffix list) — the
#: chain itself is DATA-DRIVEN, so every class within the cap is
#: handled; beyond it the loader raises instead of silently
#: mis-deriving domains (ADVICE r11)
_PSL_LASTK_CAP = 8


def _resource_lines(name: str) -> list | None:
    """Lines of resources/<name>, or None when absent.

    Executors import this module from the `addPyFile` package ZIP when
    the driver runs outside the repo (session.ensure_package_shipped);
    a plain filesystem open() of a path inside that zip raises
    NotADirectoryError and kills every Python worker at import time
    (r14 inherited-state fix). importlib.resources resolves through
    the active loader, so the same call works from a directory install
    and from the zipimport path."""
    import importlib.resources as _ir

    try:
        trav = _ir.files("alma_memory_spark").joinpath("resources", name)
        if not trav.is_file():
            return None
        return trav.read_text(encoding="utf-8").splitlines()
    except (FileNotFoundError, ModuleNotFoundError, OSError):
        return None


def _load_psl_rules() -> dict:
    """Parse the committed PSL file into its three rule classes
    (publicsuffix.org list format), grouped by label count:

      exact[k]  k-label normal rules  (public suffix = the k labels)
      wild[k]   k-label WILDCARD BASES from '*.base' rules (public
                suffix = one label + the base, i.e. k+1 labels)
      exc[k]    k-label exception rules from '!rule' lines (public
                suffix = the rule minus its leftmost label, k-1)

    Matching (the PSL algorithm): exception rules beat everything;
    otherwise the rule with the most labels wins; no match defaults
    to the 1-label TLD. Registrable domain = public suffix + one more
    host label (the host itself when it has no extra label).

    The file is the COMPLETE publicsuffix.org dat (r12, VERDICT r11
    #3) — 9.5k rules, shipped verbatim from the OS `publicsuffix`
    package (Mozilla-maintained, MPL-2.0 public data; provenance
    header inside the file). Unicode rules match hosts in their
    unicode form; punycode normalization is out of scope (a host in
    xn-- form matches only rules spelled that way, as in the dat's
    punycode entries). The r11 curated snapshot remains as the
    fallback when the full dat is absent."""
    from collections import defaultdict

    path = "public_suffix_list.dat"
    lines = _resource_lines(path)
    if lines is None:
        path = "public_suffix_snapshot.txt"
        lines = _resource_lines(path)
    if lines is None:
        raise FileNotFoundError(
            "alma_memory_spark/resources: no PSL rule file "
            "(public_suffix_list.dat or public_suffix_snapshot.txt)"
        )
    exact: dict[int, set] = defaultdict(set)
    wild: dict[int, set] = defaultdict(set)
    exc: dict[int, set] = defaultdict(set)
    for ln in lines:
        rule = ln.strip()
        if not rule or rule.startswith("//"):
            continue
        if rule.startswith("!"):
            base = rule[1:]
            exc[base.count(".") + 1].add(base)
        elif rule.startswith("*."):
            base = rule[2:]
            wild[base.count(".") + 1].add(base)
        else:
            exact[rule.count(".") + 1].add(rule)
    need_k = max(
        [2]
        + [k for k in exc]  # exc k matches lastK[k], domain = lastK[k]
        + [k + 1 for k in exact]  # exact k: domain = lastK[k+1]
        + [k + 2 for k in wild],  # wild base k: ps k+1, domain lastK[k+2]
    )
    if need_k > _PSL_LASTK_CAP:
        raise ValueError(
            f"PSL rule file at {path} contains a rule class needing a "
            f"{need_k}-label lastK chain (cap {_PSL_LASTK_CAP}) — refusing "
            "to silently ignore rules (ADVICE r11)"
        )
    return {"exact": exact, "wild": wild, "exc": exc, "need_k": need_k}


def _psl_chain(rules: dict) -> list:
    """The ordered match chain [(ps_len, [(k, sorted_vals), ...]), ...]
    both engines compile: every exception group first (an exception
    beats ANY other rule, even a longer one), then one group per
    public-suffix length, longest first (the PSL longest-match rule);
    a '*.base' with k labels contributes to the ps=k+1 group matched
    on the base's k labels. Data-driven from the loaded rule file, so
    every class the file contains is compiled — nothing is silently
    dropped (the loader bounds the chain length)."""
    chain: list = []
    for k in sorted(rules["exc"], reverse=True):
        chain.append((k - 1, [(k, tuple(sorted(rules["exc"][k])))]))
    by_ps: dict[int, list] = {}
    for k, vals in rules["exact"].items():
        if k >= 2:  # 1-label exact rules == the default '*' rule
            by_ps.setdefault(k, []).append((k, tuple(sorted(vals))))
    for k, vals in rules["wild"].items():
        by_ps.setdefault(k + 1, []).append((k, tuple(sorted(vals))))
    for ps in sorted(by_ps, reverse=True):
        chain.append((ps, by_ps[ps]))
    return chain


#: the complete publicsuffix.org rule set (r12), compiled into literal
#: in-sets on both engines. At 9.5k entries Catalyst converts isin to
#: InSet (hash-set membership) and DuckDB hash-joins large IN lists —
#: still scan-speed, no join, no shuffle; the plan carries each rule
#: set once per bound reference (with_url_signals binds the domain
#: ONCE per scan). A broadcast-map probe was the documented
#: alternative; the in-set keeps the whole derivation inside
#: whole-stage codegen and needs no second input.
PSL_RULES = _load_psl_rules()
_PSL_CHAIN = _psl_chain(PSL_RULES)
#: lastK chain length the compiled rules need
_PSL_MAX_LASTK = PSL_RULES["need_k"]
#: backward-compat view: the 2-label exact suffixes (r10 name)
PSL_2LABEL = tuple(sorted(PSL_RULES["exact"].get(2, ())))


def _psl_inset(col: Column, vals) -> Column:
    vals = sorted(vals)
    if not vals:
        return F.lit(False)
    return col.isin(vals)


def psl_lastk_exprs(labels: Column, K: int | None = None) -> list[Column]:
    """[l1..lK]: the host's last k dot-joined labels, NULL when the
    host has fewer than k labels — the guard matters: Spark 4 runs
    ANSI mode, where an out-of-bounds element_at THROWS, and these
    feed match CONDITIONS (a NULL isin(...) is NULL -> the CASE falls
    through, exactly the no-match semantics). K defaults to what the
    loaded rule set needs (6 for the full dat: 5-label exact rules
    and 4-label wildcard bases both derive 6-label domains)."""
    size = F.size(labels)
    out = []
    for k in range(1, (K or _PSL_MAX_LASTK) + 1):
        e = F.element_at(labels, -k)
        for i in range(k - 1, 0, -1):
            e = F.concat(e, F.lit("."), F.element_at(labels, -i))
        out.append(F.when(size >= k, e))
    return out


def _psl_group_cond(lastk: list[Column], ps: int, groups) -> Column:
    """Match condition for one chain group. A group member with k == ps
    is an EXACT rule set (the lastK NULL guard already requires the
    host to have >= k labels); k == ps - 1 is a WILDCARD base set —
    the spec's '*' matches exactly ONE label, so the rule only matches
    hosts with MORE labels than the base (lastk[ps] non-null). Without
    that guard a host EQUAL to a >=3-label wildcard base (e.g. the
    base of '*.backyards.banzaicloud.io') would take ps from the
    wildcard and return itself instead of its true registrable domain
    — a bug the r12 reference-algorithm property test caught (the r11
    curated snapshot only carried 1/2-label bases, where the error is
    value-invisible). k == ps + 1 is an exception set (no guard)."""
    cond = None
    for k, vals in groups:
        c = _psl_inset(lastk[k - 1], vals)
        if k == ps - 1:  # wildcard base: host needs base+1 (= ps) labels
            c = c & lastk[ps - 1].isNotNull()
        cond = c if cond is None else (cond | c)
    return cond


def psl_domain_expr(lastk: list[Column], host_nw: Column) -> Column:
    """Registrable domain in ONE CASE over the data-driven chain: the
    first matching group fixes the public-suffix length ps, the domain
    is the host's last ps+1 labels — or the host itself when it IS a
    public suffix (lastK's NULL guard doubles as the has-an-extra-label
    check). Each rule set appears exactly once in the expression."""
    expr = None
    for ps, groups in _PSL_CHAIN:
        cond = _psl_group_cond(lastk, ps, groups)
        dom = F.coalesce(lastk[ps], host_nw)
        expr = (
            F.when(cond, dom) if expr is None else expr.when(cond, dom)
        )
    default = F.coalesce(lastk[1], host_nw)
    return default if expr is None else expr.otherwise(default)


#: scheme://authority splitter — the safe common subset of Java regex
#: and RE2 (no lookaround), shared verbatim by both engines
_URL_HOST_RE = "^[a-z][a-z0-9+.-]*://([^/?#]+)"
_URL_SCHEME_RE = "^([a-z][a-z0-9+.-]*)://"
_URL_PATH_RE = "^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)"
#: authority -> host: drop 'userinfo@' then ':port' (r10 ADVICE —
#: otherwise userinfo/port flow into domain/blocklist/canonical, so
#: 'https://user@spam.example/x' bypasses the blocklist and
#: 'example.com:80' splits the canonical dedup group). Bracketed IPv6
#: literals are out of scope (documented; they contain ':' and would
#: need the bracket form handled first).
_URL_USERINFO_RE = "^[^@/]*@"
_URL_PORT_RE = ":[0-9]*$"


def url_signals(
    col: Column | str,
    *,
    host: Column | None = None,
    path: Column | None = None,
) -> dict[str, Column]:
    """Per-row URL facts as pure column expressions (scan-speed — the
    same no-join discipline as quality_signals):

      authority   raw authority part, lowercased (userinfo/port kept)
      host        authority minus 'userinfo@' and ':port'
      domain      REGISTRABLE domain of the host minus any leading
                  'www.', under the FULL PSL algorithm over the
                  committed snapshot (r11, VERDICT r10 #2): exact
                  2/3/4-label rules (co.uk, k12.ma.us,
                  pvt.k12.ma.us), wildcard rules (*.ck, *.kobe.jp),
                  exception rules (!www.ck, !city.kobe.jp) — public
                  suffix + one label, or the host itself when it IS
                  a public suffix
      blocked     domain in URL_BLOCKLIST
      scheme      url scheme, lowercased
      depth       path segment count
      tracker     url carries a utm_* query parameter
      canonical   dedup KEY: host-sans-www + path-sans-trailing-slash,
                  lowercased, query/fragment/userinfo/port dropped —
                  the standard url-dedup normalization

    PERF: wide scans should pre-project the AUTHORITY/path extractions
    into their own aliases and pass them via ``host=``/``path=`` —
    inline expressions re-evaluate the authority regex once per signal
    reference (the quality_signals lesson). The userinfo/port strips
    run inside (they operate on the short authority string, not the
    full url)."""
    c = F.lower(_c(col))
    if host is None:
        host = F.regexp_extract(c, _URL_HOST_RE, 1)
    host = F.regexp_replace(
        F.regexp_replace(host, _URL_USERINFO_RE, ""), _URL_PORT_RE, ""
    )
    host_nw = F.regexp_replace(host, r"^www\.", "")
    labels = F.split(host_nw, r"\.")
    domain = psl_domain_expr(psl_lastk_exprs(labels), host_nw)
    if path is None:
        path = F.regexp_extract(c, _URL_PATH_RE, 1)
    return {
        "authority": F.regexp_extract(c, _URL_HOST_RE, 1),
        "host": host,
        "domain": domain,
        "blocked": domain.isin(*URL_BLOCKLIST),
        "scheme": F.regexp_extract(c, _URL_SCHEME_RE, 1),
        "depth": F.size(
            F.filter(F.split(path, "/"), lambda x: x != "")
        ).cast("long"),
        "tracker": c.rlike(r"[?&]utm_"),
        "canonical": F.concat(
            host_nw, F.regexp_replace(path, "/$", "")
        ),
    }


def url_pass_bits(
    col: Column | str,
    max_depth: int = 6,
    *,
    host: Column | None = None,
    path: Column | None = None,
) -> Column:
    """5-char '1'/'0' string, one char per URL rule (fixed order):
    parseable host; domain not blocklisted; https scheme; path depth
    <= max_depth; no utm_* tracker params. '11111' = keep. Pass
    pre-projected ``host=``/``path=`` on wide scans (see the
    url_signals PERF note)."""
    s = url_signals(col, host=host, path=path)
    bits = [
        s["host"] != "",
        ~s["blocked"],
        s["scheme"] == "https",
        s["depth"] <= max_depth,
        ~s["tracker"],
    ]
    out = None
    for b in bits:
        ch = F.when(b, F.lit("1")).otherwise(F.lit("0"))
        out = ch if out is None else F.concat(out, ch)
    return out


def with_url_signals(
    df, col: Column | str, prefix: str = "url_", max_depth: int = 6
):
    """Attach every url signal (plus the 5-bit pass string) as REAL
    columns through LAYERED projections — the production-scan form of
    url_signals.

    url_signals returns expression TREES: each signal that references
    the domain chain re-embeds authority-extract -> userinfo/port
    strip -> www strip -> label split -> PSL in-set (~170 literals),
    so a scan consuming several signals pays the chain per reference
    (and the analyzed plan carries the in-set once per reference —
    the r10 text_profile analysis-cost lesson). Here each
    intermediate binds as a column before anything references it, so
    every stage of the chain computes ONCE per row and appears ONCE
    in the plan; whole-stage codegen collapses the stacked selects
    into a single stage. Values are identical to url_signals
    (contract-tested). Intermediates are dropped; the kept columns
    are `<prefix>{authority,host,domain,blocked,scheme,depth,
    tracker,canonical,pass_bits}`."""
    c = F.lower(_c(col))
    star = [F.col(x) for x in df.columns]
    out = df.select(
        *star,
        F.regexp_extract(c, _URL_HOST_RE, 1).alias(f"{prefix}authority"),
        F.regexp_extract(c, _URL_SCHEME_RE, 1).alias(f"{prefix}scheme"),
        F.regexp_extract(c, _URL_PATH_RE, 1).alias("_u_path"),
        c.rlike(r"[?&]utm_").alias(f"{prefix}tracker"),
    )
    out = out.withColumn(
        f"{prefix}host",
        F.regexp_replace(
            F.regexp_replace(
                F.col(f"{prefix}authority"), _URL_USERINFO_RE, ""
            ),
            _URL_PORT_RE,
            "",
        ),
    )
    out = out.withColumn(
        "_u_hostnw",
        F.regexp_replace(F.col(f"{prefix}host"), r"^www\.", ""),
    )
    out = out.withColumn("_u_labels", F.split(F.col("_u_hostnw"), r"\."))
    labels = F.col("_u_labels")
    # NULL-guarded lastK columns bound once (element_at OOB throws
    # under ANSI; see psl_lastk_exprs), then the merged PSL-match CASE
    # over the bound columns — each rule-set in-set appears once in
    # the plan
    lk = psl_lastk_exprs(labels)
    out = out.withColumns(
        {f"_u_last{k}": lk[k - 1] for k in range(1, _PSL_MAX_LASTK + 1)}
    )
    out = out.withColumn(
        f"{prefix}domain",
        psl_domain_expr(
            [F.col(f"_u_last{k}") for k in range(1, _PSL_MAX_LASTK + 1)],
            F.col("_u_hostnw"),
        ),
    )
    out = out.select(
        *[F.col(x) for x in out.columns],
        F.col(f"{prefix}domain").isin(*URL_BLOCKLIST).alias(
            f"{prefix}blocked"
        ),
        F.size(
            F.filter(F.split("_u_path", "/"), lambda x: x != "")
        ).cast("long").alias(f"{prefix}depth"),
        F.concat(
            F.col("_u_hostnw"), F.regexp_replace("_u_path", "/$", "")
        ).alias(f"{prefix}canonical"),
    )
    bits = [
        F.col(f"{prefix}host") != "",
        ~F.col(f"{prefix}blocked"),
        F.col(f"{prefix}scheme") == "https",
        F.col(f"{prefix}depth") <= max_depth,
        ~F.col(f"{prefix}tracker"),
    ]
    pass_bits = None
    for b in bits:
        ch = F.when(b, F.lit("1")).otherwise(F.lit("0"))
        pass_bits = ch if pass_bits is None else F.concat(pass_bits, ch)
    return out.withColumn(f"{prefix}pass_bits", pass_bits).drop(
        "_u_path", "_u_hostnw", "_u_labels",
        *[f"_u_last{k}" for k in range(1, _PSL_MAX_LASTK + 1)],
    )


def _sql_url_list() -> str:
    return "[" + ", ".join(f"'{d}'" for d in URL_BLOCKLIST) + "]"


def _sql_psl_domain(labels: str, host_nw: str) -> str:
    """DuckDB mirror of psl_domain_expr — the SAME data-driven chain
    compiled to one CASE, each rule set as one IN list (DuckDB
    hash-joins large IN lists; measured 0.06 s for the 5.5k-entry
    2-label set over 60k rows). Negative list indexing past the
    length yields NULL in DuckDB, so the lastK concats NULL-propagate
    — the same no-match fall-through the guarded Spark exprs
    produce; a NULL IN (...) is NULL -> the CASE falls through."""
    lk = {1: f"({labels})[-1]"}
    for k in range(2, _PSL_MAX_LASTK + 1):
        inner = " || '.' || ".join(f"({labels})[-{i}]" for i in range(k, 0, -1))
        lk[k] = f"({inner})"

    def inset(k: int, ps: int, vals) -> str:
        s = f"{lk[k]} IN (" + ", ".join(f"'{v}'" for v in vals) + ")"
        if k == ps - 1:  # wildcard base: host needs base+1 labels
            s = f"({s} AND {lk[ps]} IS NOT NULL)"
        return s

    branches = []
    for ps, groups in _PSL_CHAIN:
        cond = " OR ".join(inset(k, ps, vals) for k, vals in groups if vals)
        if not cond:
            continue
        branches.append(
            f"WHEN ({cond}) THEN coalesce({lk[ps + 1]}, {host_nw})"
        )
    return (
        "CASE "
        + " ".join(branches)
        + f" ELSE coalesce({lk[2]}, {host_nw}) END"
    )


def sql_url_signals(expr: str) -> dict[str, str]:
    """DuckDB mirrors of url_signals, same names and regexes."""
    c = f"lower({expr})"
    auth = f"regexp_extract({c}, '{_URL_HOST_RE}', 1)"
    host = (
        f"regexp_replace(regexp_replace({auth}, '{_URL_USERINFO_RE}', ''), "
        f"'{_URL_PORT_RE}', '')"
    )
    host_nw = f"regexp_replace({host}, '^www\\.', '')"
    labels = f"string_split({host_nw}, '.')"
    domain = _sql_psl_domain(labels, host_nw)
    path = f"regexp_extract({c}, '{_URL_PATH_RE}', 1)"
    return {
        "authority": auth,
        "host": host,
        "domain": domain,
        "blocked": f"list_contains({_sql_url_list()}, {domain})",
        "scheme": f"regexp_extract({c}, '{_URL_SCHEME_RE}', 1)",
        "depth": f"len(list_filter(string_split({path}, '/'), x -> x <> ''))",
        "tracker": f"regexp_matches({c}, '[?&]utm_')",
        "canonical": f"{host_nw} || regexp_replace({path}, '/$', '')",
    }


def sql_url_pass_bits(expr: str, max_depth: int = 6) -> str:
    s = sql_url_signals(expr)
    bits = [
        f"({s['host']} <> '')",
        f"(NOT {s['blocked']})",
        f"({s['scheme']} = 'https')",
        f"({s['depth']} <= {max_depth})",
        f"(NOT {s['tracker']})",
    ]
    return " || ".join(f"(CASE WHEN {b} THEN '1' ELSE '0' END)" for b in bits)
