"""PII redaction, benchmark decontamination, repetition signals."""

import os

import pytest

from pyspark.sql import functions as F

from alma_memory_spark.functions.pii import pii_count, redact_pii
from alma_memory_spark.functions.text import dup_ngram_fraction
from alma_memory_spark.operators.decontam import (
    contamination_report,
    decontaminate,
)


def test_pii_counts_and_redaction(spark):
    rows = [
        (0, "reach me at jo.doe+x@mail.example.org or 415-555-0123"),
        (1, "server 192.168.1.77 and ssn 123-45-6789 leaked"),
        (2, "no pii here at all"),
        (3, "two mails: a@b.co c@d.io and ip 10.0.0.1"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r["id"]: r
        for r in df.select(
            "id",
            pii_count("text", "email").alias("email"),
            pii_count("text", "phone").alias("phone"),
            pii_count("text", "ipv4").alias("ipv4"),
            pii_count("text", "ssn").alias("ssn"),
            redact_pii("text").alias("red"),
        ).collect()
    }
    assert (got[0]["email"], got[0]["phone"]) == (1, 1)
    assert (got[1]["ipv4"], got[1]["ssn"]) == (1, 1)
    assert all(got[2][k] == 0 for k in ("email", "phone", "ipv4", "ssn"))
    assert (got[3]["email"], got[3]["ipv4"]) == (2, 1)
    assert got[0]["red"] == "reach me at <EMAIL> or <PHONE>"
    assert got[1]["red"] == "server <IPV4> and ssn <SSN> leaked"
    assert got[3]["red"] == "two mails: <EMAIL> <EMAIL> and ip <IPV4>"
    # redaction is idempotent: placeholders contain no PII shapes
    again = (
        df.select(redact_pii(redact_pii("text")).alias("r2")).collect()
    )
    assert [r["r2"] for r in again] == [got[i]["red"] for i in range(4)]


def test_phone_formats_match_oracle_engine(spark):
    """Pinned (ADVICE r7 #3): the broadened phone pattern covers the
    common NANP renderings — parenthesized area code, space separators,
    +1 prefix — and Spark (Java regex) agrees byte-for-byte with the
    DuckDB (RE2) oracle on counts AND redacted text."""
    import duckdb

    from alma_memory_spark.functions.pii import sql_pii_count, sql_redact_pii

    rows = [
        (0, "call 415-555-1234 now"),
        (1, "call (415) 555-1234"),
        (2, "call (415)555-1234"),
        (3, "+1 415 555 1234"),
        (4, "+1-415-555-1234"),
        (5, "dotted 415.555.1234"),
        (6, "ssn-shaped 123-45-6789 stays"),
        (7, "ip-shaped 10.137.0.59 stays"),
        (8, "bare run +14155551234 out of scope"),
        (9, "years 2019 100 2000 stay"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r["id"]: (r["n"], r["red"])
        for r in df.select(
            "id",
            pii_count("text", "phone").alias("n"),
            redact_pii("text").alias("red"),
        ).collect()
    }
    con = duckdb.connect()
    for i, text in rows:
        n, red = con.execute(
            f"SELECT {sql_pii_count('t', 'phone')}, {sql_redact_pii('t')} "
            "FROM (SELECT ? AS t)",
            [text],
        ).fetchone()
        assert got[i] == (n, red), (i, got[i], (n, red))
    assert all(got[i][0] == 1 for i in range(6))  # the 6 accepted forms
    assert all(got[i][0] == 0 for i in range(6, 10))  # documented misses


def test_gopher_quality_rules_hand_cases(spark):
    """Each published rule trips on its own pathology and a clean doc
    passes all seven (order: words, mean-len, symbols, bullets,
    ellipsis, alpha, stopwords)."""
    from alma_memory_spark.functions.text import (
        gopher_pass_bits,
        gopher_quality_pass,
    )

    clean = (
        "the quick brown fox jumps over that lazy dog and it will have "
        "kept running with steady calm pace for hours today"
    )
    rows = [
        (0, clean),
        (1, "too few words"),  # word count below min
        (2, "the of " + "# " * 30 + "and that have with words here now "
            "keep going along fine today"),  # symbol ratio > 0.1
        (3, "\n".join("- bullet %d of the set and that have with" % i
                      for i in range(10))),  # bullet fraction > 0.9
        (4, "the of and " + "12345 9876 " * 12 + "that have with"),  # alpha < 0.8
        (5, "zz qq xx " * 8),  # no required stopwords
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r["id"]: (r["bits"], r["keep"])
        for r in df.select(
            "id",
            gopher_pass_bits("text", min_words=10).alias("bits"),
            gopher_quality_pass("text", min_words=10).alias("keep"),
        ).collect()
    }
    assert got[0] == ("1111111", True)
    assert got[1][0][0] == "0" and not got[1][1]  # word-count bit
    assert got[2][0][2] == "0" and not got[2][1]  # symbol bit
    assert got[3][0][3] == "0" and not got[3][1]  # bullet bit
    assert got[4][0][5] == "0" and not got[4][1]  # alpha bit
    assert got[5][0][6] == "0" and not got[5][1]  # stopword bit


def test_paragraph_dedup_keeps_global_first_occurrence(spark):
    """Hand-computed paragraph dedup: the globally FIRST (doc_id, idx)
    occurrence of each paragraph fingerprint survives; docs reassemble
    in original order; a fully-duplicated doc comes back empty instead
    of vanishing."""
    from alma_memory_spark.operators.paragraphs import dedup_paragraphs

    rows = [
        (1, "alpha one\n\nshared footer\n\nbeta two"),
        (2, "gamma three\n\nshared footer\n\nalpha one"),
        (3, "shared footer"),  # every paragraph already seen
        (4, "  \n\n Shared   FOOTER \n\ndelta four"),  # normalized dup
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in dedup_paragraphs(df).collect()}
    assert got[1]["text_dedup"] == "alpha one\n\nshared footer\n\nbeta two"
    assert (got[1]["n_paras"], got[1]["n_kept"]) == (3, 3)
    # 'alpha one' and 'shared footer' first appeared in doc 1
    assert got[2]["text_dedup"] == "gamma three"
    assert (got[2]["n_paras"], got[2]["n_kept"]) == (3, 1)
    assert got[3]["text_dedup"] == "" and got[3]["n_kept"] == 0
    # fingerprint normalizes case + whitespace: ' Shared   FOOTER ' dups
    assert got[4]["text_dedup"] == "delta four"
    assert (got[4]["n_paras"], got[4]["n_kept"]) == (2, 1)
    assert set(got) == {1, 2, 3, 4}


def test_decontamination_flags_and_drops_shared_ngrams(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu"
    train = spark.createDataFrame(
        [
            (1, "intro words then " + shared + " trailing text"),
            (2, "completely unrelated content with its own tokens here and more of them now"),
            (3, shared),  # verbatim benchmark copy
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "prefix " + shared + " suffix")], "doc_id long, text string"
    )
    rep = {
        r["doc_id"]: r["n_shared"]
        for r in contamination_report(train, bench, n=13).collect()
    }
    assert set(rep) == {1, 3} and rep[1] >= 1 and rep[3] >= 1
    kept = decontaminate(train, bench, n=13)
    assert [r["doc_id"] for r in kept.collect()] == [2]
    # a clean corpus reports nothing and survives intact
    assert contamination_report(train.filter("doc_id = 2"), bench, n=13).count() == 0


def test_dup_ngram_fraction_boilerplate_signal(spark):
    df = spark.createDataFrame(
        [(0, "buy now " * 30), (1, "a varied sentence with unique words only")],
        "id long, text string",
    )
    got = {
        r["id"]: r["f"]
        for r in df.select("id", F.round(dup_ngram_fraction("text", 2), 6).alias("f")).collect()
    }
    assert got[0] > 0.9  # looping boilerplate
    assert got[1] == 0.0


def test_write_training_shards_one_ordered_file_per_shard(spark, tmp_path):
    import os

    from alma_memory_spark.operators.packing import pack_documents_nostraddle
    from alma_memory_spark.pipeline import write_training_shards
    from alma_memory_spark.session import load_table

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    docs = load_table(spark, sf, "documents").select(
        "doc_id", F.length("text").alias("n_tokens")
    )
    packed = pack_documents_nostraddle(
        docs, budget=1000, token_col="n_tokens", key_col="doc_id", n_shards=4
    )
    out = str(tmp_path / "shards")
    write_training_shards(packed, out)
    # one data file per shard dir
    for d in sorted(os.listdir(out)):
        if not d.startswith("shard="):
            continue
        files = [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    # rows within each shard stream blocks in order
    back = spark.read.parquet(out)
    import pyarrow.parquet as pq

    for d in sorted(os.listdir(out)):
        if not d.startswith("shard="):
            continue
        fdir = os.path.join(out, d)
        f = [x for x in os.listdir(fdir) if x.endswith(".parquet")][0]
        t = pq.read_table(os.path.join(fdir, f)).to_pandas()
        key = list(zip(t["pack_id"], t["pack_offset"]))
        assert key == sorted(key)
    assert back.count() == packed.count()


def test_sentence_dedup_is_byte_faithful_and_keeps_first(spark):
    """r9 (VERDICT r8 #5): the separator-preserving sentence split —
    (a) on a corpus with NO cross-doc duplicates, reassembly is
    byte-identical to the input (the property the r8 regex split could
    not give); (b) a boilerplate sentence inside otherwise-unique
    paragraphs dedups at global first occurrence, which paragraph mode
    misses entirely."""
    from alma_memory_spark.operators.paragraphs import (
        dedup_paragraphs,
        dedup_sentences,
    )

    nodup = [
        (1, "First sentence here. Second one!  Third?\nNew line start."),
        (2, "Single sentence without terminal"),
        (3, "Tabs after.\tThen more text. Trailing boundary. "),
        (4, "No punctuation at all just words"),
    ]
    df = spark.createDataFrame(nodup, "doc_id long, text string")
    got = {r["doc_id"]: r for r in dedup_sentences(df).collect()}
    for did, text in nodup:
        assert got[did]["text_dedup"] == text, did
        assert got[did]["n_kept"] == got[did]["n_paras"]

    boiler = "Subscribe to our newsletter today."
    rows = [
        (1, f"Unique intro one. {boiler} Unique tail one."),
        (2, f"Unique intro two! {boiler} Unique tail two."),
        (3, f"{boiler}"),
    ]
    df2 = spark.createDataFrame(rows, "doc_id long, text string")
    sgot = {r["doc_id"]: r for r in dedup_sentences(df2).collect()}
    assert sgot[1]["text_dedup"] == rows[0][1]
    assert sgot[2]["text_dedup"] == "Unique intro two! Unique tail two."
    assert (sgot[2]["n_paras"], sgot[2]["n_kept"]) == (3, 2)
    assert sgot[3]["text_dedup"] == "" and sgot[3]["n_kept"] == 0
    # paragraph mode (blank-line separator) sees one unit per doc and
    # misses the embedded boilerplate sentence — the gap this closes
    pgot = {r["doc_id"]: r for r in dedup_paragraphs(df2).collect()}
    assert pgot[2]["text_dedup"] == rows[1][1]


def test_sentence_split_enforces_sentinel_precondition(spark):
    """r10 ADVICE: a pre-existing \\x1e byte in the text must not
    corrupt unit boundaries — it is stripped before marking, so the
    split behaves as if the text were sanitized (and reassembly is
    byte-faithful w.r.t. the sanitized text)."""
    from alma_memory_spark.operators.paragraphs import (
        dedup_sentences,
        explode_sentences,
    )

    dirty = [
        (1, "First part.\x1e Second part. Third."),
        (2, "Adjacent\x1e\x1ebytes here. Tail."),
    ]
    df = spark.createDataFrame(dirty, "doc_id long, text string")
    units = {
        (r["doc_id"], r["idx"]): r["p"]
        for r in explode_sentences(df).collect()
    }
    # the \x1e never acts as a split point itself: doc 1 yields the 3
    # real sentences of the sanitized text, nothing more
    assert units[(1, 0)] == "First part. "
    assert units[(1, 1)] == "Second part. "
    assert units[(1, 2)] == "Third."
    assert (1, 3) not in units
    assert units[(2, 0)] == "Adjacentbytes here. "
    got = {r["doc_id"]: r for r in dedup_sentences(df).collect()}
    assert got[1]["text_dedup"] == "First part. Second part. Third."
    assert got[2]["text_dedup"] == "Adjacentbytes here. Tail."


def test_substring_dedup_token_windows(spark):
    """r10 (VERDICT r9 #2): Lee-et-al-style substring dedup — a shared
    token span with NO sentence boundary dedups at global first window
    occurrence; byte-faithful re-splice on no-dup docs; within-doc
    repeats handled; docs shorter than w untouched."""
    from alma_memory_spark.operators.paragraphs import dedup_sentences
    from alma_memory_spark.operators.substring import dedup_token_windows

    boiler = "common navigation header links home about contact search"
    rows = [
        (1, f"alpha intro words here {boiler} alpha tail"),
        (2, f"beta  intro\twords there {boiler} beta tail"),
        (3, f"{boiler}"),
        (4, "too short"),
        (5, "  leading ws kept intact with unique content only here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in dedup_token_windows(df, w=4).collect()}
    # first occurrence keeps everything, byte-for-byte
    assert got[1]["text_dedup"] == rows[0][1]
    assert got[1]["n_kept"] == got[1]["n_units"]
    # doc 2: the 8 boiler tokens excised; doc-specific bytes (incl.
    # the double space and tab) survive the re-splice untouched
    assert boiler not in got[2]["text_dedup"]
    assert got[2]["text_dedup"].startswith("beta  intro\twords there ")
    assert got[2]["text_dedup"].endswith("beta tail")
    # doc 3 is ALL boilerplate -> fully excised (the drop-doc signal:
    # n_kept < n_units flags it for whole-doc dropping downstream)
    assert got[3]["text_dedup"] == "" and got[3]["n_kept"] == 0
    # shorter than w -> no windows -> untouched
    assert got[4]["text_dedup"] == rows[3][1]
    assert got[5]["text_dedup"] == rows[4][1]
    # sentence mode misses the span entirely (no terminal punctuation)
    sgot = {r["doc_id"]: r for r in dedup_sentences(df).collect()}
    assert boiler in sgot[2]["text_dedup"]
    # within-doc repetition: the second occurrence of a >=w-token span
    # inside the SAME doc is excised too (keep-first by (doc, start))
    rep = spark.createDataFrame(
        [(7, "one two three four five AND one two three four five")],
        "doc_id long, text string",
    )
    rgot = dedup_token_windows(rep, w=5).collect()[0]
    assert rgot["text_dedup"] == "one two three four five AND "
    assert (rgot["n_units"], rgot["n_kept"]) == (11, 6)


def test_substring_dedup_releases_cached_triple(spark):
    """VERDICT r14 #4 (second attempt): the (fp, id, start) triple
    dedup_token_windows persists for within-call reuse must not
    accumulate in a long-lived session. The bounded LRU keeps the
    newest two triples and unpersists the oldest on overflow — so a
    soak loop's cached-RDD count stays flat instead of growing per
    invocation.

    Each call dedups a distinct corpus and collects `text_dedup`: a
    `doc_id`-only select lets Catalyst prune the cached join (nothing
    is ever cached), and identical inputs share one cache entry."""
    import time

    from alma_memory_spark.operators import substring as S

    def n_cached():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    def docs(k):
        return spark.createDataFrame(
            [(i, "shared boiler span tokens " * 6 + f"tail {i} {k}") for i in range(8)],
            "doc_id long, text string",
        )

    spark.catalog.clearCache()
    S._TRIPLES.clear()
    base = n_cached()
    for k in range(5):
        S.dedup_token_windows(docs(k), w=4).select("doc_id", "text_dedup").collect()
    # unpersist(blocking=False) + ContextCleaner are async; poll briefly
    deadline = time.time() + 30
    keep = S._TRIPLES.max_entries
    while n_cached() - base > keep and time.time() < deadline:
        time.sleep(0.2)
    extra = n_cached() - base
    assert extra <= keep, (
        f"{extra} triples retained after 5 invocations; LRU cap is {keep}"
    )
    assert extra >= 1, "nothing was cached: the bound would hold vacuously"
    spark.catalog.clearCache()
    S._TRIPLES.clear()


def test_substring_dedup_chained_caller_keeps_cache(spark):
    """Regression pin for the r15 finalizer defect: every real caller
    chains transformations off the operator's result
    (`dedup_token_windows(d).select(...)`), which drops the
    intermediate Python wrapper immediately — a result-lifetime
    weakref finalizer fired BEFORE execution and silently removed the
    shared fingerprint triple from the plan (the r14 -38% win's
    persist half). The executed plan of a chained call must still read
    the triple through InMemoryTableScan after a gc pass."""
    import gc

    from alma_memory_spark.operators import substring as S

    spark.catalog.clearCache()
    S._TRIPLES.clear()
    df = spark.createDataFrame(
        [(i, "shared boiler span tokens " * 6 + f"tail {i}") for i in range(8)],
        "doc_id long, text string",
    )
    chained = S.dedup_token_windows(df, w=4).select("doc_id", "text_dedup")
    gc.collect()
    plan = chained._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, (
        "chained caller lost the persisted fingerprint triple — the "
        "shared pass is running twice again"
    )
    spark.catalog.clearCache()
    S._TRIPLES.clear()


def test_substring_triple_keep_floor_keeps_newest_triple(spark, monkeypatch):
    """Both directions of the retention floor: with a bound of 1 the
    newest triple stays persisted and in the plan of its caller, and an
    older one is still released."""
    from alma_memory_spark.operators import substring as S

    spark.catalog.clearCache()
    S._TRIPLES.clear()
    monkeypatch.setattr(S._TRIPLES, "max_entries", 1)
    older, df = (
        spark.createDataFrame(
            [(i, f"{word} boiler span tokens " * 6 + f"tail {i}") for i in range(8)],
            "doc_id long, text string",
        )
        for word in ("older", "newer")
    )
    S.dedup_token_windows(older, w=4)
    (first,) = S._TRIPLES.values()
    newest = S.dedup_token_windows(df, w=4).select("doc_id", "text_dedup")
    plan = newest._jdf.queryExecution().executedPlan().toString()
    kept = S._TRIPLES.values()
    assert "InMemoryTableScan" in plan and len(kept) == 1
    assert kept[0].storageLevel.useMemory or kept[0].storageLevel.useDisk
    assert first is not kept[0]
    assert not (first.storageLevel.useMemory or first.storageLevel.useDisk)
    spark.catalog.clearCache()
    S._TRIPLES.clear()


def test_triple_cache_retain_is_thread_safe(spark, monkeypatch):
    """Concurrent driver threads retaining triples at once must leave
    exactly the cache's bound of entries for the session, each
    still persisted, and no other triple persisted. Unlocked, two
    threads could both pass the size check for one surplus entry and
    both evict (a live triple dropped, or a pop from an empty list)."""
    import threading
    import time

    from alma_memory_spark.operators import substring as S

    class YieldingKeep(int):
        # the size check yields the GIL, widening the check-then-evict
        # window so an unlocked interleaving shows up on every run
        def __lt__(self, other):
            time.sleep(0.02)
            return int(self) < other

    spark.catalog.clearCache()
    S._TRIPLES.clear()
    keep = S._TRIPLES.max_entries
    monkeypatch.setattr(S._TRIPLES, "max_entries", YieldingKeep(keep))
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    # compare RDD ids, not counts: the ContextCleaner may free RDDs that
    # earlier tests persisted while this one runs
    before = persisted()
    n = 16
    triples = [spark.range(i + 1).persist() for i in range(n)]
    for t in triples:
        t.count()
    own = persisted() - before
    assert len(own) == n
    go = threading.Barrier(n)
    errs = []

    def retain(t):
        try:
            go.wait()
            S._triple_cache_retain(t)
        except Exception as e:  # pragma: no cover - failure path
            errs.append(e)

    threads = [threading.Thread(target=retain, args=(t,)) for t in triples]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    kept = S._TRIPLES.values()
    assert len(kept) == keep
    assert all(t.storageLevel.useMemory or t.storageLevel.useDisk for t in kept)
    assert len(own & persisted()) == keep
    spark.catalog.clearCache()
    S._TRIPLES.clear()


def test_foreign_session_triple_is_unpersisted(spark):
    """ADVICE #1, both directions: a triple held under another
    applicationId (a stopped session's) is unpersisted, not just
    dropped, when the live session retains; the live session's newest
    triples stay persisted."""
    import time

    from alma_memory_spark.operators import substring as S

    spark.catalog.clearCache()
    S._TRIPLES.clear()
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    base = len(persisted())
    foreign = spark.range(5).persist()
    foreign.count()
    S._TRIPLES.put(("fake-app", 0), foreign)
    bound = S._TRIPLES.max_entries
    mine = [spark.range(i + 10).persist() for i in range(bound)]
    for t in mine:
        t.count()
        S._triple_cache_retain(t)
    # unpersist(blocking=False) is async; poll briefly
    deadline = time.time() + 10
    while len(persisted()) - base > bound and time.time() < deadline:
        time.sleep(0.2)
    assert len(persisted()) - base == bound
    assert not (foreign.storageLevel.useMemory or foreign.storageLevel.useDisk)
    assert all(t.storageLevel.useMemory or t.storageLevel.useDisk for t in mine)
    assert S._TRIPLES.values() == mine
    spark.catalog.clearCache()
    S._TRIPLES.clear()


def test_url_signals_and_pass_bits(spark):
    """r9 (VERDICT r8 #6): URL quality rules — host/domain extraction,
    registrable-domain blocklist, scheme/depth/tracker bits, and the
    canonical dedup key (scheme-, www-, trailing-slash- and
    query-insensitive)."""
    from alma_memory_spark.functions.text import url_pass_bits, url_signals

    rows = [
        (1, "https://www.example.com/docs/page-1"),
        (2, "http://example.com/docs/page-1/"),          # canon-dup of 1
        (3, "https://blog.example.com/docs/page-1"),     # different host
        (4, "https://spam.example/x"),                   # blocklisted
        (5, "https://news.test/a/b/c/d/e/f/g/h"),        # too deep
        (6, "https://news.test/a?utm_source=feed"),      # tracker
        (7, "not a url at all"),
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    s = url_signals(F.col("url"))
    got = {
        r["id"]: r
        for r in df.select(
            "id", s["host"].alias("h"), s["domain"].alias("d"),
            s["blocked"].alias("b"), s["canonical"].alias("c"),
            url_pass_bits("url").alias("bits"),
        ).collect()
    }
    assert got[1]["h"] == "www.example.com" and got[1]["d"] == "example.com"
    # canonical key unifies scheme/www/trailing-slash variants
    assert got[1]["c"] == got[2]["c"] == "example.com/docs/page-1"
    assert got[3]["c"] == "blog.example.com/docs/page-1" != got[1]["c"]
    assert got[4]["b"] and not got[1]["b"]
    assert got[1]["bits"] == "11111"
    assert got[2]["bits"] == "11011"   # http scheme fails bit 3
    assert got[4]["bits"] == "10111"   # blocklist bit
    assert got[5]["bits"] == "11101"   # depth bit
    assert got[6]["bits"] == "11110"   # tracker bit
    assert got[7]["bits"][0] == "0"    # unparseable host


def test_url_signals_authority_and_psl(spark):
    """r10: userinfo/port are stripped from the authority before
    domain/blocklist/canonical derive (ADVICE — otherwise
    'user@spam.example' bypasses the blocklist and ':80' splits
    canonical dedup groups), and registrable domains honor the
    public-suffix snapshot (VERDICT r9 #3 — last-2-label would yield
    'co.uk'/'github.io' and mis-group whole registries)."""
    from alma_memory_spark.functions.text import url_signals

    rows = [
        (1, "https://user@spam.example/x"),              # userinfo bypass
        (2, "https://spam.example:443/x"),               # port bypass
        (3, "https://example.com:80/docs/page-1"),
        (4, "https://example.com/docs/page-1"),          # canon-dup of 3
        (5, "https://shop.bad.co.uk/y"),                 # PSL: bad.co.uk
        (6, "https://www.other.shop.example.co.uk/z"),   # PSL 3-label
        (7, "https://docs.pages.github.io/p"),           # platform suffix
        (8, "https://github.io/p"),                      # bare suffix host
        (9, "https://user:pw@example.com:8443/docs/page-1"),  # both
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    s = url_signals(F.col("url"))
    got = {
        r["id"]: r
        for r in df.select(
            "id", s["host"].alias("h"), s["domain"].alias("d"),
            s["blocked"].alias("b"), s["canonical"].alias("c"),
            s["authority"].alias("a"),
        ).collect()
    }
    # userinfo/port stripped from host -> blocklist catches both
    assert got[1]["h"] == "spam.example" and got[1]["b"]
    assert got[2]["h"] == "spam.example" and got[2]["b"]
    # raw authority still available as its own signal
    assert got[1]["a"] == "user@spam.example"
    assert got[2]["a"] == "spam.example:443"
    # port variants share the canonical dedup key
    assert got[3]["c"] == got[4]["c"] == got[9]["c"] == "example.com/docs/page-1"
    # registrable domain through the PSL snapshot
    assert got[5]["d"] == "bad.co.uk" and got[5]["b"]
    assert got[6]["d"] == "example.co.uk" and not got[6]["b"]
    assert got[7]["d"] == "pages.github.io"
    # a bare public-suffix host has nothing above it: last-2 fallback
    assert got[8]["d"] == "github.io"


def test_lm_quality_scores_hand_computed(spark):
    """r9: CCNet-shape unigram LM quality — hand-computed smoothed
    log-probs on a tiny corpus, self-train vs reference-corpus scoring
    with the OOV floor, and partition-invariance of the DECIMAL mean."""
    import math

    from alma_memory_spark.operators.lm_quality import (
        lm_quality_scores,
        unigram_lm,
    )

    rows = [(1, "aa aa bb"), (2, "aa cc")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # counts: aa=3 bb=1 cc=1; total=5 vocab=3 -> denom 8
    lp = {t: round(math.log((c + 1) / 8), 10) for t, c in
          {"aa": 3, "bb": 1, "cc": 1}.items()}
    got = {r["doc_id"]: r for r in lm_quality_scores(df).collect()}
    want1 = round((2 * lp["aa"] + lp["bb"]) / 3, 6)
    want2 = round((lp["aa"] + lp["cc"]) / 2, 6)
    assert (got[1]["n_tokens"], got[1]["score"]) == (3, want1)
    assert (got[2]["n_tokens"], got[2]["score"]) == (2, want2)
    # reference-corpus scoring: unseen token takes the floor ln(1/8)
    lm, stats = unigram_lm(df)
    new = spark.createDataFrame([(9, "aa zz")], "doc_id long, text string")
    out = lm_quality_scores(new, lm=lm, stats=stats).collect()[0]
    floor = round(math.log(1 / 8), 10)
    assert out["score"] == round((lp["aa"] + floor) / 2, 6)
    # partition-invariant mean (DECIMAL sum): 1 vs 8 partitions agree
    import os as _os

    from alma_memory_spark.session import load_table

    sf_dir = _os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
    )
    docs = load_table(spark, sf_dir, "documents")
    a = {r["doc_id"]: r["score"]
         for r in lm_quality_scores(docs.coalesce(1)).collect()}
    b = {r["doc_id"]: r["score"]
         for r in lm_quality_scores(docs.repartition(8)).collect()}
    assert a == b


def test_lm_tail_ids_bottom_decile_with_ties(spark):
    """r9/r10: the CCNet tail bucket on BOTH cutoff paths — the exact
    TakeOrdered bottom-k (bounded-SF oracle path) and the at-scale
    percentile_approx sketch (VERDICT r9 #1) — boundary ties included
    deterministically, and the two paths agreeing whenever n fits the
    sketch (where the GK summary is exact)."""
    from alma_memory_spark.operators.lm_quality import lm_tail_ids

    rows = [(i, float(-i)) for i in range(1, 21)]  # scores -1..-20
    df = spark.createDataFrame(rows, "doc_id long, score double")
    # k = 2 -> cutoff = -19; ids 19, 20 — on both paths
    for method in ("exact", "approx"):
        got = {
            r["doc_id"]
            for r in lm_tail_ids(df, frac=0.1, method=method).collect()
        }
        assert got == {19, 20}, method
    # ties at the cutoff all included (both paths)
    tied = spark.createDataFrame(
        [(1, -5.0), (2, -5.0), (3, -5.0), (4, -1.0), (5, -1.0),
         (6, -1.0), (7, -1.0), (8, -1.0), (9, -1.0), (10, -1.0)],
        "doc_id long, score double",
    )
    for method in ("exact", "approx"):
        got2 = {
            r["doc_id"]
            for r in lm_tail_ids(tied, frac=0.1, method=method).collect()
        }
        assert got2 == {1, 2, 3}, method
    # frac too small for one row: exact -> empty; approx clamps to the
    # distribution minimum (a sketch has no notion of k=0) — documented
    assert lm_tail_ids(df, frac=0.01, method="exact").count() == 0
    assert {
        r["doc_id"]
        for r in lm_tail_ids(df, frac=0.01, method="approx").collect()
    } == {20}
    # frac <= 0 -> empty on any path; unknown method raises
    assert lm_tail_ids(df, frac=0.0).count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="method"):
        lm_tail_ids(df, frac=0.1, method="nope")
    # NULL scores (zero-token docs) are never in the tail
    withnull = df.unionByName(
        spark.createDataFrame([(99, None)], "doc_id long, score double")
    )
    for method in ("exact", "approx"):
        got3 = {
            r["doc_id"]
            for r in lm_tail_ids(withnull, frac=0.1, method=method).collect()
        }
        assert 99 not in got3 and got3 == {19, 20}, method


def test_lm_tail_paths_agree_on_random_data(spark):
    """Property: with n <= accuracy the sketch holds every value, so
    the approx cutoff is EXACTLY the value at rank ceil(frac*n)
    (empirically pinned convention — the premise the 'lmtailq' oracle
    gate rests on), and it equals the exact path's floor(frac*n)
    cutoff whenever frac*n is integral."""
    import math
    import random

    from alma_memory_spark.operators.lm_quality import lm_tail_ids

    rng = random.Random(410)
    for trial, n in enumerate((37, 100, 253)):
        rows = [
            (i, round(rng.uniform(-9.0, -2.0), 4)) for i in range(n)
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, score double"
        ).localCheckpoint(eager=True)
        svals = sorted(v for _, v in rows)
        for frac in (0.1, 0.25):
            a = {r[0] for r in lm_tail_ids(df, frac, method="approx").collect()}
            cut = svals[math.ceil(frac * n) - 1]
            want = {i for i, v in rows if v <= cut}
            assert a == want, (trial, frac)
            e = {
                r[0]
                for r in lm_tail_ids(df, frac, method="exact").collect()
            }
            # exact2 (histogram two-pass selection) is DEFINED to equal
            # the exact path on any input
            e2 = {
                r[0]
                for r in lm_tail_ids(df, frac, method="exact2").collect()
            }
            assert e2 == e, (trial, frac)
            if (frac * n) == int(frac * n):  # conventions coincide
                assert e == a, (trial, frac)


def test_lm_tail_exact2_degenerate_distributions(spark):
    """exact2 edge cases: all-equal scores (one bin holds everything),
    heavy ties at the cutoff, tiny frac -> empty."""
    from alma_memory_spark.operators.lm_quality import lm_tail_ids

    allsame = spark.createDataFrame(
        [(i, -2.5) for i in range(10)], "doc_id long, score double"
    )
    got = {
        r["doc_id"]
        for r in lm_tail_ids(allsame, 0.3, method="exact2").collect()
    }
    assert got == set(range(10))  # cutoff = the one value, ties included
    tied = spark.createDataFrame(
        [(i, -5.0 if i < 4 else -1.0) for i in range(10)],
        "doc_id long, score double",
    )
    # frac=0.1 -> k=1 -> cutoff -5 (all four ties in); frac=0.5 ->
    # k=5 -> the 5th smallest is -1 -> everything is <= the cutoff
    for frac, want in ((0.1, {0, 1, 2, 3}), (0.5, set(range(10)))):
        got = {
            r["doc_id"]
            for r in lm_tail_ids(tied, frac, method="exact2").collect()
        }
        assert got == want, frac
    assert lm_tail_ids(allsame, 0.05, method="exact2").count() == 0


def test_lm_quality_empty_docs_and_arg_validation(spark):
    """r10 ADVICE: zero-token docs get (n_tokens=0, score=NULL) rows
    instead of vanishing; lm-without-stats raises a clear error."""
    import pytest as _pytest

    from alma_memory_spark.operators.lm_quality import (
        lm_quality_scores,
        unigram_lm,
    )

    rows = [(1, "aa aa bb"), (2, ""), (3, "   \t\n "), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in lm_quality_scores(df).collect()}
    assert set(got) == {1, 2, 3, 4}
    for empty_id in (2, 3, 4):
        assert got[empty_id]["n_tokens"] == 0
        assert got[empty_id]["score"] is None
    assert got[1]["n_tokens"] == 3 and got[1]["score"] is not None
    lm, stats = unigram_lm(df)
    with _pytest.raises(ValueError, match="together"):
        lm_quality_scores(df, lm=lm)
    with _pytest.raises(ValueError, match="together"):
        lm_quality_scores(df, stats=stats)


def test_unigram_lm_top_v_cap(spark):
    """r10 (VERDICT r9 #1): top_v bounds the broadcast model table —
    kept rows keep their exact log-probs, dropped tokens score at the
    unchanged full-corpus OOV floor."""
    import math

    from alma_memory_spark.operators.lm_quality import (
        lm_quality_scores,
        unigram_lm,
    )

    # counts: aa=4 bb=2 cc=1 dd=1 -> total=8 vocab=4 -> denom 12
    df = spark.createDataFrame(
        [(1, "aa aa bb cc"), (2, "aa aa bb dd")], "doc_id long, text string"
    )
    lm, stats = unigram_lm(df, top_v=2)
    kept = {r["token"]: r["logp"] for r in lm.collect()}
    # top-2 by count with token tie-break: aa (4), bb (2)
    assert set(kept) == {"aa", "bb"}
    assert kept["aa"] == round(math.log(5 / 12), 10)
    st = stats.collect()[0]
    assert (st["total"], st["vocab"]) == (8, 4)  # stats stay full-corpus
    # scoring under the capped lm: cc/dd take the floor ln(1/12)
    out = {
        r["doc_id"]: r["score"]
        for r in lm_quality_scores(df, lm=lm, stats=stats).collect()
    }
    floor = round(math.log(1 / 12), 10)
    want1 = round(
        (2 * round(math.log(5 / 12), 10) + round(math.log(3 / 12), 10)
         + floor) / 4, 6,
    )
    assert out[1] == want1 and out[2] == want1  # symmetric docs


def test_bigram_quality_scores_hand_computed(spark):
    """r10 (VERDICT r9 #6): bigram-conditional LM quality — hand-built
    add-one conditionals on a tiny corpus, short-doc NULL contract,
    reference-corpus floors, and partition invariance."""
    import math

    import pytest as _pytest

    from alma_memory_spark.operators.lm_quality import (
        bigram_lm,
        bigram_quality_scores,
    )

    # doc1 'aa bb aa bb' -> (aa,bb),(bb,aa),(aa,bb); doc2 'aa bb' ->
    # (aa,bb). c12[(aa,bb)]=3, c12[(bb,aa)]=1; ctx: aa=3, bb=1;
    # vocab = 3 distinct corpus tokens (aa, bb, solo)
    rows = [(1, "aa bb aa bb"), (2, "aa bb"), (3, "solo"), (4, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    lp_ab = round(math.log(4 / 6), 10)   # (3+1)/(3+3)
    lp_ba = round(math.log(2 / 4), 10)   # (1+1)/(1+3)
    got = {r["doc_id"]: r for r in bigram_quality_scores(df).collect()}
    assert got[1]["n_bigrams"] == 3
    assert got[1]["score"] == round((2 * lp_ab + lp_ba) / 3, 6)
    assert got[2]["score"] == round(lp_ab, 6)
    # <2 tokens -> no bigram evidence: n_bigrams=0, score NULL
    # ('solo' has vocab presence but no transitions)
    for short_id in (3, 4):
        assert got[short_id]["n_bigrams"] == 0
        assert got[short_id]["score"] is None
    # reference-corpus floors: known context (aa) -> ln(1/(c1+V));
    # unknown context (zz) -> ln(1/V). vocab here = 3 (aa bb solo)
    lm2, ctx, stats = bigram_lm(df)
    assert stats.collect()[0]["vocab"] == 3
    new = spark.createDataFrame(
        [(9, "aa zz"), (10, "zz qq")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r["score"]
        for r in bigram_quality_scores(
            new, lm2=lm2, ctx=ctx, stats=stats
        ).collect()
    }
    assert out[9] == round(round(math.log(1 / 6), 10), 6)   # c1(aa)=3, V=3
    assert out[10] == round(round(math.log(1 / 3), 10), 6)  # cold floor
    with _pytest.raises(ValueError, match="together"):
        bigram_quality_scores(df, lm2=lm2)
    # partition invariance of the DECIMAL mean
    import os as _os

    from alma_memory_spark.session import load_table

    sf_dir = _os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
    )
    docs = load_table(spark, sf_dir, "documents")
    a = {r["doc_id"]: r["score"]
         for r in bigram_quality_scores(docs.coalesce(1)).collect()}
    b = {r["doc_id"]: r["score"]
         for r in bigram_quality_scores(docs.repartition(8)).collect()}
    assert a == b


def test_with_url_signals_matches_expression_form(spark):
    """r10: the layered-projection production form produces values
    identical to the url_signals expression trees on every signal,
    including the pass-bit string, and leaves no _u_* intermediates."""
    from alma_memory_spark.functions.text import (
        url_pass_bits,
        url_signals,
        with_url_signals,
    )

    rows = [
        (1, "https://www.example.com/docs/page-1"),
        (2, "http://user:pw@shop.bad.co.uk:8443/a/b/c/d/e/f/g/x/"),
        (3, "https://docs.pages.github.io/p?utm_source=x"),
        (4, "not a url"),
        (5, "https://spam.example:443/x"),
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    got = {
        r["id"]: r for r in with_url_signals(df, "url").orderBy("id").collect()
    }
    s = url_signals(F.col("url"))
    want = {
        r["id"]: r
        for r in df.select(
            "id",
            *[s[k].alias(k) for k in
              ("authority", "host", "domain", "blocked", "scheme",
               "depth", "tracker", "canonical")],
            url_pass_bits("url").alias("pass_bits"),
        ).collect()
    }
    for i in want:
        for k in ("authority", "host", "domain", "blocked", "scheme",
                  "depth", "tracker", "canonical", "pass_bits"):
            assert got[i][f"url_{k}"] == want[i][k], (i, k)
    assert not [c for c in with_url_signals(df, "url").columns
                if c.startswith("_u_")]


def test_token_units_byte_faithful_on_random_texts(spark):
    """Randomized (seeded) byte-faithfulness: for arbitrary
    whitespace/punct/control mixes, concat(token_units(text))
    reproduces the \\x1e-sanitized text byte-for-byte, and
    dedup_token_windows keeps a corpus of disjoint-vocabulary docs
    untouched (no false excision)."""
    import random

    from alma_memory_spark.operators.substring import (
        dedup_token_windows,
        token_units,
    )

    rng = random.Random(1010)
    pieces = ["word", "tok", "X", "a1", "..", "—", "\x1e", ""]
    seps = [" ", "  ", "\t", "\n", "\x0b", "\f", "\r", " \t ", "\n\n"]
    rows = []
    for i in range(300):
        n = rng.randint(0, 12)
        s = rng.choice(["", " ", "\t"])  # leading ws sometimes
        for _ in range(n):
            s += rng.choice(pieces) + rng.choice(seps)
        if rng.random() < 0.5:
            s += rng.choice(pieces)  # sometimes no trailing sep
        rows.append((i, s + f" uniq{i}a uniq{i}b uniq{i}c uniq{i}d"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["j"]
        for r in df.select(
            "doc_id", F.array_join(token_units("text"), "").alias("j")
        ).collect()
    }
    for i, text in rows:
        assert got[i] == text.replace("\x1e", ""), i
    # disjoint-vocab corpus (uniq<i> suffix tokens) has no cross-doc
    # duplicate 4-windows of the CONTENT... windows can still repeat
    # via the shared piece pool, so only assert the reassembly-of-kept
    # contract: every doc whose windows are all owned reassembles
    # byte-identically
    out = {
        r["doc_id"]: r
        for r in dedup_token_windows(df, w=4).collect()
    }
    for i, text in rows:
        if out[i]["n_kept"] == out[i]["n_units"]:
            assert out[i]["text_dedup"] == text.replace("\x1e", ""), i


def test_drop_docs_with_dup_windows(spark):
    """Drop-doc excision: any duplicated >= w-token span disqualifies
    the doc at max_dup_frac=0; a tolerance keeps lightly-duplicated
    docs; short docs always survive."""
    from alma_memory_spark.operators.substring import (
        drop_docs_with_dup_windows,
    )

    boiler = "one two three four five six"
    rows = [
        (1, f"alpha series starts here {boiler} alpha tail words extra"),
        (2, f"beta series starts there {boiler} beta tail words extra"),
        (3, "gamma entirely unique content with no shared span at all"),
        (4, "tiny"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    strict = {
        r["doc_id"]
        for r in drop_docs_with_dup_windows(df, w=6).collect()
    }
    # doc 1 owns the boiler windows; doc 2 loses them -> dropped
    assert strict == {1, 3, 4}
    # doc 2: 14 units, the 6 boiler units excised -> dup frac ~0.43;
    # tolerance 0.6 keeps it
    loose = {
        r["doc_id"]
        for r in drop_docs_with_dup_windows(
            df, w=6, max_dup_frac=0.6
        ).collect()
    }
    assert loose == {1, 2, 3, 4}
    # survivors are the ORIGINAL rows (nothing re-spliced)
    texts = {
        r["doc_id"]: r["text"]
        for r in drop_docs_with_dup_windows(df, w=6).collect()
    }
    assert texts[1] == rows[0][1]


def test_stupid_backoff_scores_hand_computed(spark):
    """r10: trigram stupid-backoff LM quality (Brants et al. 2007) —
    all four backoff levels hand-verified on a tiny held-out split,
    the <3-token NULL contract, and partition invariance."""
    import math

    import pytest as _pytest

    from alma_memory_spark.operators.lm_quality import (
        stupid_backoff_lm,
        stupid_backoff_scores,
    )

    # train: 'a b c a b c' + 'a b d' ->
    # uni a:3 b:3 c:2 d:1 (total 9, vocab 4)
    # bi  (a,b):3 (b,c):2 (c,a):1 (b,d):1
    # tri (a,b,c):2 (b,c,a):1 (c,a,b):1 (a,b,d):1
    train = spark.createDataFrame(
        [(1, "a b c a b c"), (2, "a b d")], "doc_id long, text string"
    )
    tri, bi, uni, stats = stupid_backoff_lm(train)
    assert stats.collect()[0].asDict() == {"total": 9, "vocab": 4}
    lna = round(math.log(0.4), 10)
    docs = spark.createDataFrame(
        [
            (10, "a b c"),   # in-model trigram: ln(c123/c12) = ln(2/3)
            (11, "x b c"),   # backoff to bigram: a + ln(c23/c2) = ln(2/3)
            (12, "x y d"),   # backoff to unigram: 2a + ln(c3/total)
            (13, "a b x"),   # OOV floor: 2a + ln(1/(total+vocab))
            (14, "a b"),     # <3 tokens: no trigram evidence
            (15, ""),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in stupid_backoff_scores(
            docs, tri=tri, bi=bi, uni=uni, stats=stats
        ).collect()
    }
    assert got[10]["n_trigrams"] == 1
    assert got[10]["score"] == round(round(math.log(2 / 3), 10), 6)
    assert got[11]["score"] == round(lna + round(math.log(2 / 3), 10), 6)
    assert got[12]["score"] == round(
        lna + lna + round(math.log(1 / 9), 10), 6
    )
    assert got[13]["score"] == round(
        lna + lna + round(math.log(1 / 13), 10), 6
    )
    for short_id in (14, 15):
        assert got[short_id]["n_trigrams"] == 0
        assert got[short_id]["score"] is None
    # self-training sees every trigram: only the first branch fires,
    # so every score is a mean of pure ln(c123/c12) terms (all <= 0)
    self_scored = stupid_backoff_scores(train).collect()
    assert all(r["score"] is not None for r in self_scored)
    with _pytest.raises(ValueError, match="together"):
        stupid_backoff_scores(docs, tri=tri)
    # partition invariance of the DECIMAL mean on real data
    import os as _os

    from alma_memory_spark.session import load_table

    sf_dir = _os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
    )
    real = load_table(spark, sf_dir, "documents")
    a = {r["doc_id"]: r["score"]
         for r in stupid_backoff_scores(real.coalesce(1)).collect()}
    b = {r["doc_id"]: r["score"]
         for r in stupid_backoff_scores(real.repartition(8)).collect()}
    assert a == b


def test_lm_buckets_terciles_and_none(spark):
    """r10: CCNet head/middle/tail bucketing — tercile cutoffs at the
    exact-sketch rank convention (ceil(p*n)), tie-inclusive
    boundaries, NULL scores bucketed 'none'."""
    from alma_memory_spark.operators.lm_quality import lm_buckets

    rows = [(i, float(i)) for i in range(1, 10)] + [(99, None)]
    sc = spark.createDataFrame(rows, "doc_id long, score double")
    got = {r["doc_id"]: r["bucket"] for r in lm_buckets(sc).collect()}
    # n=9 non-null: cut1 = rank ceil(3) = 3.0, cut2 = rank ceil(6) = 6.0
    assert {i: got[i] for i in range(1, 10)} == {
        1: "tail", 2: "tail", 3: "tail",
        4: "middle", 5: "middle", 6: "middle",
        7: "head", 8: "head", 9: "head",
    }
    assert got[99] == "none"
    # tie-inclusive: everything at the cutoff value lands in the
    # lower bucket on every partition layout
    ties = spark.createDataFrame(
        [(i, 1.0) for i in range(6)] + [(6, 2.0), (7, 3.0), (8, 4.0)],
        "doc_id long, score double",
    )
    tied = {r["doc_id"]: r["bucket"] for r in lm_buckets(ties).collect()}
    assert all(tied[i] == "tail" for i in range(6))


def test_ngram_backoff_order4_hand_computed(spark):
    """r10: order-generic stupid backoff — all five levels (in-model,
    three backoffs, floor) hand-verified at order=4, plus the
    <order-token NULL contract and order-5 partition invariance on
    real data (the CCNet/KenLM shape)."""
    import math

    from alma_memory_spark.operators.lm_quality import (
        ngram_backoff_lm,
        ngram_backoff_scores,
    )

    # train 'a b c d a b c d': uni a/b/c/d = 2 (total 8, vocab 4);
    # bi (a,b)=(b,c)=(c,d)=2, (d,a)=1; tri (a,b,c)=(b,c,d)=2, others 1;
    # 4g (a,b,c,d)=2, others 1
    train = spark.createDataFrame(
        [(1, "a b c d a b c d")], "doc_id long, text string"
    )
    models, stats = ngram_backoff_lm(train, order=4)
    assert [len(m.columns) for m in models] == [2, 3, 4, 5]
    assert stats.collect()[0].asDict() == {"total": 8, "vocab": 4}
    lna = round(math.log(0.4), 10)
    docs = spark.createDataFrame(
        [
            (10, "a b c d"),   # in-model: ln(c4/c3) = ln(2/2) = 0
            (11, "x b c d"),   # level 3: a + ln(c3(b,c,d)/c2(b,c)) = a
            (12, "x y c d"),   # level 2: 2a + ln(c2(c,d)/c1(c)) = 2a
            (13, "x y z d"),   # level 1: 3a + ln(2/8)
            (14, "x y z q"),   # floor:   3a + ln(1/12)
            (15, "a b c"),     # < 4 tokens: no evidence
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in ngram_backoff_scores(
            docs, models=models, stats=stats
        ).collect()
    }
    assert got[10]["n_ngrams"] == 1 and got[10]["score"] == 0.0
    assert got[11]["score"] == round(lna, 6)
    assert got[12]["score"] == round(lna + lna, 6)
    assert got[13]["score"] == round(
        lna + lna + lna + round(math.log(2 / 8), 10), 6
    )
    assert got[14]["score"] == round(
        lna + lna + lna + round(math.log(1 / 12), 10), 6
    )
    assert got[15]["n_ngrams"] == 0 and got[15]["score"] is None
    # order-5 on real data: self-train -> every >=5-token doc scores
    # in-model, and the DECIMAL mean is partition-invariant
    import os as _os

    from alma_memory_spark.session import load_table

    sf_dir = _os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
    )
    real = load_table(spark, sf_dir, "documents")
    a = {r["doc_id"]: r["score"]
         for r in ngram_backoff_scores(real.coalesce(1), order=5).collect()}
    b = {r["doc_id"]: r["score"]
         for r in ngram_backoff_scores(real.repartition(8), order=5).collect()}
    assert a == b and len(a) == real.count()


def test_ngram_backoff_invariants_random_docs(spark):
    """r10: seeded randomized invariants in one job per order — every
    backoff lp is a log of a probability (<= 0, since a k-gram's count
    never exceeds its prefix's), so scores are <= 0 wherever evidence
    exists; n_ngrams is exactly max(0, tokens - order + 1)."""
    import random

    from alma_memory_spark.operators.lm_quality import (
        ngram_backoff_scores,
    )

    rnd = random.Random(7)
    vocab = ["aa", "bb", "cc", "dd", "ee", "zz"]
    rows = [
        (i, " ".join(rnd.choice(vocab)
                     for _ in range(rnd.randint(0, 12))))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    train = df.filter("doc_id % 2 = 0")
    for order in (2, 4):
        got = {
            r["doc_id"]: r
            for r in ngram_backoff_scores(
                df, train=train, order=order
            ).collect()
        }
        assert len(got) == len(rows)
        for i, text in rows:
            n = len(text.split())
            exp = max(0, n - order + 1)
            assert got[i]["n_ngrams"] == exp, (i, order)
            if exp:
                assert got[i]["score"] <= 0.0, (i, order)
            else:
                assert got[i]["score"] is None, (i, order)


def test_lm_quality_scores_per_group(spark):
    """r10: per-language LM scoring (the CCNet structure) — each group
    trains and floors on ITS OWN corpus, a prebuilt-model group gap
    yields NULL (never a cross-language score), and per-group buckets
    tercile within the group."""
    import math

    from alma_memory_spark.operators.lm_quality import (
        lm_buckets,
        lm_quality_scores,
        unigram_lm,
    )

    rows = [
        (1, "en", "aa aa bb"),   # en: aa:3 bb:1 (total 4, vocab 2)
        (2, "en", "aa"),
        (3, "fr", "cc"),         # fr: cc:1 (total 1, vocab 1)
        (4, "fr", ""),           # zero tokens -> NULL, keeps group
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        r["doc_id"]: r
        for r in lm_quality_scores(df, group_col="lang").collect()
    }
    lp_aa = round(math.log(4 / 6), 10)   # (3+1)/(4+2)
    lp_bb = round(math.log(2 / 6), 10)
    assert got[1]["lang"] == "en"
    assert got[1]["score"] == round((2 * lp_aa + lp_bb) / 3, 6)
    assert got[2]["score"] == round(lp_aa, 6)
    # fr trains only on fr text: cc scores (1+1)/(1+1) = 1 -> ln 1 = 0
    assert got[3]["score"] == 0.0
    assert got[4]["n_tokens"] == 0 and got[4]["score"] is None
    # per-group OOV floor: en floor ln(1/6), fr floor ln(1/2)
    lm, stats = unigram_lm(df, group_col="lang")
    new = spark.createDataFrame(
        [(9, "en", "zz"), (10, "fr", "zz"), (11, "de", "zz")],
        "doc_id long, lang string, text string",
    )
    out = {
        r["doc_id"]: r["score"]
        for r in lm_quality_scores(
            new, lm=lm, stats=stats, group_col="lang"
        ).collect()
    }
    assert out[9] == round(round(math.log(1 / 6), 10), 6)
    assert out[10] == round(round(math.log(1 / 2), 10), 6)
    # no de model exists: NULL, not a cross-language score
    assert out[11] is None
    # per-group terciles: each group's cutoffs from its own scores
    sc = spark.createDataFrame(
        [(i, "a", float(i)) for i in range(1, 10)]
        + [(i, "b", float(i)) for i in range(100, 109)],
        "doc_id long, lang string, score double",
    )
    bk = {
        (r["doc_id"], r["lang"]): r["bucket"]
        for r in lm_buckets(sc, group_col="lang").collect()
    }
    assert bk[(1, "a")] == "tail" and bk[(9, "a")] == "head"
    assert bk[(100, "b")] == "tail" and bk[(108, "b")] == "head"
    # pooled terciles would put ALL of group a in the tail; per-group
    # must not
    assert bk[(7, "a")] == "head"


def test_lm_buckets_null_group_is_none(spark):
    """r10: a NULL group key never matches the per-group cut join —
    such rows must bucket 'none', not fall through to 'head'."""
    from alma_memory_spark.operators.lm_quality import lm_buckets

    sc = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (3, "a", 3.0), (4, None, 9.0)],
        "doc_id long, lang string, score double",
    )
    got = {r["doc_id"]: r["bucket"]
           for r in lm_buckets(sc, group_col="lang").collect()}
    assert got[4] == "none"
    assert got[1] == "tail" and got[3] == "head"


def test_lm_tail_ids_per_group(spark):
    """r10: per-group tail (CCNet drops per language) — each group's
    bottom-frac from ITS OWN distribution; pooled would take all of
    the low-scoring group."""
    import pytest as _pytest

    from alma_memory_spark.operators.lm_quality import lm_tail_ids

    sc = spark.createDataFrame(
        [(i, "a", float(i)) for i in range(1, 11)]
        + [(100 + i, "b", 100.0 + i) for i in range(1, 11)]
        + [(999, None, 0.5)],
        "doc_id long, lang string, score double",
    )
    got = {
        r["doc_id"]
        for r in lm_tail_ids(sc, frac=0.1, group_col="lang").collect()
    }
    # each group's own bottom 10% (rank ceil(0.1*10) = 1)
    assert got == {1, 101}
    with _pytest.raises(ValueError, match="approx"):
        lm_tail_ids(sc, frac=0.1, group_col="lang", method="exact")


def test_dedup_scope_doc_vs_global(spark):
    """r10: scope='doc' drops only WITHIN-document repeats — a
    paragraph shared across docs survives in every doc, while the
    global scope keeps only its first corpus occurrence; both scopes
    keep first-in-doc order and the n_paras/n_kept contract."""
    from alma_memory_spark.operators.paragraphs import (
        dedup_paragraphs,
        dedup_sentences,
    )

    rows = [
        (1, "alpha\n\nshared nav\n\nalpha\n\nbeta"),
        (2, "shared nav\n\ngamma\n\nshared nav"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    doc = {r["doc_id"]: r for r in dedup_paragraphs(df, scope="doc").collect()}
    # doc 1: second 'alpha' dropped; 'shared nav' kept (first in ITS doc)
    assert doc[1]["text_dedup"] == "alpha\n\nshared nav\n\nbeta"
    assert (doc[1]["n_paras"], doc[1]["n_kept"]) == (4, 3)
    # doc 2 keeps its own first 'shared nav' even though doc 1 has it
    assert doc[2]["text_dedup"] == "shared nav\n\ngamma"
    assert (doc[2]["n_paras"], doc[2]["n_kept"]) == (3, 2)
    glob = {r["doc_id"]: r
            for r in dedup_paragraphs(df, scope="global").collect()}
    assert glob[2]["text_dedup"] == "gamma"  # cross-doc dup dropped
    # sentence mode honors the same knob; invalid scope raises
    sdoc = {
        r["doc_id"]: r["text_dedup"]
        for r in dedup_sentences(
            spark.createDataFrame(
                [(1, "Hi there. Hi there. New end.")],
                "doc_id long, text string",
            ),
            scope="doc",
        ).collect()
    }
    assert sdoc[1] == "Hi there. New end."
    import pytest as _pytest

    with _pytest.raises(ValueError, match="scope"):
        dedup_paragraphs(df, scope="corpus")


def test_quality_report_hand_corpus(spark):
    """r10: quality_report groups by DETECTED language and reports
    exact counts/rates on a hand corpus."""
    from alma_memory_spark import pipeline as P

    en_good = (
        "the quick brown fox jumps over that lazy dog and it will have "
        "kept running with steady calm pace for hours today"
    )
    rows = [
        (1, en_good),          # en, passes gopher at min_words=10
        (2, "too few words"),  # und (no stopwords), fails word count
        (3, en_good + " again and again it went on"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["lang"]: r
        for r in P.quality_report(df, min_words=10).collect()
    }
    assert got["en"]["n_docs"] == 2
    assert got["en"]["gopher_pass_rate"] == 1.0
    assert got["en"]["n_tokens"] == len(en_good.split()) * 2 + 6
    assert 0.0 <= got["en"]["mean_quality"] <= 1.0
    assert got["und"]["n_docs"] == 1 and got["und"]["gopher_pass_rate"] == 0.0


def test_decontaminate_spans_excises_only_the_quote(spark):
    """r10: excision-mode decontamination — a doc quoting one
    benchmark item loses exactly the quoted window span (byte-faithful
    remainder), clean docs come back byte-identical, short docs carry
    no windows, and whole-doc contamination excises to empty rather
    than vanishing."""
    from alma_memory_spark import pipeline as P

    quote = "q1 q2 q3 q4 q5"  # a 5-token benchmark item
    bench = spark.createDataFrame(
        [(100, "pre " + quote + " post")], "doc_id long, text string"
    )
    clean = "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"
    rows = [
        (1, "a1 a2 a3 " + quote + " b1 b2 b3"),  # quote mid-doc
        (2, clean),                               # no overlap
        (3, quote),                               # the quote IS the doc
        (4, "s1 s2"),                             # shorter than n
    ]
    train = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in P.decontaminate_spans(train, bench, n=5).collect()
    }
    # doc 1: every unit covered by a contaminated 5-window is gone;
    # windows containing any qN token overlap it, so the a/b context
    # within 4 tokens of the quote goes too — but the doc SURVIVES
    # with its clean prefix
    assert got[1]["text_clean"].startswith("a1")
    assert "q3" not in got[1]["text_clean"]
    assert got[1]["n_kept"] < got[1]["n_units"]
    assert got[2]["text_clean"].rstrip() == clean
    assert got[2]["n_kept"] == got[2]["n_units"]
    assert got[3]["text_clean"] == "" and got[3]["n_kept"] == 0
    assert got[4]["text_clean"].rstrip() == "s1 s2"
    assert set(got) == {1, 2, 3, 4}


def test_exact2_degenerate_bin_recurses(spark):
    """r11 (VERDICT r10 #5): near-constant scores with a tiny outlier
    tail put ~all rows in ONE histogram bin; the 'exact2' selection
    must re-histogram inside that bin instead of re-growing a k-sized
    heap, and stay EXACT on every path (recursive and non-recursive
    agree with the sorted rank and with method='exact')."""
    import random

    from alma_memory_spark.operators.lm_quality import (
        _selection_cutoff,
        lm_tail_ids,
    )

    rng = random.Random(7)
    # 2000 near-constant scores inside one 1/2048 bin of [lo, hi],
    # plus a handful of outliers that define the histogram range
    vals = [0.5 + rng.random() * 1e-9 for _ in range(2000)]
    vals += [0.0, 1.0, 0.9, 0.05]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "doc_id long, score double"
    )
    frac = 0.25
    k = int(frac * len(vals))
    want_cut = sorted(vals)[k - 1]
    # force the recursion (max_funnel far below k - below) and compare
    # with the non-recursive heap path
    rec = _selection_cutoff(df, frac, "score", buckets=2048, max_funnel=8)
    plain = _selection_cutoff(df, frac, "score", buckets=2048)
    assert rec == plain == want_cut
    # end-to-end: exact2 == exact on this distribution
    e2 = {r["doc_id"] for r in lm_tail_ids(df, frac=frac, method="exact2").collect()}
    e1 = {r["doc_id"] for r in lm_tail_ids(df, frac=frac, method="exact").collect()}
    assert e2 == e1 and len(e2) >= k
    # all-identical scores: lo == hi short-circuits at the first level
    const = spark.createDataFrame(
        [(i, 3.25) for i in range(50)], "doc_id long, score double"
    )
    assert _selection_cutoff(const, 0.2, "score", 2048, max_funnel=1) == 3.25


def test_substring_dedup_survives_hot_fp(spark):
    """r11 (VERDICT r10 #4): a corpus-wide boilerplate fingerprint —
    ONE fp carried by ~1e5 probe-side window rows — must complete and
    stay correct. The winners side is unique per fp, and AQE skew-join
    splitting (pinned on in session.py, default-on in vanilla Spark
    3.2+) bounds the hot probe partition; this is the forced-skew pin
    for the fp-keyed losers join in dedup_token_windows and
    TokenWindowDedupIndex.add."""
    from alma_memory_spark.operators.substring import dedup_token_windows

    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    w = 10
    n_tok = 100_000 + w - 1
    # one doc of identical tokens: every one of its 100k windows
    # carries the SAME fp
    hot = "tok " * n_tok
    docs = spark.createDataFrame(
        [(0, hot), (1, "a unique sentence with no repeats at all"),
         (2, "tok " * (2 * w))],  # same boilerplate fp family, later doc
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup_token_windows(docs, w=w).repartition(8).collect()
    }
    assert set(out) == {0, 1, 2}
    # doc 0: winner is (0, start 0); every other window drops -> only
    # the first unit survives
    assert out[0]["n_units"] == n_tok
    assert out[0]["n_kept"] == 1
    assert out[0]["text_dedup"] == "tok "
    # doc 1 is untouched (no window: shorter than w, or unique)
    assert out[1]["text_dedup"] == "a unique sentence with no repeats at all"
    # doc 2's spans are all owned by doc 0 -> fully excised
    assert out[2]["n_kept"] == 0 and out[2]["text_dedup"] == ""


def test_psl_full_semantics_and_duckdb_mirror(spark):
    """r11 (VERDICT r10 #2): the registrable domain honors ALL PSL
    rule classes — >2-label exact rules (pvt.k12.ma.us), wildcard
    rules (*.ck, *.kobe.jp), exception rules (!www.ck, !city.kobe.jp)
    — with known answers on both engines (the DuckDB mirror replays
    the same rule sets), proving the oracle stays a true mirror."""
    import duckdb

    from alma_memory_spark.functions.text import sql_url_signals, url_signals

    cases = [
        # (url, expected registrable domain)
        ("https://shop.bad.co.uk/x", "bad.co.uk"),              # 2-label exact
        ("https://x.k12.ma.us/x", "x.k12.ma.us"),               # 3-label exact: host = suffix+1
        ("https://a.x.k12.ma.us/x", "x.k12.ma.us"),             # 3-label exact, deeper
        ("https://school.pvt.k12.ma.us/x", "school.pvt.k12.ma.us"),  # 4-label exact
        ("https://a.school.pvt.k12.ma.us/x", "school.pvt.k12.ma.us"),
        ("https://foo.bar.ck/x", "foo.bar.ck"),                 # wildcard *.ck: bar.ck is PS
        ("https://bar.ck/x", "bar.ck"),                         # host IS a wildcard PS
        ("https://a.foo.kobe.jp/x", "a.foo.kobe.jp"),           # wildcard *.kobe.jp
        ("https://foo.kobe.jp/x", "foo.kobe.jp"),               # host IS a wildcard PS
        ("https://city.kobe.jp/x", "city.kobe.jp"),             # exception !city.kobe.jp
        ("https://a.city.kobe.jp/x", "city.kobe.jp"),           # exception, deeper
        ("https://sub.www.ck/x", "www.ck"),                     # exception !www.ck
        ("https://example.com/x", "example.com"),               # default
        ("https://deep.blog.example.com/x", "example.com"),
        ("https://com/x", "com"),                               # bare TLD
        # r12 (VERDICT r11 #3): families only the FULL dat carries
        ("https://x.y.s3.cn-north-1.amazonaws.com.cn/x",
         "y.s3.cn-north-1.amazonaws.com.cn"),                   # 5-label exact
        ("https://v.w.abc.compute.amazonaws.com/x",
         "w.abc.compute.amazonaws.com"),                        # 3-label wildcard base
        ("https://v.w.abc.compute.amazonaws.com.cn/x",
         "w.abc.compute.amazonaws.com.cn"),                     # 4-label wildcard base
        ("https://me.blogspot.com/x", "me.blogspot.com"),       # private-section rule
        ("https://x.me.blogspot.com/x", "me.blogspot.com"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "id long, url string"
    )
    s = url_signals(F.col("url"))
    got = {
        r["id"]: r["d"]
        for r in df.select("id", s["domain"].alias("d")).collect()
    }
    for i, (u, want) in enumerate(cases):
        assert got[i] == want, (u, got[i], want)
    # DuckDB mirror parity on the identical inputs
    con = duckdb.connect()
    dsql = sql_url_signals("url")["domain"]
    for i, (u, want) in enumerate(cases):
        (dd,) = con.execute(
            f"SELECT {dsql} FROM (SELECT ? AS url)", [u]
        ).fetchone()
        assert dd == want, ("duckdb", u, dd, want)


def test_kenlm_env_gate_and_kernel_plumbing(spark):
    """r11 (VERDICT r10 #3): kenlm_scores is the env-gated REAL-model
    call site at the sentence_transformer_udf seam — calling it
    without the library raises the declared boundary error naming the
    deterministic default; the mapInPandas kernel's plumbing
    (tokenization, per-token log10 normalization, empty/None contract,
    output columns) is unit-pinned driver-side with a stub kenlm."""
    import sys
    import types

    import pandas as pd
    import pytest

    from alma_memory_spark.operators.lm_quality import (
        _kenlm_kernel,
        kenlm_scores,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "")], "doc_id long, text string"
    )
    if "kenlm" not in sys.modules:
        with pytest.raises(NotImplementedError, match="ngram_backoff_scores"):
            kenlm_scores(docs, "/nonexistent/model.bin")

    # stub model: score(text) = -2.0 per whitespace token (log10)
    class _Model:
        def __init__(self, path):
            self.path = path

        def score(self, text, bos=True, eos=False):
            assert bos is True and eos is False
            return -2.0 * len(text.split())

    stub = types.ModuleType("kenlm")
    stub.Model = _Model
    sys.modules["kenlm"] = stub
    try:
        kernel = _kenlm_kernel(
            "/shared/model.bin", None, "doc_id", "text", normalize=True
        )
        pdf = pd.DataFrame(
            {"doc_id": [1, 2, 3], "text": ["a b c", "", None]}
        )
        (out,) = list(kernel(iter([pdf])))
        assert list(out.columns) == ["doc_id", "n_tokens", "score"]
        assert out["n_tokens"].tolist() == [3, 0, 0]
        # normalized: (-2 * 3) / 3; empty/None -> NULL score, row kept
        assert out["score"][0] == -2.0
        # nullable Float64 so Arrow ships true NULLs (NaN is not NULL)
        assert str(out["score"].dtype) == "Float64"
        assert pd.isna(out["score"][1]) and pd.isna(out["score"][2])
        # unnormalized variant returns the total log10 prob
        kernel2 = _kenlm_kernel(
            "/shared/model.bin", None, "doc_id", "text", normalize=False
        )
        (out2,) = list(kernel2(iter([pdf])))
        assert out2["score"][0] == -6.0
    finally:
        del sys.modules["kenlm"]


def test_with_repetition_signals_matches_convenience_form(spark):
    """r12 (found by measure_chain): the staged-projection production
    form must be VALUE-identical to the inline dup_ngram_fraction for
    every n, including empty text and shorter-than-n docs — the only
    difference is plan shape (tokenizer/gram arrays bound once,
    filter-safe)."""
    from alma_memory_spark.functions.text import (
        dup_ngram_fraction,
        with_repetition_signals,
    )

    rows = [
        (1, "a b a b a b a b"),          # heavy 2-gram repeats
        (2, "all distinct tokens here"),
        (3, "one"),                       # shorter than n=2
        (4, ""),                          # empty
        (5, "x y x y z x y"),
        (6, "w w w w w w w w w w"),       # single-token loop
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["dup2_frac"], r["dup3_frac"])
        for r in with_repetition_signals(df, "text", ns=(2, 3)).collect()
    }
    want = {
        r["doc_id"]: (r["d2"], r["d3"])
        for r in df.select(
            "doc_id",
            dup_ngram_fraction("text", 2).alias("d2"),
            dup_ngram_fraction("text", 3).alias("d3"),
        ).collect()
    }
    assert got == want
    # filter-safety: filtering on the attached plain column keeps
    # results identical to filtering on the inline expression
    a = sorted(
        r["doc_id"]
        for r in with_repetition_signals(df, "text")
        .filter(F.col("dup2_frac") < 0.5)
        .collect()
    )
    b = sorted(
        r["doc_id"]
        for r in df.filter(dup_ngram_fraction("text", 2) < 0.5).collect()
    )
    assert a == b


def test_with_repetition_signals_refuses_column_clashes(spark):
    """ADVICE r12: a pre-existing scratch or output column must raise
    up front, not produce ambiguous-column errors or silently shadow
    the requested signal."""
    import pytest

    from alma_memory_spark.functions.text import with_repetition_signals

    base = spark.createDataFrame([(1, "a b a b")], "doc_id long, text string")
    for bad in ("_rs_ts", "_rs_g2", "_rs_t2", "_rs_d2", "dup2_frac"):
        df = base.withColumn(bad, F.lit(0))
        with pytest.raises(ValueError, match=bad):
            with_repetition_signals(df, "text")
    # a clash only matters for the requested ns/prefix
    ok = base.withColumn("dup3_frac", F.lit(0.0))
    assert "dup2_frac" in with_repetition_signals(ok, "text", ns=(2,)).columns
    with pytest.raises(ValueError, match="dup3_frac"):
        with_repetition_signals(ok, "text", ns=(2, 3))


def test_fuzzy_decontamination_semantics(spark):
    """r12: fuzzy_contamination_report catches the case the exact
    n-gram stage cannot — a SHUFFLED/paraphrased benchmark item shares
    no long n-gram but keeps its token set — while leaving genuinely
    disjoint docs alone; decontaminate_fuzzy drops exactly the
    reported ids."""
    from alma_memory_spark.operators.decontam import (
        contamination_report,
        decontaminate_fuzzy,
        fuzzy_contamination_report,
    )

    bench_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    shuffled = "kappa iota theta eta zeta epsilon delta gamma beta alpha"
    train = spark.createDataFrame(
        [
            (1, shuffled),                             # token-set identical
            (2, "alpha beta gamma delta nu xi omicron pi rho sigma"),  # ~half overlap
            (3, "one two three four five six seven eight nine ten"),   # disjoint
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, bench_text)], "doc_id long, text string"
    )
    rep = {
        r["doc_id"]: (r["n_bench_matches"], r["max_jaccard_u"])
        for r in fuzzy_contamination_report(
            train, bench, verify_t=0.8
        ).collect()
    }
    assert rep == {1: (1, 1_000_000)}, rep  # only the shuffle, jac=1.0
    # the exact n-gram stage misses it (no shared 5-gram)
    exact = contamination_report(train, bench, n=5).collect()
    assert exact == []
    kept = sorted(
        r["doc_id"] for r in decontaminate_fuzzy(train, bench).collect()
    )
    assert kept == [2, 3]
    # lowering verify_t does NOT manufacture candidates: a ~0.33-
    # jaccard doc still has to band-collide first (P ~ 2*j^4 under
    # 2x4 banding — the documented LSH recall approximation), and the
    # disjoint doc can never appear
    rep2 = {
        r["doc_id"]
        for r in fuzzy_contamination_report(
            train, bench, verify_t=0.3
        ).collect()
    }
    assert 1 in rep2 and 3 not in rep2


def test_fuzzy_band_cap_default_on_with_saturation_report(spark):
    """VERDICT r12 #2: bench_band_cap defaults ON (the r12 chain proof
    measured the uncapped form quadratic on collision-dense corpora),
    and fuzzy_band_saturation reports exactly the over-cap buckets the
    capped report skips."""
    from alma_memory_spark.operators.decontam import (
        DEFAULT_BENCH_BAND_CAP,
        fuzzy_band_saturation,
        fuzzy_contamination_report,
    )

    assert DEFAULT_BENCH_BAND_CAP is not None
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    # 12 identical bench docs: every band bucket holds 12 > any cap < 12
    bench = spark.createDataFrame(
        [(100 + i, text) for i in range(12)], "doc_id long, text string"
    )
    train = spark.createDataFrame([(1, text)], "doc_id long, text string")

    # default cap (8) drops the saturated buckets -> no match reported
    assert fuzzy_contamination_report(train, bench).collect() == []
    # and the saturation report names them: both band buckets, 12 docs
    sat = fuzzy_band_saturation(bench).collect()
    assert len(sat) == 2
    assert all(r["n_bench_docs"] == 12 for r in sat)

    # explicit opt-out restores the uncapped behavior
    rep = fuzzy_contamination_report(train, bench, bench_band_cap=None).collect()
    assert len(rep) == 1 and rep[0]["n_bench_matches"] == 12
    assert fuzzy_band_saturation(bench, bench_band_cap=None).collect() == []

    # a cap the buckets fit under drops nothing
    rep13 = fuzzy_contamination_report(train, bench, bench_band_cap=13).collect()
    assert len(rep13) == 1
    assert fuzzy_band_saturation(bench, bench_band_cap=13).collect() == []
    # saturation validates banding geometry like the report does
    import pytest

    with pytest.raises(ValueError, match="bands"):
        fuzzy_band_saturation(bench, k=4, bands=2, rows=4)


def test_psl_chain_matches_reference_algorithm(spark):
    """r12: pin the data-driven PSL chain (and its DuckDB mirror)
    against an INDEPENDENT transcription of the publicsuffix.org
    algorithm — brute-force longest-match over the raw rule strings,
    exceptions first — across hosts generated from a spread of real
    rules of every class (1-5-label exact, 1-4-label wildcard bases,
    exceptions, unknown TLDs)."""
    import duckdb

    from alma_memory_spark.functions import text as X

    R = X.PSL_RULES
    raw: list[tuple[str, ...]] = []  # (kind, *labels)
    for k, vals in R["exact"].items():
        for v in vals:
            raw.append(("exact", v))
    for k, vals in R["wild"].items():
        for v in vals:
            raw.append(("wild", v))
    for k, vals in R["exc"].items():
        for v in vals:
            raw.append(("exc", v))

    def ref_domain(host: str) -> str:
        hl = host.split(".")
        best_ps = 1
        exc_ps = None
        for kind, base in raw:
            bl = base.split(".")
            if kind == "wild":
                rl = ["*"] + bl
            else:
                rl = bl
            if len(rl) > len(hl):
                continue
            if all(
                a == "*" or a == b for a, b in zip(rl, hl[len(hl) - len(rl):])
            ):
                if kind == "exc":
                    exc_ps = len(rl) - 1
                else:
                    best_ps = max(best_ps, len(rl))
        ps = exc_ps if exc_ps is not None else best_ps
        if len(hl) <= ps:
            return host  # host IS a public suffix (engine convention)
        return ".".join(hl[len(hl) - ps - 1:])

    # host set: a deterministic spread of rules from every class,
    # each exercised at suffix / suffix+1 / suffix+2 depth
    import itertools

    picks: list[str] = []
    for kind in ("exact", "wild", "exc"):
        for k in sorted(R[kind]):
            picks += [
                (base if kind != "wild" else base)
                for base in sorted(R[kind][k])[:6]
            ]
    hosts: list[str] = []
    for base in picks:
        hosts += [base, f"one.{base}", f"two.one.{base}"]
    hosts += ["unknowntld", "foo.unknowntld", "a.b.c.d.e.foo.unknowntld"]
    hosts = sorted(set(hosts))

    expected = {h: ref_domain(h) for h in hosts}

    df = spark.createDataFrame([(h,) for h in hosts], "h string")
    lastk = X.psl_lastk_exprs(F.split("h", r"\."))
    got = {
        r["h"]: r["d"]
        for r in df.select(
            "h", X.psl_domain_expr(lastk, F.col("h")).alias("d")
        ).collect()
    }
    bad = {h: (got[h], expected[h]) for h in hosts if got[h] != expected[h]}
    assert not bad, dict(itertools.islice(bad.items(), 5))

    dsql = X._sql_psl_domain("string_split(h, chr(46))", "h")
    con = duckdb.connect()
    con.execute("CREATE TABLE hosts AS SELECT unnest(?) AS h", [hosts])
    dgot = dict(con.execute(f"SELECT h, {dsql} FROM hosts").fetchall())
    dbad = {h: (dgot[h], expected[h]) for h in hosts if dgot[h] != expected[h]}
    assert not dbad, dict(itertools.islice(dbad.items(), 5))


def test_excision_matches_naive_reference_on_random_inputs(spark):
    """r12: randomized pin for the shared linear excision kernel
    (substring._excise — r11 interval-merge rewrite + r12 no-drop
    short-circuit, shared by batch/index/decontam call sites) against
    the obvious O(units x dropped) reference: keep unit i iff no
    dropped start s covers it (s <= i < s+w). Covers empty starts
    (short-circuit branch), fully-dropped docs, adjacent/overlapping
    intervals, and single-unit docs."""
    import random

    from alma_memory_spark.operators.substring import _excise

    rng = random.Random(1207)
    w = 4
    rows = []
    for doc in range(120):
        n = rng.randint(1, 30)
        units = [f"u{doc}_{i} " for i in range(n)]
        mode = doc % 4
        if mode == 0:
            starts = []                                  # no-drop branch
        elif mode == 1:
            starts = sorted(rng.sample(range(n), min(n, rng.randint(1, 6))))
        elif mode == 2:
            starts = list(range(0, n))                   # everything covered
        else:
            s0 = rng.randint(0, max(0, n - 1))
            starts = sorted({s0, min(n - 1, s0 + w), min(n - 1, s0 + w - 1)})
        rows.append((doc, units, starts if starts else None))

    base = spark.createDataFrame(
        [(d, u) for d, u, _ in rows], "doc_id long, units array<string>"
    )
    dropped = spark.createDataFrame(
        [(d, s) for d, _, s in rows if s is not None],
        "doc_id long, starts array<int>",
    )
    got = {
        r["doc_id"]: (r["text_dedup"], r["n_units"], r["n_kept"])
        for r in _excise(base, dropped, "doc_id", w).collect()
    }
    for doc, units, starts in rows:
        ss = starts or []
        kept = [
            u
            for i, u in enumerate(units)
            if not any(s <= i < s + w for s in ss)
        ]
        want = ("".join(kept), len(units), len(kept))
        assert got[doc] == want, (doc, ss, got[doc], want)


def test_url_parsing_matches_urllib_reference(spark):
    """r12: pin the shared authority/scheme/path regexes (both engines
    compile the SAME patterns, so oracle parity cannot catch shared
    drift) against urllib.parse on generated well-formed URLs.
    Documented scope: everything lowercased, userinfo/port stripped
    from host, bracketed IPv6 out of scope."""
    import itertools
    from urllib.parse import urlsplit

    schemes = ["http", "https", "ftp+ssh"]
    userinfos = ["", "user@", "a.b:pw@"]
    hosts = ["example.com", "www.shop.co.uk", "single", "x-9.y.z"]
    ports = ["", ":8080"]
    paths = ["", "/", "/a/b", "/a/b/", "/a%20b/c.d"]
    tails = ["", "?q=1&utm_source=x", "#frag", "?x=/slash"]
    urls = [
        f"{s}://{u}{h}{p}{pa}{t}"
        for s, u, h, p, pa, t in itertools.product(
            schemes, userinfos, hosts, ports, paths, tails
        )
    ]
    from alma_memory_spark.functions.text import url_signals

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    s = url_signals(F.col("url"))
    got = {
        r["url"]: (r["scheme"], r["host"], r["depth"])
        for r in df.select(
            "url", s["scheme"].alias("scheme"), s["host"].alias("host"),
            s["depth"].alias("depth"),
        ).collect()
    }
    for u in urls:
        ref = urlsplit(u.lower())
        want_scheme = ref.scheme
        want_host = ref.hostname or ""
        want_depth = len([x for x in ref.path.split("/") if x])
        g = got[u]
        assert g == (want_scheme, want_host, want_depth), (u, g, (want_scheme, want_host, want_depth))


def test_semantic_decontamination_semantics(spark):
    """r12: semantic_contamination_report catches a REWRITTEN
    benchmark item (different tokens, same embedding direction) that
    both the exact n-gram and fuzzy lexical stages miss; count/max
    semantics and the drop form are exact."""
    from alma_memory_spark.operators.decontam import (
        decontaminate_semantic,
        semantic_contamination_report,
    )

    b = [1.0, 0.0, 0.0, 0.0]
    train_emb = spark.createDataFrame(
        [
            (1, [0.99, 0.141, 0.0, 0.0]),   # cos ~0.990 vs bench
            (2, [0.7, 0.7, 0.1, 0.0]),      # cos ~0.70
            (3, [0.0, 0.0, 1.0, 0.0]),      # orthogonal
        ],
        "vec_id long, embedding array<float>",
    )
    bench_emb = spark.createDataFrame(
        [(100, b), (101, [0.95, 0.3, 0.05, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rep = {
        r["vec_id"]: (r["n_bench_matches"], r["max_cos"])
        for r in semantic_contamination_report(
            train_emb, bench_emb, threshold=0.9
        ).collect()
    }
    assert set(rep) == {1}
    n, mx = rep[1]
    assert n == 2 and 0.97 <= mx <= 1.0, rep
    train = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
    )
    kept = sorted(
        r["doc_id"]
        for r in decontaminate_semantic(
            train, train_emb, bench_emb, threshold=0.9
        ).collect()
    )
    assert kept == [2, 3]
    # empty bench: nothing is contaminated, schema intact
    empty = semantic_contamination_report(
        train_emb,
        spark.createDataFrame([], "vec_id long, embedding array<float>"),
    )
    assert empty.count() == 0
    assert empty.columns == ["vec_id", "n_bench_matches", "max_cos"]


def test_fuzzy_decontamination_rejects_bad_banding(spark):
    """bands*rows > k would index past the signature and degenerate
    the band keys (the ADVICE-r6 class) — refused up front, same as
    NearDupIndex.build."""
    from alma_memory_spark.operators.decontam import (
        fuzzy_contamination_report,
    )

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="bands\\*rows"):
        fuzzy_contamination_report(df, df, k=8, bands=3, rows=4)


def test_substring_dedup_xxhash64_matches_md5(spark):
    """r13 (VERDICT r12 #6): the 8-byte xxhash64 window fingerprint is
    the production form of the md5 default — dedup decisions depend
    only on fp-group membership, so the respliced output must be
    byte-identical under either hash (and the fp column type moves to
    bigint)."""
    from alma_memory_spark.operators.substring import (
        dedup_token_windows,
        drop_docs_with_dup_windows,
        explode_token_windows,
    )
    import os as _os

    from alma_memory_spark.session import load_table

    sf = _os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    a = {
        (r["doc_id"], r["text_dedup"], r["n_units"], r["n_kept"])
        for r in dedup_token_windows(docs, w=6).collect()
    }
    b = {
        (r["doc_id"], r["text_dedup"], r["n_units"], r["n_kept"])
        for r in dedup_token_windows(docs, w=6, fp_hash="xxhash64").collect()
    }
    assert a == b and len(a) > 0

    wa = explode_token_windows(docs, w=6)
    wx = explode_token_windows(docs, w=6, fp_hash="xxhash64")
    assert wa.schema["fp"].dataType.simpleString() == "string"
    assert wx.schema["fp"].dataType.simpleString() == "bigint"
    assert wa.count() == wx.count()

    da = {r["doc_id"] for r in drop_docs_with_dup_windows(docs, w=6).collect()}
    dx = {
        r["doc_id"]
        for r in drop_docs_with_dup_windows(
            docs, w=6, fp_hash="xxhash64"
        ).collect()
    }
    assert da == dx


def test_fuzzy_contamination_flag_matches_report(spark):
    """r13: the stream-safe per-row flag (pandas-UDF kernel, bench
    buckets in the closure) must make the SAME decisions as
    fuzzy_contamination_report for every doc — including under the
    band cap, with unicode text, and on empty docs."""
    import os as _os

    from alma_memory_spark.operators.decontam import (
        fuzzy_contamination_report,
        with_fuzzy_contamination_flag,
    )
    from alma_memory_spark.session import load_table

    sf = _os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 11 != 0)
    bench = docs.filter(F.col("doc_id") % 11 == 0)

    for cap in (8, None):
        want = {
            r["doc_id"]
            for r in fuzzy_contamination_report(
                train, bench, bench_band_cap=cap
            ).collect()
        }
        got = {
            r["doc_id"]
            for r in with_fuzzy_contamination_flag(
                train, bench, bench_band_cap=cap
            )
            .filter("is_contaminated")
            .collect()
        }
        assert got == want, f"cap={cap}"
        assert len(want) > 0 or cap == 8  # uncapped must find dups here

    # hand-built edge cases: empty text, unicode, exact dup of bench
    bench2 = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta"),
         (101, "Ünïcode Tökens Überall gemischt mit ascii wörtern hier")],
        "doc_id long, text string",
    )
    train2 = spark.createDataFrame(
        [(1, "theta eta zeta epsilon delta gamma beta alpha"),  # shuffled dup
         (2, ""),                                                # empty
         (3, None),                                              # null
         (4, "ünïcode tökens überall gemischt mit ascii wörtern hier"),
         (5, "completely different words nothing shared at all")],
        "doc_id long, text string",
    )
    want = {
        r["doc_id"]
        for r in fuzzy_contamination_report(train2, bench2).collect()
    }
    got = {
        r["doc_id"]
        for r in with_fuzzy_contamination_flag(train2, bench2)
        .filter("is_contaminated")
        .collect()
    }
    assert got == want
    assert 1 in got and 5 not in got


def test_fuzzy_contamination_flag_works_on_a_stream(spark, tmp_path):
    """The flag is a stateless narrow map, so it must run unchanged on
    a Structured Streaming frame (the batch report's join+aggregate
    shape cannot)."""
    from alma_memory_spark.operators.decontam import (
        with_fuzzy_contamination_flag,
    )

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    src = str(tmp_path / "feed")
    spark.createDataFrame(
        [(1, "theta eta zeta epsilon delta gamma beta alpha"),
         (2, "completely different words nothing shared at all")],
        "doc_id long, text string",
    ).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    flagged = with_fuzzy_contamination_flag(stream, bench)
    assert flagged.isStreaming
    q = (
        flagged.filter(~F.col("is_contaminated"))
        .writeStream.format("memory")
        .queryName("decontam_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    rows = spark.sql("select doc_id from decontam_stream_test").collect()
    assert sorted(r["doc_id"] for r in rows) == [2]


def test_fuzzy_bands_from_signature_guards_short_signature(spark):
    """ADVICE r13 #4: the share-the-signature entry now enforces the
    bands*rows<=k guard its siblings have — eagerly via the optional
    `k` param, and at RUNTIME (raise, not silent truncation) when a
    row's signature array is shorter than bands*rows. Full-length
    signatures with NULL slots (empty-token docs) stay legitimate."""
    import pytest as _pytest

    from alma_memory_spark.operators.decontam import (
        fuzzy_bands_from_signature,
    )

    with _pytest.raises(ValueError, match="bands\\*rows"):
        fuzzy_bands_from_signature(
            spark.range(1).selectExpr(
                "id AS doc_id", "array('a') AS ts", "array(1L) AS sig"
            ),
            "doc_id",
            bands=3,
            rows=4,
            k=8,
        )

    # runtime guard: sig has 3 slots, bands*rows needs 8
    short = spark.createDataFrame(
        [(1, ["a"], [1, 2, 3])],
        "doc_id long, ts array<string>, sig array<long>",
    )
    bad = fuzzy_bands_from_signature(short, "doc_id", bands=2, rows=4)
    with _pytest.raises(Exception, match="fewer than bands\\*rows"):
        bad.collect()

    # full-length all-NULL signature (empty-token doc) must still band
    nulls = spark.sql(
        "SELECT 2L AS doc_id, array() AS ts, "
        "array_repeat(CAST(NULL AS LONG), 8) AS sig"
    )
    rows = fuzzy_bands_from_signature(nulls, "doc_id", bands=2, rows=4).collect()
    assert len(rows) == 2 and all(r["band_key"] is not None for r in rows)


def test_fuzzy_band_cap_warns_when_buckets_dropped(spark):
    """ADVICE r13 #2 / VERDICT r14 #3: the stream-safe flag warns by
    default (its bucket check is free post-collect); the REPORT path
    warns only on explicit warn_dropped=True opt-in — the opt-in costs
    one eager aggregate, the default keeps plan construction fully
    lazy. Both stay silent when nothing is dropped."""
    import warnings as _warnings

    import pytest as _pytest

    from alma_memory_spark.operators.decontam import (
        fuzzy_contamination_report,
        with_fuzzy_contamination_flag,
    )

    # 12 identical bench docs -> one band bucket of 12 > cap 8
    bench = spark.range(12).selectExpr(
        "id AS doc_id", "'alpha beta gamma delta shared' AS text"
    )
    train = spark.range(3).selectExpr(
        "id AS doc_id", "'alpha beta gamma delta shared' AS text"
    )
    with _pytest.warns(UserWarning, match="not exhaustive"):
        fuzzy_contamination_report(
            train, bench, warn_dropped=True
        ).collect()
    with _pytest.warns(UserWarning, match="not exhaustive"):
        with_fuzzy_contamination_flag(train, bench).collect()

    # opt-outs and the nothing-dropped case stay silent
    varied = spark.range(12).selectExpr(
        "id AS doc_id",
        "concat('doc word', id, ' unique tokens ', id * 7) AS text",
    )
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")
        fuzzy_contamination_report(
            train, bench, warn_dropped=False
        ).collect()
        fuzzy_contamination_report(train, varied, warn_dropped=True).collect()
        with_fuzzy_contamination_flag(train, varied).collect()


def test_fuzzy_report_construction_is_lazy(spark):
    """VERDICT r14 #3: constructing the default-mode fuzzy report must
    run ZERO Spark jobs — the former default-on warn_dropped ran an
    eager over-cap count at plan-construction time on every call (the
    'contamf' gate path hit it once per bench construction). Pinned by
    a job-group assertion: no job ids appear in a fresh group while
    the report (over a bucket-dropping corpus) is built."""
    from alma_memory_spark.operators.decontam import (
        fuzzy_contamination_report,
    )

    bench = spark.range(12).selectExpr(
        "id AS doc_id", "'alpha beta gamma delta shared' AS text"
    )
    train = spark.range(3).selectExpr(
        "id AS doc_id", "'alpha beta gamma delta shared' AS text"
    )
    sc = spark.sparkContext
    group = "fuzzy-lazy-construction-probe"
    sc.setJobGroup(group, "assert no jobs during report construction")
    try:
        report = fuzzy_contamination_report(train, bench)
        jobs_during_construction = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc._jsc.clearJobGroup()
    assert list(jobs_during_construction) == [], (
        "plan construction ran Spark jobs: "
        f"{jobs_during_construction}"
    )
    # the frame still computes lazily, and the cap still applies: the
    # only bench bucket (12 identical docs) is over cap 8, so every
    # candidate is skipped and the report is empty
    assert report.count() == 0


def test_drop_exact_duplicates_matches_spec(spark):
    """drop_exact_duplicates must keep exactly the min-id winner per
    fingerprint family — pinned against the straightforward spec on
    corpora covering all-unique, all-duplicate, and mixed-family
    shapes (this harness adjudicated the r14 anti-join experiment the
    operator docstring records as a negative result)."""
    from alma_memory_spark import pipeline as P

    cases = [
        # mixed: two families (one of 3, one of 2) + three uniques
        [
            (7, "aaa"), (3, "aaa"), (9, "aaa"),
            (5, "bbb"), (1, "bbb"),
            (2, "u1"), (8, "u2"), (4, "u3"),
        ],
        # all unique
        [(1, "x"), (2, "y"), (3, "z")],
        # one family covering everything
        [(4, "same"), (2, "same"), (9, "same")],
        # whitespace-normalized collisions (fingerprint normalizes)
        [(6, "a  b"), (5, "a b"), (1, "c")],
    ]
    for rows in cases:
        df = spark.createDataFrame(rows, "doc_id int, text string")
        spec = {
            min(i for i, t2 in rows if _norm(t2) == _norm(t))
            for i, t in rows
        }
        got = {r.doc_id for r in P.drop_exact_duplicates(df).collect()}
        assert got == spec, (rows, got, spec)
        # full rows survive untouched (anti join projects nothing away)
        kept = P.drop_exact_duplicates(df)
        assert set(kept.columns) == {"doc_id", "text"}


def _norm(t: str) -> str:
    return " ".join(t.lower().split())
