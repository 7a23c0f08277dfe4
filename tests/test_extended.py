"""Tests for verification, BM25/TF-IDF text search, ingestion,
streaming, and multimodal plumbing."""

import json
import math
from datetime import timedelta

import pytest
from pyspark.sql import functions as F

from alma_memory_spark import schemas
from alma_memory_spark.embedding import hash_embed
from alma_memory_spark.operators.multimodal import (
    decode_image_features,
    media_stats,
    resize_stage,
    sample_frames,
)
from alma_memory_spark.operators.text_search import (
    bm25_reference_check,
    bm25_scores,
    tfidf_scores,
)
from alma_memory_spark.operators.verification import (
    combined_score,
    confidence_fallback,
    cross_verify,
    list_by_status,
)
from alma_memory_spark.sources.ingestion import (
    chunk_text_df,
    classify_chunks,
    detect_format,
    normalize_directory,
    normalize_file,
)
from alma_memory_spark.sources.store import ParquetStore
from alma_memory_spark.streaming.ingest import (
    read_outcome_stream,
    session_activity,
    stream_outcomes_into_store,
    windowed_outcome_stats,
)
from alma_memory_spark.testing import fixtures as FX

NOW = FX.NOW


# ------------------------------------------------------------- verification

def _dk_rows():
    base = {
        "agent": "a", "project_id": "p", "domain": "deploy", "source": "doc",
        "last_verified": NOW, "verification_status": None, "metadata": {},
    }
    return [
        {**base, "id": "k1", "fact": "deploys use blue green switchover",
         "confidence": 0.9, "embedding": hash_embed("deploys use blue green", 16)},
        {**base, "id": "k2", "fact": "deploys are manual only", "confidence": 0.4,
         "embedding": hash_embed("deploys are manual only", 16)},
        {**base, "id": "k3", "fact": "nothing related", "confidence": 0.2,
         "embedding": hash_embed("nothing related", 16)},
    ]


def test_confidence_fallback_statuses(spark):
    df = spark.createDataFrame(_dk_rows(), schemas.DOMAIN_KNOWLEDGE)
    out = {r["id"]: r for r in confidence_fallback(df, NOW).collect()}
    assert out["k1"]["verification_status"] == "verified"
    assert out["k2"]["verification_status"] == "uncertain"
    assert "Moderate" in out["k2"]["verification_reason"]
    assert "Low" in out["k3"]["verification_reason"]
    assert out["k1"]["verification_method"] == "confidence"


def test_cross_verify_contradiction(spark):
    rows = _dk_rows()
    # opposite-direction embedding vs k1, lower confidence -> contradicted
    neg = [-v for v in rows[0]["embedding"]]
    rows.append(
        {**rows[0], "id": "k4", "fact": "deploys never use blue green",
         "confidence": 0.5, "embedding": neg}
    )
    df = spark.createDataFrame(rows, schemas.DOMAIN_KNOWLEDGE)
    out = {r["id"]: r for r in cross_verify(df, NOW).collect()}
    assert out["k4"]["verification_status"] == "contradicted"
    assert out["k4"]["contradicting_source"] == "k1"
    assert out["k1"]["verification_status"] == "verified"

    blended = combined_score(
        cross_verify(df, NOW).withColumn("score", F.lit(0.8))
    ).collect()
    k1 = [r for r in blended if r["id"] == "k1"][0]
    assert abs(k1["combined_score"] - (0.8 * 0.5 + 0.9 * 0.5)) < 1e-9

    byst = list_by_status(cross_verify(df, NOW), "p", "verified").collect()
    assert [r["id"] for r in byst] == ["k1"]


# ------------------------------------------------------------- text search

CORPUS = [
    "spark joins shuffle data across the cluster",
    "broadcast joins avoid the shuffle entirely",
    "window functions rank rows within partitions",
    "the quick brown fox jumps over the lazy dog",
]


def _docs(spark):
    return spark.createDataFrame(
        [(str(i), t, hash_embed(t, 16)) for i, t in enumerate(CORPUS)],
        "id string, text string, embedding array<float>",
    )


def test_bm25_matches_reference_formula(spark):
    q = "joins shuffle"
    out = {r["id"]: r["bm25_score"] for r in bm25_scores(_docs(spark), q).collect()}
    expected = dict(
        (str(i), s) for i, s in bm25_reference_check(CORPUS, q)
    )
    assert set(out) == set(expected)
    for k in out:
        assert abs(out[k] - expected[k]) < 1e-9
    # only docs 0 and 1 contain query terms; 1 wins (both terms, shorter doc)
    assert set(out) == {"0", "1"}
    assert max(out, key=out.get) == "1"


def test_tfidf_scores_rank(spark):
    out = tfidf_scores(_docs(spark), "broadcast joins")
    rows = out.orderBy(F.desc("tfidf_score")).collect()
    assert rows[0]["id"] == "1"
    assert all(r["tfidf_score"] > 0 for r in rows)


# ------------------------------------------------------------- ingestion

def test_detect_and_normalize_formats(spark, tmp_path):
    cc = tmp_path / "claude.jsonl"
    cc.write_text(
        "\n".join(
            json.dumps(x)
            for x in [
                {"type": "user", "message": {"content": "hello there"}},
                {"type": "assistant", "message": {"content": "hi, how can I help"}},
            ]
        )
    )
    chatgpt = tmp_path / "conversations.json"
    chatgpt.write_text(
        json.dumps(
            {
                "mapping": {
                    "a": {"message": {"author": {"role": "user"},
                                      "content": {"parts": ["what is spark"]},
                                      "create_time": 1.0}},
                    "b": {"message": {"author": {"role": "assistant"},
                                      "content": {"parts": ["a distributed engine"]},
                                      "create_time": 2.0}},
                }
            }
        )
    )
    slack = tmp_path / "slack.json"
    slack.write_text(
        json.dumps(
            [
                {"type": "message", "user": "U1", "text": "deploy at noon"},
                {"type": "message", "user": "U2", "text": "ack"},
            ]
        )
    )
    transcript = tmp_path / "notes.txt"
    transcript.write_text("> first turn here\n> second turn\n> third turn\n")
    plain = tmp_path / "plain.txt"
    plain.write_text("just some notes\nwith two lines\n")

    assert detect_format(str(cc)) == "claude_code_jsonl"
    assert detect_format(str(chatgpt)) == "chatgpt_json"
    assert detect_format(str(slack)) == "slack_json"
    assert detect_format(str(transcript)) == "transcript"
    assert detect_format(str(plain)) == "plain_text"

    rows = normalize_file(spark, str(chatgpt)).collect()
    assert [r["role"] for r in rows] == ["user", "assistant"]
    assert rows[0]["text"] == "what is spark"

    allrows = normalize_directory(spark, str(tmp_path))
    assert allrows.count() == 2 + 2 + 2 + 3 + 2
    tr = allrows.filter(F.col("source_file").endswith("notes.txt")).collect()
    assert all(not r["text"].startswith(">") for r in tr)


def test_batched_ingest_matches_per_file_semantics(spark, tmp_path):
    """Pinned (ADVICE r8 #2/#3): the batched directory dispatch must
    reproduce per-file normalization exactly, including (a) filenames
    with spaces/'+' — `_metadata.file_path` is a URI, so the basename
    arrives percent-encoded and must be decoded before the source_file
    map lookup; (b) per-FILE text-column precedence — a claude-code row
    with a null message.content must not fall through to a sibling
    file's top-level content column."""
    spaced = tmp_path / "my notes + ideas.txt"
    spaced.write_text("line one\nline two\n")
    cc = tmp_path / "session.jsonl"
    cc.write_text(
        "\n".join(
            json.dumps(x)
            for x in [
                {"type": "user", "message": {"content": "hello"}},
                # null message.content: per-file precedence (file HAS
                # message) keeps it null — never this row's top-level
                # text or a sibling file's content column
                {"type": "assistant", "message": {"content": None},
                 "text": "MUST_NOT_APPEAR"},
            ]
        )
    )
    codex = tmp_path / "codex.jsonl"
    codex.write_text(
        "\n".join(
            json.dumps(x)
            for x in [
                {"type": "session_meta", "payload": {}},
                {"type": "user", "content": "codex question"},
                {"type": "assistant", "content": "codex answer"},
            ]
        )
    )
    got = normalize_directory(spark, str(tmp_path)).orderBy("source_file", "turn")
    want = normalize_file(spark, str(cc))
    for p in (codex, spaced):
        want = want.unionByName(normalize_file(spark, str(p)))
    assert [r.asDict() for r in got.collect()] == [
        r.asDict() for r in want.orderBy("source_file", "turn").collect()
    ]
    by_file = {r["source_file"] for r in got.collect()}
    assert str(spaced) in by_file  # decoded lookup hit, not NULL
    cc_rows = got.filter(F.col("source_file") == str(cc)).collect()
    assert cc_rows[1]["text"] is None


def test_turn_numbering_survives_multi_block_scan(spark, tmp_path):
    """Pinned (VERDICT r6 #1): turn numbers must stay in file order when
    the scan splits the file into many input blocks — the old global
    `row_number().over(orderBy(monotonically_increasing_id()))` funneled
    every row through one WindowExec partition AND was partition-layout
    dependent. Force tiny blocks so one file reads as many partitions."""
    big = tmp_path / "big.jsonl"
    lines = [
        json.dumps({"type": "user" if i % 2 == 0 else "assistant",
                    "message": {"content": f"turn payload {i:05d} " + "x" * 200}})
        for i in range(400)
    ]
    big.write_text("\n".join(lines))
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(8 * 1024))
    try:
        df = normalize_file(spark, str(big))
        assert df.rdd.getNumPartitions() >= 1
        rows = df.orderBy("turn").collect()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert [r["turn"] for r in rows] == list(range(1, 401))
    # file order preserved: payload index must match the turn sequence
    assert [r["text"].split()[2] for r in rows] == [f"{i:05d}" for i in range(400)]
    assert rows[0]["role"] == "user" and rows[1]["role"] == "assistant"


def test_turn_numbering_restarts_per_file_on_multi_file_scan(spark, tmp_path):
    """Pinned (ADVICE r7 #4): the block key includes the file path — a
    normalizer handed a glob reads a multi-file scan whose blocks from
    different files share _blk offsets; numbering must restart per file
    instead of interleaving across files."""
    from alma_memory_spark.sources.ingestion import _assign_turns, _line_order

    for name, n in [("a.txt", 5), ("b.txt", 7)]:
        (tmp_path / name).write_text(
            "\n".join(f"{name} line {i:03d}" for i in range(n))
        )
    df = _assign_turns(
        _line_order(spark.read.text(str(tmp_path / "*.txt")))
    ).withColumn("f", F.split("value", " ")[0])
    got = {
        f: [r["turn"] for r in rows]
        for f, rows in (
            (f, sorted(df.filter(F.col("f") == f).collect(),
                       key=lambda r: r["value"]))
            for f in ("a.txt", "b.txt")
        )
    }
    assert got["a.txt"] == list(range(1, 6))
    assert got["b.txt"] == list(range(1, 8))


def test_chunk_and_classify(spark):
    docs = spark.createDataFrame(
        [
            ("f1", "Always use explicit waits when testing async pages. "
                   "This strategy works best for flaky suites. " * 20),
            ("f2", "Never hardcode credentials. Avoid storing secrets in code. " * 20),
            ("f3", "zzz qqq xxx " * 10),
        ],
        "source_file string, text string",
    )
    chunks = chunk_text_df(docs)
    assert chunks.count() > 3  # long docs split into multiple chunks
    classified = classify_chunks(chunks)
    by_file = {
        r["source_file"]: r["memory_type"]
        for r in classified.select("source_file", "memory_type").distinct().collect()
    }
    assert by_file["f1"] == "heuristic"
    assert by_file["f2"] == "anti_pattern"
    assert by_file["f3"] is None  # below confidence threshold


# ------------------------------------------------------------- streaming

def test_streaming_ingest_and_windows(spark, tmp_path):
    src = tmp_path / "stream_src"
    src.mkdir()
    out_store = ParquetStore(spark, str(tmp_path / "store"))
    batch1 = FX.seed_outcomes(spark).limit(20)
    batch1.write.mode("append").parquet(str(src))

    stream = read_outcome_stream(spark, str(src))
    assert stream.isStreaming
    q = stream_outcomes_into_store(stream, out_store)
    q.processAllAvailable()
    n1 = out_store.read("outcomes").count()
    assert n1 == 20
    # second batch arrives -> incremental, no reprocess
    FX.seed_outcomes(spark).limit(35).write.mode("append").parquet(str(src))
    q.processAllAvailable()
    q.stop()
    assert out_store.read("outcomes").count() == 55  # 20 + 35

    agg = windowed_outcome_stats(read_outcome_stream(spark, str(src)), "1 day")
    q2 = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_stats")
        .start()
    )
    q2.processAllAvailable()
    rows = spark.sql("SELECT * FROM win_stats").collect()
    q2.stop()
    assert rows
    assert all(0.0 <= r["success_rate"] <= 1.0 for r in rows)
    assert {"win", "agent", "task_type"} <= set(rows[0].asDict().keys())

    sess = session_activity(read_outcome_stream(spark, str(src)))
    q3 = (
        sess.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sessions")
        .start()
    )
    q3.processAllAvailable()
    srows = spark.sql("SELECT * FROM sessions").collect()
    q3.stop()
    assert srows and all(r["n_events"] >= 1 for r in srows)


# ------------------------------------------------------------- multimodal

def test_multimodal_plumbing(spark):
    rows = [
        ("m1", "image/png", b"\x89PNG fake bytes payload one", {"source": "cam"}),
        ("m2", "image/jpeg", b"\xff\xd8 another payload", {}),
        ("m3", "video/mp4", b"\x00\x00ftyp" + b"x" * 100, {}),
    ]
    media = spark.createDataFrame(rows, "media_id string, mime string, payload binary, meta map<string,string>")
    feats = decode_image_features(media)
    got = {r["media_id"]: r for r in feats.collect()}
    assert len(got) == 3
    assert all(64 <= r["width"] <= 256 for r in got.values())
    # deterministic: same payload -> same features
    again = {r["media_id"]: r for r in decode_image_features(media).collect()}
    assert got["m1"]["mean_luma"] == again["m1"]["mean_luma"]
    assert got["m1"]["payload_sha256"] == again["m1"]["payload_sha256"]

    resized = resize_stage(feats, max_side=100).collect()
    for r in resized:
        assert max(r["target_w"], r["target_h"]) <= 100
        assert r["target_w"] >= 1 and r["target_h"] >= 1

    frames = sample_frames(media.filter(F.col("mime") == "video/mp4")).collect()
    assert len(frames) == 4
    assert [f["frame_idx"] for f in frames] == [0, 1, 2, 3]

    stats = {r["mime"]: r for r in media_stats(feats).collect()}
    assert stats["image/png"]["n"] == 1

    # r13: fake=False is the REAL decode path now — these payloads are
    # not P6/BMP and PIL is absent, so they flag-and-skip instead of
    # failing the job
    real = {
        r["media_id"]: r
        for r in decode_image_features(media, fake=False).collect()
    }
    assert all(r["codec"] == "unsupported" for r in real.values())
    assert all(r["width"] is None for r in real.values())


def _ppm_bytes(w, h, pixels):
    """Valid binary P6 with a comment line (exercises the header
    tokenizer); `pixels` is a flat list of RGB tuples, row-major."""
    body = bytes(v for p in pixels for v in p)
    return f"P6\n# test image\n{w} {h}\n255\n".encode() + body


def _bmp_bytes(w, h, pixels_topdown_rgb):
    """Valid uncompressed 24-bit bottom-up BMP from row-major RGB."""
    import struct

    stride = (w * 3 + 3) & ~3
    rows = []
    for y in range(h - 1, -1, -1):  # bottom-up
        row = b"".join(
            bytes((p[2], p[1], p[0]))  # BGR
            for p in pixels_topdown_rgb[y * w : (y + 1) * w]
        )
        rows.append(row + b"\x00" * (stride - len(row)))
    data = b"".join(rows)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    filehdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(data), 0, 0, 14 + 40)
    return filehdr + info + data


def test_multimodal_real_decoders(spark):
    """r13: the pure-stdlib decoders REALLY decode — exact dims and
    Rec.601 luma for known P6/BMP pixels, WAV/PCM meta and amplitude
    via the stdlib wave module, and a real nearest-neighbor resample
    emitting valid P6 payloads."""
    import io
    import wave as wave_mod

    import numpy as np

    from alma_memory_spark.operators.multimodal import (
        decode_audio_features,
        decode_bmp,
        decode_ppm,
        resample_images,
    )

    # 2x2: white, black / red, green
    px = [(255, 255, 255), (0, 0, 0), (255, 0, 0), (0, 255, 0)]
    ppm = _ppm_bytes(2, 2, px)
    bmp = _bmp_bytes(2, 2, px)
    # kernel-level: both decoders agree with the ground-truth pixels
    assert decode_ppm(ppm).tolist() == decode_bmp(bmp).tolist()
    want_luma = round(
        float(
            np.mean(
                [0.299 * p[0] + 0.587 * p[1] + 0.114 * p[2] for p in px]
            )
            / 255.0
        ),
        6,
    )

    # WAV: 16-bit mono, 4 frames of known amplitude
    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(
            np.array([0, 16384, -16384, 32767], dtype="<i2").tobytes()
        )
    wav = buf.getvalue()

    media = spark.createDataFrame(
        [
            ("p1", "image/x-portable-pixmap", ppm, {}),
            ("b1", "image/bmp", bmp, {}),
            ("w1", "audio/wav", wav, {}),
            ("j1", "image/jpeg", b"\xff\xd8 not decodable here", {}),
        ],
        "media_id string, mime string, payload binary, meta map<string,string>",
    )
    feats = {
        r["media_id"]: r
        for r in decode_image_features(media, fake=False).collect()
    }
    for mid, codec in (("p1", "ppm"), ("b1", "bmp")):
        assert (feats[mid]["width"], feats[mid]["height"]) == (2, 2)
        assert feats[mid]["codec"] == codec
        assert abs(feats[mid]["mean_luma"] - want_luma) < 1e-9
    assert feats["j1"]["codec"] == "unsupported"

    audio = {
        r["media_id"]: r for r in decode_audio_features(media).collect()
    }
    a = audio["w1"]
    assert (a["channels"], a["sample_rate"], a["n_samples"]) == (1, 8000, 4)
    assert abs(a["duration_s"] - 0.0005) < 1e-9
    want_abs = round(
        float(np.mean(np.abs([0, 16384, -16384, 32767])) / 32768.0), 6
    )
    assert abs(a["mean_abs"] - want_abs) < 1e-9
    assert a["codec"] == "wav"
    assert audio["p1"]["codec"] == "unsupported"

    # real resample: 2x2 -> 1x1 (nearest = top-left pixel), valid P6 out
    small = {
        r["media_id"]: r
        for r in resample_images(media, max_side=1).collect()
    }
    p = small["p1"]
    assert (p["width"], p["height"], p["codec"]) == (1, 1, "ppm")
    arr = decode_ppm(bytes(p["payload"]))
    assert arr.shape == (1, 1, 3) and arr[0, 0].tolist() == [255, 255, 255]
    assert small["j1"]["codec"] == "unsupported"
    # no upscaling: a big max_side returns the original dims
    same = {
        r["media_id"]: r
        for r in resample_images(media, max_side=64).collect()
    }
    assert (same["b1"]["width"], same["b1"]["height"]) == (2, 2)


def test_maintenance_scheduler_runs_due_jobs(spark, tmp_path):
    """CleanupScheduler parity (reference forgetting.py:1239-1477) on
    the batch model: jobs become due by interval, a run prunes through
    the audited forget path, updates next_run, records bounded history,
    and dry_run counts without deleting."""
    from datetime import datetime, timedelta, timezone

    from alma_memory_spark.engine import AlmaSpark
    from alma_memory_spark.operators.maintenance import (
        MaintenanceJob,
        MaintenanceScheduler,
    )

    now = [datetime(2024, 2, 15, tzinfo=timezone.utc)]
    eng = AlmaSpark(spark, str(tmp_path / "m"), clock=lambda: now[0])
    old = now[0] - timedelta(days=400)
    for i in range(6):
        eng.add_knowledge("a1", "p1", "d", f"fact {i}", confidence=0.9)
    # age out half of them
    dk = eng.store.read("domain_knowledge")
    aged = dk.limit(3).withColumn(
        "last_verified", F.lit(old).cast("timestamp")
    )
    eng.store.upsert("domain_knowledge", aged)

    sched = MaintenanceScheduler(eng, clock=lambda: now[0])
    sched.register_job(
        MaintenanceJob(
            name="nightly",
            project_id="p1",
            interval_hours=24,
            tables=["domain_knowledge"],
            max_age_days=365,
        )
    )
    assert sched.run_all_due() == []  # not due yet

    now[0] += timedelta(hours=25)
    dry = sched.run_job("nightly", dry_run=True)
    assert dry.deleted["domain_knowledge"] == 3
    assert eng.store.read("domain_knowledge").count() == 6  # untouched

    results = sched.run_all_due()
    assert len(results) == 1 and results[0].success
    assert results[0].deleted["domain_knowledge"] == 3
    assert results[0].decay_at_read  # decay is computed at read, never stored
    assert eng.store.read("domain_knowledge").count() == 3
    # audit-before-delete went through the real forget path
    audits = eng.store.read("forget_audit")
    assert audits.filter(F.col("reason") == "maintenance:nightly").count() == 3
    # job rescheduled; immediately re-running finds nothing due
    assert sched.run_all_due() == []
    assert len(sched.history) == 2  # dry-run + real run
    assert sched.unregister_job("nightly")
    assert not sched.unregister_job("nightly")


def test_compression_oracle_agrees_on_punctuated_text(spark):
    """The synthetic corpus contains no sentence punctuation, so the
    compression gate cannot catch a broken oracle capture-group (a '\\1'
    escaping bug shipped exactly that way once): compare Spark and the
    DuckDB oracle directly on punctuated multi-sentence text."""
    import duckdb

    from alma_memory_spark.operators.compression import compress_column
    from alma_memory_spark.plans.registry import QUERIES

    text = (
        "First sentence is long enough to matter. Second one follows! "
        "Third is here too? Fourth keeps going. Fifth ends it. " * 3
    )
    docs = spark.createDataFrame([(1, text)], "doc_id int, text string")
    got = compress_column(docs, "text", "medium").select(
        "doc_id", "compressed", "compression_ratio"
    ).collect()[0]

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id INT, text VARCHAR)")
    con.execute("INSERT INTO documents VALUES (1, ?)", [text])
    sql = QUERIES["compression_stats"].oracle
    want = con.sql(sql).fetchall()[0]
    assert got["compressed"] == want[1]
    assert abs(got["compression_ratio"] - want[2]) < 1e-9
    # sanity: punctuation must survive compression
    assert got["compressed"].endswith(("." , "!", "?"))


def test_maintenance_reindexes_text_after_prune(spark, tmp_path):
    """reindex_text job flag: after the prune deletes rows, the
    persisted keyword index is rebuilt so postings stop referencing
    forgotten memories (the reference's rebuild-on-change contract,
    hybrid.py:53, run from the maintenance cycle)."""
    from datetime import datetime, timedelta, timezone

    from alma_memory_spark.engine import AlmaSpark
    from alma_memory_spark.operators.maintenance import (
        MaintenanceJob,
        MaintenanceScheduler,
    )
    from alma_memory_spark.operators.text_index import InvertedTextIndex

    now = [datetime(2024, 2, 15, tzinfo=timezone.utc)]
    eng = AlmaSpark(spark, str(tmp_path / "m"), clock=lambda: now[0])
    for i in range(4):
        eng.add_knowledge("a1", "p1", "d", f"searchable fact number {i}")
    eng.index_text("domain_knowledge", n_buckets=4)
    assert InvertedTextIndex.load(spark, eng._text_index_path("domain_knowledge")).n_docs == 4

    old = now[0] - timedelta(days=400)
    dk = eng.store.read("domain_knowledge")
    aged = dk.limit(2).withColumn("last_verified", F.lit(old).cast("timestamp"))
    eng.store.upsert("domain_knowledge", aged)

    sched = MaintenanceScheduler(eng, clock=lambda: now[0])
    sched.register_job(
        MaintenanceJob(
            name="nightly",
            project_id="p1",
            interval_hours=1,
            tables=["domain_knowledge"],
            max_age_days=365,
            reindex_text=True,
        )
    )
    now[0] += timedelta(hours=2)
    (res,) = sched.run_all_due()
    assert res.success and res.deleted["domain_knowledge"] == 2
    assert res.reindexed == {"domain_knowledge": 2}
    assert InvertedTextIndex.load(spark, eng._text_index_path("domain_knowledge")).n_docs == 2


def test_extract_graph_cooccurrence(spark):
    """extract_graph: sentence-scoped co-occurrence (entities in
    DIFFERENT sentences of one doc must NOT pair), deterministic
    source<target orientation, weight and doc-reach counts."""
    from alma_memory_spark.operators.entities import extract_graph

    docs = spark.createDataFrame(
        [
            (1, "Helena met Victor. Spark was mentioned alone."),
            (2, "Helena met Victor again! later Helena praised Spark."),
            (3, "nothing capitalized here."),
        ],
        "doc_id long, text string",
    )
    entities, rels = extract_graph(docs)
    e = {r["name"]: r["frequency"] for r in entities.collect()}
    # Helena: doc1 s1, doc2 s1, doc2 s2 -> 3 sentence appearances
    assert e == {"Helena": 3, "Victor": 2, "Spark": 2}

    r = {
        (x["source"], x["target"]): (x["weight"], x["n_docs"], x["relation_type"])
        for x in rels.collect()
    }
    # Helena-Victor co-occur in doc1 s1 and doc2 s1; Helena-Spark only
    # in doc2 s2; Victor-Spark NEVER share a sentence
    assert r == {
        ("Helena", "Victor"): (2, 2, "RELATED_TO"),
        ("Helena", "Spark"): (1, 1, "RELATED_TO"),
    }


def test_maintenance_reindexes_preferences_index_by_default(spark, tmp_path):
    """The reindex loop must cover EVERY indexable table (TEXT_EXPRS),
    not just the prune list — a preferences index went permanently
    stale under default jobs once."""
    from datetime import datetime, timedelta, timezone

    from alma_memory_spark.engine import AlmaSpark
    from alma_memory_spark.operators.maintenance import (
        MaintenanceJob,
        MaintenanceScheduler,
    )
    from alma_memory_spark.operators.text_index import InvertedTextIndex

    now = [datetime(2024, 2, 15, tzinfo=timezone.utc)]
    eng = AlmaSpark(spark, str(tmp_path / "m"), clock=lambda: now[0])
    eng.add_preference("u1", "style", "short answers please")
    eng.index_text("preferences", n_buckets=4)
    eng.add_preference("u1", "style", "and use examples")

    sched = MaintenanceScheduler(eng, clock=lambda: now[0])
    sched.register_job(
        MaintenanceJob(name="n", project_id="p", interval_hours=1,
                       tables=None, reindex_text=True)
    )
    now[0] += timedelta(hours=2)
    (res,) = sched.run_all_due()
    assert res.success
    assert res.reindexed.get("preferences") == 2  # picked up the new row
    assert InvertedTextIndex.load(
        spark, eng._text_index_path("preferences")
    ).n_docs == 2


def test_search_hybrid_keyword_only_table(spark, tmp_path):
    """preferences has no embedding column: search_hybrid must serve it
    keyword-only (vector side empty) with user scoping."""
    from alma_memory_spark.engine import AlmaSpark

    eng = AlmaSpark(spark, str(tmp_path / "s"))
    eng.add_preference("u1", "style", "prefer short answers")
    eng.add_preference("u2", "style", "prefer long answers")
    res = eng.search_hybrid("short answers", agent="any", table="preferences",
                            top_k=5, user_id="u1")
    assert len(res) == 1
    assert res[0]["preference"] == "prefer short answers"
    assert res[0]["vector_score"] == 0.0 and res[0]["text_score"] > 0


def test_engine_ivf_serve_forget_guard_and_maintenance_rebuild(spark, tmp_path):
    """The engine-level IVF path end-to-end: index_vectors over string
    memory ids, search_vectors == exact-scan ranking when every cell is
    probed, engine.forget() tombstones the index so deleted memories
    vanish from ANN results BEFORE any rebuild, and the reindex_ivf
    maintenance job rebuilds (clearing tombstones) — the reference's
    delete -> dirty-flag -> lazy FAISS rebuild
    (sqlite_local.py:510-521)."""
    from datetime import datetime, timedelta, timezone

    from alma_memory_spark.engine import AlmaSpark
    from alma_memory_spark.operators.maintenance import (
        MaintenanceJob,
        MaintenanceScheduler,
    )

    now = [datetime(2024, 2, 15, tzinfo=timezone.utc)]
    eng = AlmaSpark(spark, str(tmp_path / "ivf_eng"), clock=lambda: now[0])
    for i in range(30):
        eng.add_knowledge("a1", "p1", "d", f"vector fact about topic {i % 5} item {i}")

    # exact-scan baseline (no index yet)
    scan = eng.search_vectors("topic 3", agent="a1", project_id="p1", top_k=6)
    assert len(scan) == 6

    rep = eng.index_vectors("domain_knowledge", cent_every=7)
    assert rep["indexed"] and rep["n_vectors"] == 30
    # probing every cell makes IVF exact: same ranking as the scan
    served = eng.search_vectors(
        "topic 3", agent="a1", project_id="p1", top_k=6, nprobe=rep["n_cells"]
    )
    assert [(r["id"], r["similarity"]) for r in served] == [
        (r["id"], r["similarity"]) for r in scan
    ]

    # age two of the served ids out and forget(): ANN must exclude them
    # immediately, with NO rebuild in between
    doomed = {served[0]["id"], served[1]["id"]}
    old = now[0] - timedelta(days=400)
    dk = eng.store.read("domain_knowledge")
    aged = dk.filter(F.col("id").isin(list(doomed))).withColumn(
        "last_verified", F.lit(old).cast("timestamp")
    )
    eng.store.upsert("domain_knowledge", aged)
    assert eng.forget("domain_knowledge", "p1", max_age_days=365) == 2
    import os as _os

    assert _os.path.isdir(eng._load_ivf("domain_knowledge")._tombstones_path())
    after = eng.search_vectors(
        "topic 3", agent="a1", project_id="p1", top_k=6, nprobe=rep["n_cells"]
    )
    assert not doomed & {r["id"] for r in after}

    # maintenance reindex_ivf: rebuild clears tombstones, results unchanged
    sched = MaintenanceScheduler(eng, clock=lambda: now[0])
    sched.register_job(
        MaintenanceJob(
            name="ivf-rebuild",
            project_id="p1",
            interval_hours=1,
            tables=["domain_knowledge"],
            reindex_ivf=True,
        )
    )
    now[0] += timedelta(hours=2)
    (res,) = sched.run_all_due()
    assert res.success and res.reindexed.get("ivf:domain_knowledge") == 28
    assert not _os.path.isdir(eng._load_ivf("domain_knowledge")._tombstones_path())
    rebuilt = eng.search_vectors(
        "topic 3", agent="a1", project_id="p1", top_k=6, nprobe=64
    )
    assert {r["id"] for r in rebuilt} == {r["id"] for r in after}


def test_search_vectors_drops_stale_index_hits(spark, tmp_path):
    """An index entry outside tombstone coverage (here: a direct
    store.delete that never told the index) must DROP OUT of
    search_vectors instead of hydrating into a hit whose
    non-similarity fields are all null (ADVICE r4, engine.py:1125 —
    the hydration join is inner, not left)."""
    from alma_memory_spark.engine import AlmaSpark

    eng = AlmaSpark(spark, str(tmp_path / "stale"))
    for i in range(12):
        eng.add_knowledge("a1", "p1", "d", f"stale join fact {i}")
    rep = eng.index_vectors("domain_knowledge", cent_every=5)
    served = eng.search_vectors(
        "stale join fact 3", agent="a1", project_id="p1",
        top_k=4, nprobe=rep["n_cells"],
    )
    gone = served[0]["id"]
    # bypass engine.forget: the index keeps the entry, no tombstone
    assert eng.store.delete(
        "domain_knowledge", F.col("id") == gone, audit=False
    ) == 1
    after = eng.search_vectors(
        "stale join fact 3", agent="a1", project_id="p1",
        top_k=4, nprobe=rep["n_cells"],
    )
    ids = {r["id"] for r in after}
    assert gone not in ids
    assert all(r["fact"] is not None for r in after)


def test_retrieve_serves_from_ivf_index_when_asked(spark, tmp_path):
    """retrieve(use_ann=True): the vector candidate stage comes from the
    persisted scope-aware IVF index. With nprobe covering every cell the
    result must equal exact serving (same ids, same order, scores equal
    to 5dp — the index rounds cosines at 6dp), and the ANN flag + nprobe
    are part of the cache key."""
    from datetime import datetime, timezone

    from alma_memory_spark.engine import AlmaSpark

    now = datetime(2024, 2, 15, tzinfo=timezone.utc)
    eng = AlmaSpark(spark, str(tmp_path / "ann_serve"), clock=lambda: now)
    for i in range(60):
        eng.add_knowledge("a1", "p1", "d", f"serving topic {i % 6} fact {i}")
    rep = eng.index_vectors("domain_knowledge", cent_every=11)
    assert rep["indexed"]

    exact = eng.retrieve("serving topic 2", agent="a1", project_id="p1", top_k=8)
    ann = eng.retrieve(
        "serving topic 2", agent="a1", project_id="p1", top_k=8,
        use_ann=True, nprobe=rep["n_cells"],
    )
    assert ann is not exact  # separate cache entries
    assert [r["id"] for r in ann.domain_knowledge] == [
        r["id"] for r in exact.domain_knowledge
    ]
    for a, e in zip(ann.domain_knowledge, exact.domain_knowledge):
        assert abs(a["score"] - e["score"]) < 1e-5
    # small nprobe still returns results (approximate contract)
    narrow = eng.retrieve(
        "serving topic 2", agent="a1", project_id="p1", top_k=8,
        use_ann=True, nprobe=1,
    )
    assert narrow.domain_knowledge
    assert narrow is not ann  # nprobe is in the cache key


def test_retrieve_ann_falls_back_when_index_lacks_scope(spark, tmp_path):
    """use_ann=True against an IVF index WITHOUT scope columns must
    fall back to the exact scan (unscoped global candidates would burn
    the 2k budget on out-of-scope rows) — results identical to exact
    serving."""
    from datetime import datetime, timezone

    from alma_memory_spark.engine import AlmaSpark
    from alma_memory_spark.operators.ann_index import IVFIndex

    now = datetime(2024, 2, 15, tzinfo=timezone.utc)
    eng = AlmaSpark(spark, str(tmp_path / "s"), clock=lambda: now)
    for i in range(30):
        eng.add_knowledge("a1", "p1", "d", f"fallback topic {i % 3} item {i}")
    # build a SCOPELESS index at the engine's path (direct build)
    docs = (
        eng.store.read("domain_knowledge")
        .select("id", "embedding")
    )
    IVFIndex.build(
        spark, docs, eng._ivf_index_path("domain_knowledge"),
        id_col="id", cent_every=1,
    )
    exact = eng.retrieve("fallback topic 1", agent="a1", project_id="p1", top_k=6)
    ann = eng.retrieve(
        "fallback topic 1", agent="a1", project_id="p1", top_k=6, use_ann=True
    )
    assert [r["id"] for r in ann.domain_knowledge] == [
        r["id"] for r in exact.domain_knowledge
    ]
    for a, e in zip(ann.domain_knowledge, exact.domain_knowledge):
        assert abs(a["score"] - e["score"]) < 1e-9  # same exact plan


def test_search_vectors_exact_when_index_lacks_scope(spark, tmp_path):
    """search_vectors (plain and PQ refine) and search_vectors_batch
    against an IVF index WITHOUT scope columns serve from the exact
    scan, as retrieve does: the rows equal the no-index rows, not a
    probe of nprobe cells."""
    from alma_memory_spark.engine import AlmaSpark
    from alma_memory_spark.operators.ann_index import IVFIndex

    eng = AlmaSpark(spark, str(tmp_path / "s"))
    for i in range(30):
        eng.add_knowledge("a1", "p1", "d", f"fallback topic {i % 3} item {i}")
    tasks = ["fallback topic 1", "item 7"]
    kw = dict(agent="a1", project_id="p1", top_k=10, nprobe=3)

    def pairs(rows):
        return [(r["id"], r["similarity"]) for r in rows]

    def served(**extra):
        batch = eng.search_vectors_batch(tasks, **kw)
        return (
            pairs(eng.search_vectors(tasks[0], **kw, **extra)),
            {t: pairs(rows) for t, rows in batch.items()},
        )

    exact = served()
    assert len(exact[0]) == 10
    docs = eng.store.read("domain_knowledge").select("id", "embedding")
    path = eng._ivf_index_path("domain_knowledge")
    IVFIndex.build(spark, docs, path, id_col="id", cent_every=1)
    assert eng._has_ivf_index("domain_knowledge")
    assert served() == exact
    IVFIndex.build(spark, docs, path, id_col="id", cent_every=1, pq_m=2)
    assert eng._load_ivf("domain_knowledge").pq is not None
    assert served(refine=4) == exact


def test_streaming_into_scoped_text_index(spark, tmp_path):
    """Combining the r4 features: streaming epoch adds into a
    SCOPE-AWARE engine-built text index must carry the scope columns
    through, and the post-stream scoped search stays score-exact vs a
    scan over the scoped corpus."""
    from alma_memory_spark.engine import AlmaSpark
    from alma_memory_spark.operators.text_index import InvertedTextIndex
    from alma_memory_spark.operators.text_search import bm25_scores
    from alma_memory_spark.streaming.ingest import stream_documents_into_indexes

    eng = AlmaSpark(spark, str(tmp_path / "s"))
    for i in range(6):
        eng.add_knowledge("a1", "p1", "d", f"seed streaming fact {i}")
    eng.index_text("domain_knowledge", n_buckets=4)
    idx = InvertedTextIndex.load(
        spark, eng._text_index_path("domain_knowledge")
    )
    assert idx.extra_cols  # scope-aware

    # stream 4 MORE docs (with scope cols) through epoch segments
    for i in range(4):
        eng.add_knowledge("a2", "p1", "d", f"late streaming fact about topic {i}")
    late = (
        eng.store.read("domain_knowledge")
        .filter("agent = 'a2'")
        .select(
            F.col("id").alias("doc_id"),
            eng._text_expr("domain_knowledge").alias("text"),
            "project_id",
            "agent",
        )
    )
    inbox = str(tmp_path / "inbox")
    late.repartition(2).write.parquet(inbox)
    stream = (
        spark.readStream.schema(
            "doc_id string, text string, project_id string, agent string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(inbox)
    )
    q = stream_documents_into_indexes(
        stream, text_index=idx, checkpoint=str(tmp_path / "ckpt"), id_col="doc_id"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = idx.search_bm25(
        "streaming fact", k=50, filters={"project_id": "p1", "agent": "a2"}
    ).collect()
    scoped = (
        eng.store.read("domain_knowledge")
        .filter("agent = 'a2'")
        .select("id", eng._text_expr("domain_knowledge").alias("_text"))
    )
    want = (
        bm25_scores(scoped, "streaming fact", id_col="id", text_col="_text")
        .orderBy(F.desc("bm25_score"), F.asc("id"))
        .collect()
    )
    assert [(r["id"], round(r["bm25_score"], 9)) for r in got] == [
        (r["id"], round(r["bm25_score"], 9)) for r in want
    ]


def test_search_vectors_batch_matches_singles(spark, tmp_path):
    """search_vectors_batch: N tasks in one job == N search_vectors
    calls, on BOTH the exact-scan path (no index) and the IVF-served
    path (scope-aware index, every cell probed)."""
    from alma_memory_spark.engine import AlmaSpark

    eng = AlmaSpark(spark, str(tmp_path / "batch"))
    for i in range(20):
        eng.add_knowledge("a1", "p1", "d", f"batch serving fact {i % 5} item {i}")
    tasks = ["batch serving fact 1", "batch serving fact 3", "item 7"]

    def flat(rows):
        return [(r["id"], r["similarity"]) for r in rows]

    # exact path
    batch = eng.search_vectors_batch(tasks, agent="a1", project_id="p1", top_k=4)
    assert set(batch) == set(tasks)
    for t in tasks:
        single = eng.search_vectors(t, agent="a1", project_id="p1", top_k=4)
        assert flat(batch[t]) == flat(single), t
        assert batch[t][0]["fact"] is not None  # hydrated rows

    # IVF-served path
    rep = eng.index_vectors("domain_knowledge", cent_every=5)
    batch2 = eng.search_vectors_batch(
        tasks, agent="a1", project_id="p1", top_k=4, nprobe=rep["n_cells"]
    )
    for t in tasks:
        single = eng.search_vectors(
            t, agent="a1", project_id="p1", top_k=4, nprobe=rep["n_cells"]
        )
        assert flat(batch2[t]) == flat(single), t


def test_search_vectors_pq_served_matches_exact(spark, tmp_path):
    """index_vectors(pq_m=...) trains + stores PQ codes for a MEMORY
    table (string ids; pq_m auto-adjusts to a divisor of the embedder's
    dim) and search_vectors(refine=...) serves through the ADC code
    scan + exact re-rank: with a generous refine the served rows equal
    the non-PQ index serve exactly, scoped the same way; without
    `refine` the same index serves the plain exact-in-cell path."""
    from alma_memory_spark.engine import AlmaSpark

    eng = AlmaSpark(spark, str(tmp_path / "pq_serve"))
    for i in range(40):
        eng.add_knowledge(
            "a1", "p1", "d", f"quantized serving topic {i % 5} fact {i}"
        )
        eng.add_knowledge(
            "a2", "p1", "d", f"other agent topic {i % 5} fact {i}"
        )
    rep = eng.index_vectors("domain_knowledge", cent_every=7, pq_m=8)
    assert rep["indexed"] and rep["pq_m"] == 8

    kw = dict(agent="a1", project_id="p1", top_k=6, nprobe=rep["n_cells"])
    plain = eng.search_vectors("quantized serving topic 2", **kw)
    served = eng.search_vectors(
        "quantized serving topic 2", refine=1000, **kw
    )
    assert [(r["id"], r["similarity"]) for r in served] == [
        (r["id"], r["similarity"]) for r in plain
    ]
    assert all(r["agent"] == "a1" for r in served)  # scope held
    assert all(r["fact"] is not None for r in served)  # hydration intact
    # small refine still serves, scores still exact re-rank values
    small = eng.search_vectors("quantized serving topic 2", refine=1, **kw)
    exact_scores = {r["id"]: r["similarity"] for r in plain}
    assert small and all(
        exact_scores.get(r["id"]) in (None, r["similarity"]) for r in small
    )

    # a default-args rebuild (the maintenance reindex_ivf path) must
    # PRESERVE the PQ configuration, not silently strip the codes
    rep2 = eng.index_vectors("domain_knowledge", cent_every=7)
    assert rep2["pq_m"] == 8
    again = eng.search_vectors(
        "quantized serving topic 2", refine=1000, **kw
    )
    assert [r["id"] for r in again] == [r["id"] for r in served]
    # explicit pq_m=None drops PQ on rebuild
    rep3 = eng.index_vectors("domain_knowledge", cent_every=7, pq_m=None)
    assert rep3["pq_m"] is None


def test_index_vectors_rejects_bad_pq_m(spark, tmp_path):
    """Invalid pq_m must raise promptly: a negative value with
    |pq_m| > dim used to spin the divisor-fallback loop forever while
    holding the table lock (ADVICE r5, reachable from the
    alma_index_vectors tool surface)."""
    import pytest as _pytest

    from alma_memory_spark.engine import AlmaSpark

    eng = AlmaSpark(spark, str(tmp_path / "badpq"))
    eng.add_knowledge("a1", "p1", "d", "one fact to index")
    for bad in (-100, -1, 0, True, "8", 2.0):
        with _pytest.raises(ValueError, match="pq_m"):
            eng.index_vectors("domain_knowledge", pq_m=bad)
    # the validation fires even before the table exists
    with _pytest.raises(ValueError, match="pq_m"):
        eng.index_vectors("heuristics", pq_m=-100)
    # valid values still index
    assert eng.index_vectors("domain_knowledge", cent_every=5, pq_m=4)[
        "indexed"
    ]


def test_media_decoders_never_raise_on_garbage():
    """r13 robustness pin: the pure binary parsers run on UNTRUSTED
    payloads at corpus scale — any malformed input must come back None
    (image) / unsupported (audio-feature tuple path is
    exception-guarded in the kernel), never raise. Fuzz: random bytes,
    every truncation of a valid payload, and header-corrupted
    variants."""
    import random

    from alma_memory_spark.operators.multimodal import (
        decode_bmp,
        decode_ppm,
    )

    rng = random.Random(7)
    px = [(255, 0, 0)] * 6
    valid_ppm = _ppm_bytes(3, 2, px)
    valid_bmp = _bmp_bytes(3, 2, px)
    assert decode_ppm(valid_ppm) is not None
    assert decode_bmp(valid_bmp) is not None

    cases = [b"", b"P6", b"BM", b"P6\n-1 2\n255\n", b"P6\n2 2\n70000\n"]
    cases += [bytes(rng.randrange(256) for _ in range(n)) for n in (1, 13, 64, 300)]
    cases += [valid_ppm[:i] for i in range(len(valid_ppm))]
    cases += [valid_bmp[:i] for i in range(len(valid_bmp))]
    # single-byte corruptions of the headers
    for i in range(min(20, len(valid_ppm))):
        b = bytearray(valid_ppm)
        b[i] ^= 0xFF
        cases.append(bytes(b))
    for i in range(min(54, len(valid_bmp))):
        b = bytearray(valid_bmp)
        b[i] ^= 0xFF
        cases.append(bytes(b))
    for payload in cases:
        r = decode_ppm(payload)  # must not raise
        assert r is None or r.shape[2] == 3
        r = decode_bmp(payload)
        assert r is None or r.shape[2] == 3


def test_audio_stats(spark):
    """Per-(mime, codec) corpus aggregation over real audio features."""
    import io
    import wave as wave_mod

    import numpy as np

    from alma_memory_spark.operators.multimodal import (
        audio_stats,
        decode_audio_features,
    )

    def wav(rate, frames):
        buf = io.BytesIO()
        with wave_mod.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(np.zeros(frames, dtype="<i2").tobytes())
        return buf.getvalue()

    media = spark.createDataFrame(
        [
            ("a", "audio/wav", wav(8000, 8000), {}),   # 1.0 s
            ("b", "audio/wav", wav(16000, 8000), {}),  # 0.5 s
            ("c", "audio/wav", b"not a wav", {}),
        ],
        "media_id string, mime string, payload binary, meta map<string,string>",
    )
    stats = {
        (r["mime"], r["codec"]): r
        for r in audio_stats(decode_audio_features(media)).collect()
    }
    ok = stats[("audio/wav", "wav")]
    assert ok["n"] == 2
    assert abs(ok["total_duration_s"] - 1.5) < 1e-9
    assert (ok["min_rate"], ok["max_rate"]) == (8000, 16000)
    assert stats[("audio/wav", "unsupported")]["n"] == 1
