"""Benchmark runner: executes the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec",
 "queries": {name: sec, ...}, "sf": ...}
and writes BENCH_DETAIL.json next to itself: per-run walls
("query_runs") and per-run executor profiles ("profile") of every gate.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from alma_memory_spark.metrics import scope, totals  # noqa: E402
from alma_memory_spark.session import get_spark  # noqa: E402


def _calibration_probe(widths: tuple[int, ...]) -> dict[str, float]:
    """No-Spark CPU era probe (r15, VERDICT r14 #1): mean seconds per
    process for a fixed 4e6-iteration pure-Python loop run N-wide in
    concurrent subprocesses. The r14 round showed the sandbox's 32
    vCPUs intermittently deliver ~50% per-thread throughput at full
    width (neighbor-VM oversubscription), inflating every wall in the
    sweep uniformly and poisoning cross-round PERF comparisons; these
    numbers let the driver normalize: a gate wall is comparable across
    rounds only after dividing by the era factor its width implies.
    The loop is timed INSIDE the child (spawn overhead excluded) and
    the probe runs OUTSIDE the timed query region — it adds keys, it
    never touches a query number."""
    import subprocess

    child = (
        "import time\nt=time.perf_counter()\ns=0\n"
        "for i in range(4_000_000): s+=i\n"
        "print(time.perf_counter()-t)"
    )

    def run_width(n: int) -> float:
        procs = [
            subprocess.Popen(
                [sys.executable, "-c", child], stdout=subprocess.PIPE
            )
            for _ in range(n)
        ]
        vals = [float(p.communicate()[0]) for p in procs]
        return sum(vals) / len(vals)

    out: dict[str, float] = {}
    for w in widths:
        # 1-wide is noisy minute to minute; average 3 samples there,
        # one sample at the wide widths (32 procs already average)
        reps = 3 if w == 1 else 1
        out[f"calib_{w}w"] = round(
            sum(run_width(w) for _ in range(reps)) / reps, 4
        )
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    # Era calibration (r15, VERDICT r14 #1): probe per-thread CPU
    # throughput at 1-wide and full host width (32) before the sweep
    # and again after it; the means ride the stdout JSON as calib_1w /
    # calib_32w (plus calib_<cpus>w when the bench runs narrower), the
    # pre/post pairs land in BENCH_DETAIL.json. Additions only — query
    # timing and methodology are untouched. Disable with
    # SPARK_GRAFT_CALIB=0 (the probe costs ~5 s of bench wall, outside
    # every timed region).
    calib_enabled = os.environ.get("SPARK_GRAFT_CALIB", "1") != "0"
    calib_widths = tuple(sorted({1, 32} | ({cpus} if cpus > 1 else set())))
    calib_pre: dict[str, float] = {}
    if calib_enabled:
        try:
            calib_pre = _calibration_probe(calib_widths)
        except Exception:
            calib_pre = {}  # the probe must never cost the round

    # The harness parses stdout for ONE JSON line. The JVM and various
    # libraries occasionally write to fd 1 (e.g. "WARNING: Using
    # incubator modules", Ivy resolution notes) — the round-2 run had a
    # stray second stdout line that broke the harness parse. Redirect
    # fd 1 to stderr for the whole run and keep a private dup of the
    # real stdout for the final payload, so exactly one line can ever
    # reach the parser.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    spark = get_spark("alma-bench", cpus=cpus)

    from alma_memory_spark.plans.registry import QUERIES

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    # Warm the JVM + parquet footers once with a trivial action, and the
    # Python-worker pool + Arrow serialization path (several queries use
    # pandas_udf/mapInPandas; without this the FIRST such query absorbs
    # the whole pool's cold start and the per-query numbers mislead).
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    try:
        spark.range(cpus * 4).repartition(cpus).mapInPandas(
            lambda it: (pdf for pdf in it), "id long"
        ).count()
    except Exception:
        pass  # warmup must never cost the round
    # Also warm the parquet-write commit protocol and the Structured
    # Streaming micro-batch machinery (state store provider, memory
    # sink): the registry now runs the store-write and streaming gates
    # FIRST (priority order for the correctness harness), so without
    # this the first gates absorb those cold starts and their numbers
    # mislead by several seconds each.
    try:
        import shutil
        import tempfile

        wdir = tempfile.mkdtemp(prefix="bench_warm_")
        spark.range(100).write.mode("overwrite").parquet(wdir + "/w")
        sdf = spark.readStream.schema("id long").parquet(wdir + "/w")
        q = (
            sdf.groupBy("id")
            .count()
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("bench_warm_stream")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        shutil.rmtree(wdir, ignore_errors=True)
    except Exception:
        pass  # warmup must never cost the round
    # Warm the facade serving plan (union of per-type window/top-k
    # branches + broadcast joins) and the partitioned store write +
    # swap path on a 2-row corpus — first-run codegen/commit-protocol
    # setup for these shapes costs seconds and belongs to the session,
    # not to whichever gate happens to run first.
    try:
        import shutil
        import tempfile

        from alma_memory_spark.engine import AlmaSpark

        wdir = tempfile.mkdtemp(prefix="bench_warm_eng_")
        eng = AlmaSpark(spark, wdir)
        eng.add_knowledge("w", "p", "d", "warmup fact one")
        eng.add_knowledge("w", "p", "d", "warmup fact two")
        eng.retrieve("warmup", agent="w", project_id="p", top_k=2)
        shutil.rmtree(wdir, ignore_errors=True)
    except Exception:
        pass  # warmup must never cost the round

    # Each run's jobs carry the tag gate:<name>:<run>; its profile is
    # read from the status store right after the run (the store keeps
    # only the last ~1000 jobs, so a read at the end of the sweep would
    # lose the early gates), outside the timed region. Jobs a gate
    # starts under a stage:<name> tag (the eager composite gates tag
    # their stages, in whatever thread runs them) are split out under
    # the profile's "stages".
    profile: dict[str, list[dict]] = {}
    read_s = 0.0  # wall spent reading profiles

    def run_once(name, spec, i) -> float:
        nonlocal read_s
        tag = f"gate:{name}:{i}"
        t0 = time.perf_counter()
        # noop sink, NOT count(): count() lets Catalyst prune every
        # computed column from map-only plans (a projection-only
        # gate measured 0.2 s by count vs 3.3 s of real compute);
        # the noop write materializes every column of every row
        with scope(spark, tag):
            spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        profile.setdefault(name, []).append(totals(spark, tag))
        read_s += time.perf_counter() - t0 - dt
        # gates cache intermediates for within-query reuse; dropping them
        # between queries keeps 50 queries' caches from accumulating into
        # GC/eviction pressure that randomly taxes later queries. The
        # gc.collect() releases py4j references so Spark's ContextCleaner
        # can actually reclaim the dropped RDDs + shuffle files.
        try:
            spark.catalog.clearCache()
            import gc

            gc.collect()
        except Exception:
            pass
        return dt

    # SPARK_GRAFT_BENCH_RUNS=N (r12, VERDICT r11 #5): N runs per query.
    # N=2 (default) keeps the established best-of-2 semantics —
    # steady-state timing that absorbs first-run codegen and host
    # contention spikes. N>2 reports the per-query MEDIAN (the noise
    # adjudication every round re-litigated), with per-run walls
    # recorded in BENCH_DETAIL.json so the spread is a read, not a
    # rerun.
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    runs_detail: dict[str, list[float]] = {}
    import statistics

    sweep_t0 = time.perf_counter()
    for name, spec in QUERIES.items():
        try:
            walls = [run_once(name, spec, i) for i in range(n_runs)]
            runs_detail[name] = [round(w, 4) for w in walls]
            timings[name] = round(
                min(walls) if n_runs <= 2 else statistics.median(walls), 4
            )
        except Exception as e:  # one broken query must not cost the round
            errors[name] = str(e)[:200]

    sweep_s = time.perf_counter() - sweep_t0

    # Post-sweep calibration probe (see the pre-sweep note): the
    # stdout keys are the pre/post MEAN (one era number per width for
    # the driver to normalize with), the raw pair goes to the detail
    # file so a mid-sweep era shift is visible as pre/post divergence.
    calib_post: dict[str, float] = {}
    calib_mean: dict[str, float] = {}
    if calib_enabled:
        try:
            calib_post = _calibration_probe(calib_widths)
        except Exception:
            calib_post = {}
        for k in calib_pre:
            vals = [calib_pre[k]] + (
                [calib_post[k]] if k in calib_post else []
            )
            calib_mean[k] = round(sum(vals) / len(vals), 4)

    total = round(sum(timings.values()), 4)
    payload = {
        "metric": "alma_memory_spark_bench_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "runs": n_runs,
        "detail": "BENCH_DETAIL.json",
    }
    payload.update(calib_mean)
    if errors:
        payload["errors"] = errors
    # The profiles + per-run spreads go to a FILE, not stdout: a
    # harness capture truncated at ~2000 chars once lost the total.
    # The stdout line carries only what the harness parses; everything
    # else lands in BENCH_DETAIL.json next to this script.
    try:
        detail = dict(payload)
        detail["profile"] = profile
        detail["profile_read_s"] = round(read_s, 4)
        detail["sweep_s"] = round(sweep_s, 4)
        detail["query_runs"] = runs_detail
        if calib_enabled:
            detail["calibration"] = {"pre": calib_pre, "post": calib_post}
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_DETAIL.json"),
            "w",
        ) as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
    except Exception:
        pass  # the detail file must never cost the round
    # Compact separators keep the line well under harness capture
    # limits (the round-2 tail capture was ~2 KB); write to the saved
    # real stdout so this is the process's only fd-1 line.
    line = json.dumps(payload, separators=(",", ":")) + "\n"
    os.write(real_stdout, line.encode())
    os.close(real_stdout)
    spark.stop()


if __name__ == "__main__":
    main()
