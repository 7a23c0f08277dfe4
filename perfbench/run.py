"""Agent-serving benchmark of alma_memory_spark through the AlmaSpark facade.

Run from the repository root:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Workloads (perfbench/README.md gives sizes and the reason for each):

  serve      read-only serving on an IVF-indexed store: exact retrieve
             (1 in 5 single retrieves repeats an earlier query),
             retrieve(use_ann=True), retrieve_batch of 8 and 32 tasks
  learn_mix  one agent session: learn(outcome), then retrieve(next task)
             in the same scope

Each run starts one local Spark session sized to the host, builds the
store once cold and SETUP_REPS times warm (reporting the mean CPU time
of the warm builds), times the first retrieve of fresh engines (serve),
serves a closed loop with one client of as many whole cycles as take
--seconds on the reference host, checks every answer against an exact
oracle, and prints one JSON line last on stdout:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 wraps the layers'
public functions (perfbench/spans.py), alternates traced and untraced
calls, and reports the per-layer split (perfbench/layers.py) instead.
A full record of each run lands in .perfbench/results/.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
T_START = time.perf_counter()

#: one cycle of (call kind, tasks it serves); the loop runs whole cycles
CYCLES = {
    # 1 in 5 exact-mode retrieves repeats an earlier query. The ANN and
    # batch calls run as one block: the exact retrieve right after an ANN
    # or batch call runs up to twice as slow, and keeping those to 1 in 4
    # exact calls keeps retrieve_cpu_p50_ms on the undisturbed ones
    "serve": (("exact", 1), ("exact", 1), ("repeat", 1), ("exact", 1), ("exact", 1),
              ("ann", 1), ("batch8", 8),
              ("exact", 1), ("exact", 1), ("repeat", 1), ("exact", 1), ("exact", 1),
              ("ann", 1), ("batch32", 32)),
    # learn the outcome of the previous task, then fetch context for the
    # next one: one task per (learn, retrieve) pair. Three pairs, because
    # one outcome in three fails and a failing learn costs about 1.5x a
    # succeeding one: whole cycles keep that share fixed
    "learn_mix": (("learn", 0), ("exact", 1)) * 3,
}
#: seconds a cycle of either workload takes on the reference host (4
#: cores, see README.md)
CYCLE_S = 10.0
#: call kinds of a cycle whose time per task served is cpu_ms_per_task: on
#: serve the ANN and batch calls (retrieve_cpu_p50_ms already bounds the
#: exact ones), on learn_mix each task's (learn, retrieve) pair
PER_TASK_KINDS = {"serve": ("ann", "batch8", "batch32"), "learn_mix": ("learn", "exact")}
#: domain_knowledge rows (the other scored types add 1/4 + 1/4 + 1/8)
STORE_DK_ROWS = 4000
#: timed builds after the cold one
SETUP_REPS = 2
#: untimed calls on the serving engine right after its build: each call
#: shape of the loop once. On learn_mix the warm-up learns outcome 0 (a
#: failure), so the loop's first cycle learns outcomes 1 to 3 and forms
#: a heuristic (outcome 2) and an anti-pattern (outcome 3)
WARMUP = {
    "serve": (("exact", 1), ("ann", 1), ("batch8", 8), ("batch32", 32)),
    "learn_mix": (("learn", 0), ("exact", 1)),
}
NPROBE = 4

END_TO_END = [
    ("setup_s", "s"),
    ("retrieve_cpu_p50_ms", "ms"),
    ("cpu_ms_per_task", "ms"),
]


def _calibration_probe(cpus: int) -> dict[str, float]:
    """No-Spark CPU era probe: mean seconds per process for a fixed
    4e6-iteration pure-Python loop run 1-wide and cpus-wide in
    concurrent subprocesses, timed inside each child (bench.py's calib_*
    loop, so the numbers compare across both)."""
    child = (
        "import time\nt=time.perf_counter()\ns=0\n"
        "for i in range(4_000_000): s+=i\n"
        "print(time.perf_counter()-t)"
    )

    def run_width(n: int) -> float:
        procs = [
            subprocess.Popen([sys.executable, "-c", child], stdout=subprocess.PIPE)
            for _ in range(n)
        ]
        vals = [float(p.communicate()[0]) for p in procs]
        return sum(vals) / len(vals)

    return {"calib_1w_s": run_width(1), "calib_nw_s": run_width(cpus)}


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its live descendants
    (the JVM, which runs Spark's local executors, and Spark's Python
    daemon and workers), each with the CPU of the children it has
    reaped, so a worker that exits between two readings still counts."""
    children: dict[int, list[int]] = {}
    used: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        children.setdefault(int(f[1]), []).append(int(d))
        used[int(d)] = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += used.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def _cpu_jiffies() -> tuple[int, int]:
    """(all, stolen) CPU time of the host so far: a virtual machine's
    share of time its vCPUs waited for the hypervisor is the first thing
    to check when runs spread."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return 0, 0
    return sum(f[:8]), f[7] if len(f) > 7 else 0


def _host_env(work: str, cpus: int) -> None:
    """Keep every file the run writes inside the checkout and size the
    session below physical RAM (get_spark's 16g default exceeds small
    hosts)."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    os.environ["SPARK_DRIVER_MEMORY"] = f"{min(4096, phys_mb * 3 // 10)}m"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf", shlex.quote(f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"),
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "pyspark-shell",
        ]
    )


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Run:
    def __init__(self, spark, workload: str, seed: int, seconds: float, trace: bool, work: str):
        from perfbench import workloads as W

        self.W = W
        self.spark = spark
        self.workload = workload
        self.seconds = seconds
        self.work = work
        self.cycle = CYCLES[workload]
        self.index = workload == "serve"
        t0 = time.perf_counter()
        self.store = W.generate_store(seed, STORE_DK_ROWS)
        if workload == "learn_mix":
            self.learn_scope = seed % len(W.SCOPES)
            W.add_prior_outcome(self.store, self.learn_scope)
        self.oracle = W.ExactOracle(self.store)
        self.stream = W.QuestionStream(self.store, seed)
        self.rng = random.Random(seed)
        self.detail: dict = {
            "workload": workload,
            "seed": seed,
            "store_rows": self.store.rows(),
            "store_digest": W.store_digest(self.store),
        }
        if workload == "learn_mix":
            self.learn_seq = W.learn_sequence(seed, 200)
            W.check_learn_clusters([W.PRIOR_OUTCOME, *self.learn_seq])
            self.detail["learn_digest"] = W.digest([vars(o) for o in self.learn_seq])
            self.learned = self.guard_blocked = 0
            self.heur_ids: set[str] = set()
            self.anti_ids: set[str] = set()
        self.detail["generate_s"] = time.perf_counter() - t0
        self.failures: list[str] = []
        self.attempted = 0
        self.tracer = None
        if trace:
            from perfbench.spans import Tracer

            self.tracer = Tracer()
            self.tracer.install(spark)
        # per facade call: (kind, seconds, traced)
        self.calls: list[tuple[str, float, bool]] = []
        self.cpu: list[float] = []  # CPU seconds of each call, same order
        self.recalls: dict[str, list[float]] = {"exact": [], "ann": []}
        self.served: list = []  # (question, dk ids) of exact answers
        self.groups: list[str] = []
        self.it = 0  # calls made so far

    # -- helpers ----------------------------------------------------------

    def _fail(self, msg: str) -> None:
        self.failures.append(msg)
        print(f"[perfbench] FAILED: {msg}", file=sys.stderr, flush=True)

    def _call(self, kind: str, fn, traced: bool):
        """Run one facade call; time it; count an exception as a failure."""
        self.attempted += 1
        sc = self.spark.sparkContext
        if traced:
            group = f"pb{len(self.groups)}"
            self.groups.append(group)
            sc.setJobGroup(group, f"perfbench {kind}")
            self.tracer.on = True
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:
            out = None
            self._fail(f"{kind}: {type(e).__name__}: {str(e)[:300]}")
        dt = time.perf_counter() - t0
        self.cpu.append(tree_cpu_s() - c0)
        if traced:
            self.tracer.on = False
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        self.calls.append((kind, dt, traced))
        return out

    def _check(self, q, sl, ann: bool) -> None:
        """A wrong answer counts as a failed operation."""
        if sl is None:
            return
        err = self.oracle.check(q, sl.domain_knowledge, exact=not ann)
        if err is not None:
            self._fail(f"{q.qid}: {err}")
        self.recalls["ann" if ann else "exact"].append(
            self.oracle.recall(q, sl.domain_knowledge)
        )

    def _retrieve(self, eng, q, traced: bool, kind: str) -> None:
        proj, agent = self.W.SCOPES[q.scope]
        ann = kind == "ann"
        sl = self._call(
            kind,
            lambda: eng.retrieve(q.text, agent=agent, project_id=proj,
                                 use_ann=ann, nprobe=NPROBE),
            traced,
        )
        self._check(q, sl, ann)
        if sl is not None and kind == "exact":
            self.served.append((q, [r["id"] for r in sl.domain_knowledge]))

    # -- set-up -----------------------------------------------------------

    def _build(self, rep: int):
        """One store build: fresh directory, fresh engine, the four
        tables appended, the IVF index where the workload has one."""
        from alma_memory_spark.engine import AlmaSpark

        built = AlmaSpark(self.spark, os.path.join(self.work, f"store{rep}"),
                          clock=lambda: self.W.NOW)
        for table, df in self.W.store_frames(self.spark, self.store).items():
            built.store.append(table, df)
        if self.index:
            built.index_vectors("domain_knowledge")
        return built

    def set_up(self):
        """Build the store once cold, then SETUP_REPS times warm, and
        time each build. The cold build's engine serves the timed loop.
        Right after that build it makes the WARMUP calls, untimed, so
        Spark's cold start (JIT, code generation, the first plan of each
        shape) lands on no timed call. The cold build itself is left out
        of setup_s: it is mostly the JVM's own start-up, and it varies
        twice as much as a warm build. The warm builds run in the warmed
        JVM and setup_s is the mean of their CPU time (tree_cpu_s); only
        they are traced. On serve, a fresh engine (no read plans, serving
        templates or slice cache) over each warm build then times its
        first retrieve. Returns the serving engine and setup_s."""
        from alma_memory_spark.engine import AlmaSpark

        t0 = time.perf_counter()
        eng = self._build(0)
        walls = [time.perf_counter() - t0]
        for kind, tasks in WARMUP[self.workload]:
            self._step(eng, kind, tasks, traced=False)
        if self.tracer is not None:
            self.setup_from = len(self.tracer.spans)
        firsts, cpus = [], []
        for rep in range(1, SETUP_REPS + 1):
            if self.tracer is not None:
                self.tracer.on = True
            c0, t0 = tree_cpu_s(), time.perf_counter()
            root = self._build(rep).store.root
            walls.append(time.perf_counter() - t0)
            cpus.append(tree_cpu_s() - c0)
            if self.tracer is not None:
                self.tracer.on = False
            if self.workload == "serve":
                fresh = AlmaSpark(self.spark, root, clock=lambda: self.W.NOW)
                self._retrieve(fresh, self.stream.next(rep % len(self.W.SCOPES)),
                               traced=False, kind="first")
                firsts.append(self.calls[-1][1])
            shutil.rmtree(root, ignore_errors=True)
        if self.tracer is not None:
            self.setup_spans = len(self.tracer.spans)
        self.detail["setup_wall_s"] = walls
        self.detail["setup_cpu_s"] = cpus
        if firsts:
            self.detail["retrieve_first_ms"] = statistics.fmean(firsts) * 1e3
        return eng, statistics.fmean(cpus)

    # -- timed loop -------------------------------------------------------

    def loop(self, eng) -> float:
        """Closed loop, one client, of whole cycles of the workload: as
        many as take --seconds on the reference host (CYCLE_S), at least
        one. The count is fixed rather than timed so that every run makes
        the same calls in the same order: the JVM is still compiling
        Spark's hot paths, and a run that fitted one cycle more would
        read faster for that alone. A traced run runs at least two
        cycles; in cycle c it traces the n-th call of each kind when
        n + c is odd. So each position of the cycle is traced in one of
        two cycles and untraced in the other (learn_mix's failing learn
        included), and within a cycle traced and untraced calls
        interleave, so the falling JIT curve favours neither side."""
        cycles = max(1, round(self.seconds / CYCLE_S))
        if self.tracer is not None:
            cycles = max(2, cycles)
        t0 = time.perf_counter()
        for c in range(cycles):
            seen: dict[str, int] = {}
            for kind, tasks in self.cycle:
                n = seen.get(kind, 0)
                seen[kind] = n + 1
                self._step(eng, kind, tasks,
                           traced=self.tracer is not None and (n + c) % 2 == 1)
        return time.perf_counter() - t0

    def _step(self, eng, kind: str, tasks: int, traced: bool) -> None:
        """One call; warm-up and loop share one call counter, so the
        round-robin over scopes never restarts."""
        it = self.it
        self.it += 1
        W = self.W
        if kind == "learn":
            self._learn(eng, traced)
        elif kind == "repeat":
            q, first = self.rng.choice(self.served)
            proj, agent = W.SCOPES[q.scope]
            sl = self._call(kind, lambda: eng.retrieve(q.text, agent=agent, project_id=proj),
                            traced)
            if sl is not None and [r["id"] for r in sl.domain_knowledge] != first:
                self._fail(f"{q.qid}: repeated query answered differently")
        elif kind.startswith("batch"):
            scope = it % len(W.SCOPES)
            qs = [self.stream.next(scope) for _ in range(tasks)]
            proj, agent = W.SCOPES[scope]
            out = self._call(
                kind,
                lambda: eng.retrieve_batch([q.text for q in qs], agent=agent, project_id=proj,
                                           use_ann=True, nprobe=NPROBE),
                traced,
            )
            for q in qs if out is not None else ():
                self._check(q, out.get(q.text), ann=True)
        else:
            scope = self.learn_scope if self.workload == "learn_mix" else it % len(W.SCOPES)
            self._retrieve(eng, self.stream.next(scope), traced, kind)

    def _learn(self, eng, traced: bool) -> None:
        o = self.learn_seq[self.learned]
        proj, agent = self.W.SCOPES[self.learn_scope]
        res = self._call(
            "learn",
            lambda: eng.learn(agent, o.task, o.success, proj, strategy_used=o.strategy,
                              task_type=o.task_type, error_message=o.error),
            traced,
        )
        self.learned += 1
        if res is None:
            if "write guard" in self.failures[-1]:
                self.guard_blocked += 1
        else:
            self.heur_ids.update(res.get("heuristics", []))
            self.anti_ids.update(res.get("anti_patterns", []))

    def recall_at_5(self) -> dict[str, float]:
        """Mean R@5 against the generated gold ids, per retrieval mode
        (0.0 for a mode the workload does not use)."""
        return {
            f"{prefix}recall_at_5": statistics.fmean(xs) if xs else 0.0
            for prefix, xs in (("", self.recalls["exact"]), ("ann_", self.recalls["ann"]))
        }

    # -- the run ----------------------------------------------------------

    def execute(self, mark) -> dict:
        """Set up (with the first calls), loop; `mark(phase)` records
        each phase's end."""
        eng, setup_s = self.set_up()
        mark("set_up")
        n_before = len(self.calls)
        wall = self.loop(eng)
        mark("loop")
        loop_calls = self.calls[n_before:]
        if self.workload == "learn_mix":
            want = self.W.expected_learning([self.W.PRIOR_OUTCOME,
                                             *self.learn_seq[: self.learned]])
            got = {"heuristics_formed": len(self.heur_ids),
                   "anti_patterns_formed": len(self.anti_ids)}
            self.detail["learning"] = {**got, "expected": want, "learns": self.learned,
                                       "guard_blocked": self.guard_blocked}
            if got != want:
                self._fail(f"learning formed {got}, expected {want}")
        lat: dict[str, list[float]] = {}
        cpu: dict[str, list[float]] = {}
        for (kind, dt, traced), c in zip(loop_calls, self.cpu[n_before:]):
            if not traced:
                lat.setdefault(kind, []).append(dt)
                cpu.setdefault(kind, []).append(c)
        per_task = [(k, t) for k, t in self.cycle if k in PER_TASK_KINDS[self.workload]]
        tasks = sum(t for _, t in per_task)

        def ms_per_task(secs: dict[str, list[float]]) -> float:
            """The per-task kinds' cost in one cycle (from each kind's
            mean) per task served."""
            return sum(statistics.fmean(secs[k]) for k, _ in per_task) / tasks * 1e3

        # CPU time, not wall time, is bounded: see README.md
        e2e = {
            "setup_s": setup_s,
            "retrieve_cpu_p50_ms": statistics.median(cpu["exact"]) * 1e3,
            "cpu_ms_per_task": ms_per_task(cpu),
        }
        self.detail["end_to_end"] = e2e
        self.detail["wall"] = {
            "retrieve_p50_ms": statistics.median(lat["exact"]) * 1e3,
            "ms_per_task": ms_per_task(lat),
        }
        self.detail["loop"] = {
            "wall_s": wall,
            "calls": len(loop_calls),
            **self.recall_at_5(),
            "per_kind": {
                k: {"n": len(xs), "p50_ms": statistics.median(xs) * 1e3,
                    "samples_ms": [x * 1e3 for x in xs],
                    "cpu_ms": [x * 1e3 for x in cpu[k]]}
                for k, xs in sorted(lat.items())
            },
        }
        if self.tracer is None:
            return e2e
        from perfbench.layers import per_layer_metrics

        return per_layer_metrics(self, eng, loop_calls)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(CYCLES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "alma_memory_spark", "engine.py")):
        print("perfbench: alma_memory_spark not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    _host_env(work, cpus)

    # only the result line may reach stdout: the JVM and libraries write
    # to fd 1 too, so point it at stderr and keep a private copy
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    # seconds from start to the end of each phase of the run
    timeline: dict[str, float] = {}

    def mark(phase: str) -> None:
        timeline[phase] = time.perf_counter() - T_START

    steal0 = _cpu_jiffies()
    calib_pre = _calibration_probe(cpus)
    mark("calibration_pre")
    spark = None
    try:
        t0 = time.perf_counter()
        from alma_memory_spark.session import get_spark

        spark = get_spark("perfbench", cpus=cpus)
        session_s = time.perf_counter() - t0
        mark("session")
        run = Run(spark, args.workload, args.seed, args.seconds, bool(args.trace), work)
        metrics = run.execute(mark)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        mark("stop")
    steal1 = _cpu_jiffies()
    calib_post = _calibration_probe(cpus)
    mark("calibration_post")
    calib = {k: (v + calib_post[k]) / 2 for k, v in calib_pre.items()}
    run.detail.update(
        session_s=session_s,
        cpus=cpus,
        driver_memory=os.environ["SPARK_DRIVER_MEMORY"],
        calibration={"pre": calib_pre, "post": calib_post},
        failures=run.failures[:50],
        timeline_s=timeline,
        steal_pct=100 * (steal1[1] - steal0[1]) / max(1, steal1[0] - steal0[0]),
    )
    units = dict(END_TO_END)
    if args.trace:
        from perfbench.layers import PER_LAYER

        units = dict(PER_LAYER)
        metrics.update(calib, **{"host.steal_pct": run.detail["steal_pct"]})
    out = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w") as fh:
        json.dump({**run.detail, "result": out}, fh, indent=1, default=str)
    os.write(real_stdout, (json.dumps(out) + "\n").encode())
    os.close(real_stdout)
    return 0


if __name__ == "__main__":
    sys.exit(main())
