"""AlmaSpark: the engine facade — the reference's `ALMA` public API
surface re-expressed over Spark DataFrames.

API parity (reference: alma/core.py):
retrieve / retrieve_with_mode, learn, add_knowledge, add_preference,
add_anti_pattern, record_feedback, consolidate, forget (age /
confidence / quota, with audit), stats, health, checkpoint / resume /
merge_states, save_handoff / get_latest_handoff, graph as-of queries.

Execution model: writes append to partitioned Parquet (upsert-by-id via
window-dedup); serving reads are one compiled SQL statement per call
(partition-pruned filter -> vector top-2k -> composite score ->
threshold/top-k, every memory type in one union) that collects only
the final k rows per type. A driver-side TTL+LRU query cache mirrors
the reference's RetrievalCache (alma/retrieval/cache.py) with
epoch-based invalidation on writes.
"""

from __future__ import annotations

import os
import threading
import time
import uuid
from dataclasses import astuple, replace
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alma_memory_spark import schemas
from alma_memory_spark.cache import LRU
from alma_memory_spark.embedding import HashEmbedder
from alma_memory_spark.operators import learning as L
from alma_memory_spark.operators import lifecycle as LC
from alma_memory_spark.operators import workflow as WF
from alma_memory_spark.operators.consolidation import consolidate as _consolidate
from alma_memory_spark.operators.mmr import mmr_rerank
from alma_memory_spark.operators.retrieval import (
    MODES,
    ModeConfig,
    ScoringWeights,
    infer_mode,
)
from alma_memory_spark.session import tiny_df
from alma_memory_spark.slice import MemorySlice, sanitize_query

CACHE_TTL_SECONDS = 300.0

#: batch-ANN serving kernel crossover (r14, VERDICT r13 #3): batches
#: up to this size splice the probe into the serving statement as SQL
#: text (construction ~20x cheaper than the py4j frame + temp view);
#: larger batches keep the arrow kernel, whose per-batch BLAS matmul
#: wins once the scored-pair count amortizes the Python-worker hop
#: (measured crossover between batch 8 and 32 on a 4-CPU host).
_ANN_BATCH_SQL_MAX = 16
CACHE_MAX_ENTRIES = 1000


class AlmaSpark:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        embedder: HashEmbedder | None = None,
        feedback_weight: float = 0.15,
        clock=None,
        backend: str = "parquet",
    ):
        """`clock`: optional () -> datetime override for the engine's
        notion of now — deterministic retrieval scoring in tests/gates
        (recency decay is computed at read time, so wall-clock drift
        otherwise changes scores between runs).

        `backend`: 'parquet' (directory-swap store, single writer
        host) or 'txlog' (commit-log store with optimistic
        concurrency, multi-host safe — sources/txstore.py)."""
        from alma_memory_spark.session import ensure_package_shipped
        from alma_memory_spark.sources import make_store

        ensure_package_shipped(spark)
        self.spark = spark
        self.store = make_store(spark, root, backend)
        self.embedder = embedder or HashEmbedder()
        self.feedback_weight = feedback_weight
        #: slice cache: key -> (stored at, epoch snapshot, MemorySlice);
        #: see _cached_slice
        self._cache = LRU(CACHE_MAX_ENTRIES)
        # retrieve() is a pure read and safe to call from several
        # threads (concurrent Spark jobs); the epochs below are read
        # and bumped under this lock
        self._cache_lock = threading.Lock()
        # SCOPED cache epochs (reference: RetrievalCache.invalidate
        # keys entries per (agent, project) and flushes only that
        # scope's slices on write, alma/retrieval/cache.py:564-625). A
        # single global epoch — the r3 design — made every write a
        # fleet-wide cache flush in multi-agent serving. Keys:
        #   ("*",)                   global (unscoped writes)
        #   ("agent", a, p)          write/read scoped to agent a in p
        #   ("agentany", a)          agent a across projects (reads
        #                            with project_id=None snapshot this)
        #   ("proj", p)              project-wide writes (forget/
        #                            consolidate)
        #   ("anyproject",)         project-wide writes as seen by
        #                            project_id=None reads
        #   ("user", u)              preference writes for user u
        #   ("feedback",)            retrieval_feedback writes (read
        #                            only by use_feedback=True reads)
        # A read snapshots every key it depends on; a write bumps the
        # narrowest keys that cover it (_wrote). Values only grow, so a
        # changed snapshot can never be confused with an unchanged one.
        self._epochs: dict[tuple, int] = {}
        self._clock = clock
        # memory event system (reference alma/events/): write paths
        # emit typed events; the zero-subscriber fast path is one dict
        # lookup (storage_mixin.py:68-89)
        from alma_memory_spark.events import EventEmitter

        self.events = EventEmitter()
        # SQL-compiled serving plan (operators/serving_sql.py, VERDICT
        # r10 #1), the one serving path of retrieve/retrieve_batch:
        # whole-subtree template cache keyed on (store version stamps,
        # serving config); per-call cost is one spark.sql() round trip
        # instead of rebuilding the plan through py4j. Temp views are
        # namespaced per engine instance and re-registered only when a
        # table's stamp changes.
        self._srv_ns = uuid.uuid4().hex[:8]
        self._srv_lock = threading.Lock()
        self._srv_views: dict[tuple, tuple] = {}
        self._srv_templates = LRU(64)
        #: table -> (_CURRENT mtime, IVFIndex); see _load_ivf
        self._ivf_handles = LRU()

    # ------------------------------------------------------------------
    # helpers
    # ------------------------------------------------------------------

    def _now(self) -> datetime:
        return self._clock() if self._clock is not None else datetime.now(timezone.utc)

    @staticmethod
    def _new_id(prefix: str) -> str:
        return f"{prefix}_{uuid.uuid4().hex[:12]}"

    def _write(
        self,
        table: str,
        data,
        verb: str = "append",
        *,
        agent: str | None = None,
        project_id: str | None = None,
        user_id: str | None = None,
        **store_kw: Any,
    ):
        """The engine's one store-write seam: `store.<verb>(table, data,
        **store_kw)`, then _wrote. Row dicts become a driver-side Arrow
        LocalRelation (the python-RDD path costs seconds per tiny job);
        a DataFrame or a delete predicate passes through. _wrote runs
        even if the store call raises: the write may have committed
        first, and a spurious cache miss is only a re-read."""
        if isinstance(data, list):
            data = tiny_df(self.spark, data, schemas.ALL_TABLES[table])
        try:
            return getattr(self.store, verb)(table, data, **store_kw)
        finally:
            self._wrote(table, agent, project_id, user_id)

    def _wrote(self, table: str, agent, project_id, user_id) -> None:
        """The one place a write meets the slice cache: bump the epoch
        channels of the cached slices that read `table` in the written
        scope. retrieval_feedback is keyed by memory_id, not scope, so
        it bumps the channel every use_feedback read depends on; other
        tables retrieve does not read bump nothing. A memory-table
        write bumps its narrowest covering scope: user -> that user's
        preference-bearing entries; (agent, project) -> that agent's
        entries there plus its cross-project ones; project only ->
        every agent's entries there; no scope -> global flush (the
        safe fallback)."""
        if table == "retrieval_feedback":
            keys: tuple = (("feedback",),)
        elif table not in schemas.MEMORY_TABLES:
            return
        elif user_id is not None:
            keys = (("user", user_id),)
        elif agent is not None and project_id is not None:
            keys = (("agent", agent, project_id), ("agentany", agent))
        elif project_id is not None:
            keys = (("proj", project_id), ("anyproject",))
        else:
            keys = (("*",),)
        with self._cache_lock:
            for k in keys:
                self._epochs[k] = self._epochs.get(k, 0) + 1

    def _retry_conflicts(self, table: str, fn):
        """Run the read-modify-write `fn` under `table`'s lock and re-run
        it WHOLE on a commit conflict. On the commit-log backend the
        flock does not span hosts; re-running recomputes the write from
        fresh state, where a store-level retry would re-apply the stale
        rows and clobber the other host's change."""
        for _attempt in range(10):
            with self.store._table_lock(table):
                try:
                    return fn()
                except Exception as e:
                    if type(e).__name__ != "CommitConflict":
                        raise
        raise RuntimeError(f"{table}: persistent commit conflicts")

    def _epoch_snapshot(
        self,
        agents: list[str],
        project_id: str | None,
        user_id: str | None,
        use_feedback: bool = False,
    ) -> tuple:
        """Every epoch key this read depends on, as a value tuple,
        read atomically with respect to bumps."""
        keys: list[tuple] = [("*",)]
        if project_id is not None:
            keys.append(("proj", project_id))
            keys.extend(("agent", a, project_id) for a in agents)
        else:
            # an unscoped read sees every project: depend on the
            # project-wide channel and each agent's any-project channel
            keys.append(("anyproject",))
            keys.extend(("agentany", a) for a in agents)
        if user_id is not None:
            keys.append(("user", user_id))
        if use_feedback:
            keys.append(("feedback",))
        with self._cache_lock:
            return tuple(self._epochs.get(k, 0) for k in keys)

    def _cached_slice(self, key: tuple, epoch: tuple) -> MemorySlice | None:
        """The slice cached under `key` if it was stamped with this
        epoch snapshot within the TTL; a stale entry is dropped."""
        hit = self._cache.get(
            key,
            valid=lambda e: e[1] == epoch
            and time.perf_counter() - e[0] < CACHE_TTL_SECONDS,
        )
        return hit[2] if hit is not None else None

    # ------------------------------------------------------------------
    # SQL-compiled serving plan (operators/serving_sql.py, VERDICT r10 #1)
    # ------------------------------------------------------------------

    def _serving_view(self, table: str, declared_schema: bool = False):
        """Register (or reuse) this engine's temp view over the
        stamp-pinned store read. Returns (view_name, df, stamp). The
        view is re-registered only when the table's write-version stamp
        changes — the same staleness contract as store.read's plan
        cache; a no-stamp table re-registers every call (cheap, one
        py4j call) since its staleness is undetectable."""
        # txlog's read() has no declared_schema param — pass it only
        # when set
        df = (
            self.store.read(table, declared_schema=True)
            if declared_schema
            else self.store.read(table)
        )
        stamp = self.store.version_stamp(table)
        name = f"alma_srv_{self._srv_ns}_{table}"
        key = (table, declared_schema)
        with self._srv_lock:
            ent = self._srv_views.get(key)
            if ent is None or stamp is None or ent != (stamp, id(df)):
                df.createOrReplaceTempView(name)
                self._srv_views[key] = (stamp, id(df))
        return name, df, stamp

    def _register_cand_view(self, table: str, cand_df) -> str:
        """Register an ANN candidate frame under a PER-CALL unique temp
        view name and return its quoted reference. Unique because
        concurrent retrieves on one engine would otherwise serve each
        other's candidates; the frame is lazy, so the probe scan runs
        inside the serving statement's single job."""
        import uuid

        name = f"alma_cand_{self._srv_ns}_{table}_{uuid.uuid4().hex[:12]}"
        cand_df.createOrReplaceTempView(name)
        return f"`{name}`"

    def _drop_cand_views(self, cand_refs: dict[str, str]) -> None:
        for ref in cand_refs.values():
            if ref.startswith("("):
                continue  # inline SQL subquery (r13) — nothing to drop
            try:
                self.spark.catalog.dropTempView(ref.strip("`"))
            except Exception:
                pass  # view cleanup must never fail a retrieve

    def _sql_serving_rows(
        self,
        type_list: list[str],
        fetch_k: int,
        k: int,
        min_score: float,
        weights: ScoringWeights,
        cfg: ModeConfig | None,
        project_id: str | None,
        agents: list[str],
        user_id: str | None,
        use_feedback: bool,
        qvec,
        now,
        use_ann: bool = False,
        nprobe: int = 8,
    ):
        """retrieve's serving path: one compiled-SQL statement for the
        whole union plan. Returns (rows, colsets).

        `use_ann=True` (r12, VERDICT r11 #1): a type with a scope-
        expressible IVF index keeps its probe on the index path. Since
        r13 (VERDICT r12 #4) the probe is spliced into the statement as
        SQL TEXT over the index's stable lists view, so it executes
        INSIDE the one serving job with no per-call py4j frame
        construction (~145 ms) and no temp-view churn."""
        from alma_memory_spark.operators import serving_sql as SS

        def probe(t, idx, want):
            return idx.search_sql_subquery(
                qvec, k=2 * fetch_k, nprobe=nprobe, filters=want
            )

        cfg_key = (
            (cfg.prioritize_failures, cfg.exact_match_boost)
            if cfg is not None
            else None
        )
        return self._srv_serve(
            type_list, project_id, agents, user_id, k, use_feedback,
            probe if use_ann else None,
            (
                fetch_k, k, min_score, astuple(weights), cfg_key,
                project_id, tuple(agents), user_id, use_feedback,
                self.feedback_weight,
            ),
            lambda branches, prefs, fb_view: SS.compile_serving_template(
                branches, fetch_k, min_score, weights, cfg, project_id,
                tuple(agents), prefs=prefs, feedback_view=fb_view,
                feedback_weight=self.feedback_weight,
            ),
            lambda tmpl, cand_refs: tmpl.bind(qvec, now, cand_refs=cand_refs),
        )

    def _sql_batch_rows(
        self,
        type_list: list[str],
        fetch_k: int,
        min_score: float,
        weights: ScoringWeights,
        project_id: str | None,
        agent: str,
        user_id: str | None,
        qids: list[str],
        qvecs: list,
        now,
        use_ann: bool = False,
        nprobe: int = 8,
    ):
        """retrieve_batch's serving path: the qid-dimension union plan
        as one compiled-SQL statement; (qid, qvec) bind per call as an
        inline VALUES table. Returns (rows, colsets). `use_ann=True`
        joins each indexed type's per-qid IVFIndex probe as its (qid,
        id, similarity) candidate table — same contract as
        _sql_serving_rows (r12)."""
        from alma_memory_spark.operators import serving_sql as SS

        def probe(t, idx, want):
            pairs = list(zip(qids, qvecs))
            # r14 (VERDICT r13 #3): small batches splice the probe as
            # SQL TEXT — standalone probe A/B: 66-109 ms/task vs the
            # arrow view path's 113-243 at batch 4-8, construction ~20x
            # cheaper (the py4j frame + temp-view churn WAS the floor);
            # engine end-to-end when the fork landed: 954->642 ms/task
            # at batch 2, 24.4->20.1 at 32 on the gate-sized corpus (the
            # perfbench `serve` workload runs a batch of 8 and one of 32,
            # one each side of the fork). Large batches keep the arrow
            # kernel: its BLAS matmul amortizes the Python hop and beats
            # the JVM per-pair fold once per-cell occupancy x batch
            # multiplies the scored pairs (standalone crossover between
            # batch 8 and 32 at 4k vectors). The fork reads only the
            # batch length; both forms are row-identical on the pinned
            # corpora (test_batch_sql_subquery_matches).
            if len(qids) <= _ANN_BATCH_SQL_MAX:
                return idx.search_batch_sql_subquery(
                    pairs, k=2 * fetch_k, nprobe=nprobe, filters=want
                )
            return self._register_cand_view(
                t,
                idx.search_batch(pairs, k=2 * fetch_k, nprobe=nprobe, filters=want),
            )

        return self._srv_serve(
            type_list, project_id, [agent], user_id, fetch_k, False,
            probe if use_ann else None,
            (
                "batch", fetch_k, min_score, astuple(weights),
                project_id, agent, user_id,
            ),
            lambda branches, prefs, _fb: SS.compile_batch_template(
                branches, fetch_k, min_score, weights, project_id, agent,
                prefs=prefs,
            ),
            lambda tmpl, cand_refs: SS.bind_batch(
                tmpl, qids, qvecs, now, cand_refs=cand_refs
            ),
        )

    def _srv_serve(
        self, type_list, project_id, agents, user_id, limit, use_feedback,
        probe, config, compile_template, bind,
    ):
        """The body both SQL serving entry points share: register the
        stamp-pinned views, route indexed types through `probe` (which
        returns the candidate table reference), fetch or compile the
        template for (config, store stamps, ann-served types), bind it
        and run it. Returns (rows, colsets)."""
        from alma_memory_spark.operators import serving_sql as SS

        def dtypes(df):
            return tuple((f.name, f.dataType.simpleString()) for f in df.schema.fields)

        cand_refs: dict[str, str] = {}
        try:
            branches: list = []
            stamps: list[tuple] = []
            for t in type_list:
                if not self.store.exists(t):
                    continue
                view, df, stamp = self._serving_view(t)
                if probe is not None:
                    # same scope rule as every other ANN path: a scope
                    # the index cannot express keeps the exact scan
                    idx, want = self._ann_index_for(t, df, project_id, agents)
                    if want is not None:
                        cand_refs[t] = probe(t, idx, want)
                branches.append(
                    SS.BranchInput(
                        t, view, tuple(df.columns), dtypes(df), ann=t in cand_refs
                    )
                )
                stamps.append((t, stamp))
            prefs = None
            if user_id is not None:
                view, pdf, stamp = self._serving_view("preferences")
                prefs = SS.PrefsInput(
                    view, tuple(pdf.columns), dtypes(pdf), user_id, limit
                )
                stamps.append(("preferences", stamp))
            fb_view = None
            if use_feedback:
                fb_view, _, stamp = self._serving_view(
                    "retrieval_feedback", declared_schema=True
                )
                stamps.append(("retrieval_feedback", stamp))
            if not branches and prefs is None:
                return [], {}

            # the ann-served type set changes the branch SHAPE (an index
            # created or dropped between calls leaves store stamps
            # untouched, so it must key the template directly)
            key = (config, tuple(stamps), tuple(sorted(cand_refs)))
            # a None stamp means staleness is undetectable: never reuse
            tmpl = (
                None
                if any(s is None for _, s in stamps)
                else self._srv_templates.get(key)
            )
            if tmpl is None:
                tmpl = compile_template(branches, prefs, fb_view)
                self._srv_templates.put(key, tmpl)
            return self._srv_run(bind(tmpl, cand_refs)), dict(tmpl.colsets)
        finally:
            # drop on EVERY exit — including compile-time refusals that
            # raise after a candidate view was already registered
            self._drop_cand_views(cand_refs)

    def _srv_run(self, text: str) -> list:
        """Execute a bound serving statement. Its string literals read
        back the same under either parser mode, so a template cached
        before a spark.sql.parser.escapedStringLiterals flip stays
        valid; an analysis error propagates to the caller."""
        return self.spark.sql(text).collect()

    # ------------------------------------------------------------------
    # retrieval (the hot path; reference core.py:246-307)
    # ------------------------------------------------------------------

    def retrieve(
        self,
        task: str,
        agent: str,
        project_id: str | None = None,
        user_id: str | None = None,
        top_k: int | None = None,
        mode: str | None = None,
        inherit_from: list[str] | None = None,
        use_feedback: bool = False,
        use_ann: bool = False,
        nprobe: int = 8,
    ) -> MemorySlice:
        """Top-k memories of every type for `task`, served by ONE
        compiled-SQL statement (operators/serving_sql.py) and cached
        per scope. A store shape no serving path can serve (a table
        without `embedding` or its recency column, an unquotable column
        name) raises ServingSQLUnsupported; an analysis error of the
        statement propagates.

        `use_ann=True` serves the vector candidate stage of any
        memory type that has a persisted scope-aware IVF index
        (index_vectors) from that index — a partition-pruned probe of
        `nprobe` cells instead of a corpus scan, the reference's
        FAISS-IVF serving shape (sqlite_local.py:555-640). Approximate
        by construction (recall grows with nprobe); types without an
        index keep the exact scan. Default False preserves exact
        serving and the oracle-pinned scores.

        A cache hit returns the cached slice object itself. The cache
        sees only THIS engine instance's writes (each write invalidates
        the scopes it touched, _wrote); a write through another
        AlmaSpark instance or process on the same root becomes visible
        once the entry's CACHE_TTL_SECONDS (300 s) lapse, as in the
        reference's per-process RetrievalCache."""
        t0 = time.perf_counter()
        # key on the SANITIZED query (reference normalizes before keying,
        # alma/retrieval/cache.py:34-189 — raw and sanitized forms of the
        # same task share one entry) and on every input that changes the
        # result, including use_feedback (a key without it would replay a
        # non-feedback slice for a use_feedback=True call within the TTL).
        query = sanitize_query(task)
        # resolve the mode BEFORE keying: under mode='auto' two tasks can
        # sanitize to the same query yet infer different modes (inference
        # reads the raw task), so keying on the literal 'auto' would let
        # one caller be served the other's wrong-mode slice
        mode_name = mode if mode in MODES else (infer_mode(task) if mode == "auto" else None)
        key = (
            query,
            agent,
            project_id,
            user_id,
            top_k,
            mode_name,
            tuple(inherit_from or ()),
            use_feedback,
            use_ann and nprobe,  # False for exact; nprobe changes ANN results
        )
        agents_for_epoch = [agent] + [a for a in (inherit_from or ()) if a != agent]
        # capture the epoch snapshot BEFORE any store read: a write
        # landing mid-retrieve bumps its scope keys, and stamping the
        # post-write snapshot on pre-write data would undo its
        # invalidation and serve the stale slice for the full TTL
        epoch_at_read = self._epoch_snapshot(
            agents_for_epoch, project_id, user_id, use_feedback
        )
        cached = self._cached_slice(key, epoch_at_read)
        if cached is not None:
            return cached
        cfg: ModeConfig | None = MODES.get(mode_name) if mode_name else None
        weights = cfg.weights if cfg else ScoringWeights()
        # caller top_k OVERRIDES the mode default (reference core.py:
        # effective_top_k = top_k if top_k is not None else config.top_k)
        k = top_k if top_k is not None else (cfg.top_k if cfg else 5)
        min_score = 0.2 if cfg is None else (cfg.min_confidence if cfg.min_confidence else 0.0)
        # diversity re-ranking needs slack to swap memberships: over-fetch
        # 3x and let MMR cut to k (reference: retrieval_k = top_k * 3
        # when diversity_factor > 0)
        diversity = cfg.diversity_factor if cfg else 0.0
        fetch_k = 3 * k if diversity > 0 else k

        qvec = self.embedder.encode(query)
        now = self._now()
        agents = [agent] + [a for a in (inherit_from or []) if a != agent]

        # ONE Spark job for all memory types (SURVEY §3.1): the whole
        # union plan as one compiled-SQL statement (VERDICT r10 #1), one
        # spark.sql() round trip instead of rebuilding the plan through
        # py4j. ANN-index serving (r12, VERDICT r11 #1) compiles too:
        # the per-call IVF probe is spliced in as its candidate table and
        # executes inside the one serving job.
        type_list = ["heuristics", "outcomes", "domain_knowledge"]
        if cfg is None or cfg.include_anti_patterns:
            type_list.append("anti_patterns")
        rows_iter, colsets = self._sql_serving_rows(
            type_list,
            fetch_k,
            k,
            min_score,
            weights,
            cfg,
            project_id,
            agents,
            user_id,
            use_feedback,
            qvec,
            now,
            use_ann=use_ann,
            nprobe=nprobe,
        )
        # rows split back driver-side by their memory_type tag
        by_type: dict[str, list[dict]] = {t: [] for t in type_list}
        by_type.update({t: [] for t in colsets})
        for r in rows_iter:
            d = r.asDict(recursive=True)
            t = d.pop("memory_type")
            # drop the union's null-filled columns foreign to this type
            by_type[t].append({c: d[c] for c in colsets[t]})

        out: dict[str, list[dict]] = {}
        for t in type_list:
            rows = by_type[t]
            # union does not guarantee branch order — re-sort each
            # type's <= fetch_k rows driver-side with the SAME keys the
            # plan used; the tiebreak comes from the branch's column set
            # (rows[0] membership could disagree at the k boundary)
            if "ann_rank" in colsets.get(t, []):
                rows.sort(key=lambda d: (-(d.get("score") or 0.0), d.get("ann_rank") or 0))
            else:
                rows.sort(key=lambda d: (-(d.get("score") or 0.0), d.get("id") or ""))
            if diversity > 0:
                rows = mmr_rerank(rows, diversity, k)
            out[t] = rows[:k]

        prefs = by_type.get("preferences", [])
        prefs.sort(key=lambda d: (-(d.get("confidence") or 0.0), d.get("id") or ""))

        sl = MemorySlice(
            heuristics=out.get("heuristics", []),
            outcomes=out.get("outcomes", []),
            preferences=prefs,
            domain_knowledge=out.get("domain_knowledge", []),
            anti_patterns=out.get("anti_patterns", []),
            query=query,
            agent=agent,
            retrieval_time_ms=(time.perf_counter() - t0) * 1000.0,
            mode=mode_name,
        )
        self._cache.put(key, (time.perf_counter(), epoch_at_read, sl))
        return sl

    def retrieve_batch(
        self,
        tasks: list[str],
        agent: str,
        project_id: str | None = None,
        user_id: str | None = None,
        top_k: int | None = None,
        use_ann: bool = False,
        nprobe: int = 8,
    ) -> dict[str, MemorySlice]:
        """Default-mode retrieve() for N tasks in ONE Spark job — the
        serving-throughput form (the reference's benchmark harness
        ranks all its questions per job for the same reason;
        benchmarks/longmem.py is the measurement twin). It compiles the
        same branches as retrieve() over a qid dimension, so per-task
        slices are identical to retrieve(task): same candidate stage
        (exact per-qid top-2k, or the IVF probe when indexed and
        use_ann=True), same composite scoring, threshold, and tiebreaks
        — the scoring expressions are row-local, so they vectorize over
        the qid dimension unchanged. Modes, feedback blending, and
        inherit_from stay single-query concerns (retrieve() serves
        them); each returned slice ALSO lands in the retrieval cache
        under its single-task key, so follow-up retrieve() calls hit."""
        if not tasks:
            return {}
        t0 = time.perf_counter()
        all_tasks = list(dict.fromkeys(tasks))  # de-dup, keep order
        queries_all = {t: sanitize_query(t) for t in all_tasks}
        weights = ScoringWeights()
        k = top_k if top_k is not None else 5
        min_score, fetch_k = 0.2, k
        now = self._now()

        def _key(query: str) -> tuple:
            return (
                query, agent, project_id, user_id, top_k, None, (),
                False, use_ann and nprobe,
            )

        epoch_at_read = self._epoch_snapshot([agent], project_id, user_id)
        slices: dict[str, MemorySlice] = {}
        for task in all_tasks:
            cached = self._cached_slice(_key(queries_all[task]), epoch_at_read)
            if cached is not None:
                slices[task] = cached
        tasks = [t for t in all_tasks if t not in slices]
        if not tasks:
            return {t: slices[t] for t in all_tasks}
        queries = [queries_all[t] for t in tasks]
        qids = [str(i) for i in range(len(tasks))]
        qvecs = [self.embedder.encode(q) for q in queries]
        type_list = ["heuristics", "outcomes", "domain_knowledge", "anti_patterns"]

        # the whole qid-dimension union plan as one compiled-SQL
        # statement (r11): the (qid, qvec) frame rides as an inline
        # VALUES table, one spark.sql() round trip. ANN-index batch
        # serving compiles too (r12): the batch probe joins in as each
        # indexed type's (qid, id, similarity) candidate table.
        rows_iter, colsets = self._sql_batch_rows(
            type_list, fetch_k, min_score, weights,
            project_id, agent, user_id, qids, qvecs, now,
            use_ann=use_ann, nprobe=nprobe,
        )
        by_key: dict[tuple, list[dict]] = {}
        for r in rows_iter:
            d = r.asDict(recursive=True)
            t = d.pop("memory_type")
            qid = d.pop("qid")
            by_key.setdefault((qid, t), []).append(
                {c: d[c] for c in colsets[t]}
            )

        prefs = by_key.get((None, "preferences"), [])
        prefs.sort(key=lambda d: (-(d.get("confidence") or 0.0), d.get("id") or ""))
        # one elapsed figure for the whole batch job: each slice's cost
        # IS the amortized batch, not a cumulative per-loop stopwatch
        elapsed_ms = (time.perf_counter() - t0) * 1000.0
        for task, query, qid in zip(tasks, queries, qids):
            out: dict[str, list[dict]] = {}
            for t in type_list:
                rows = by_key.get((qid, t), [])
                rows.sort(
                    key=lambda d: (-(d.get("score") or 0.0), d.get("ann_rank") or 0)
                )
                out[t] = rows[:k]
            sl = MemorySlice(
                heuristics=out.get("heuristics", []),
                outcomes=out.get("outcomes", []),
                preferences=list(prefs),
                domain_knowledge=out.get("domain_knowledge", []),
                anti_patterns=out.get("anti_patterns", []),
                query=query,
                agent=agent,
                retrieval_time_ms=elapsed_ms,
                mode=None,
            )
            slices[task] = sl
            # seed the single-task cache: a follow-up retrieve(task)
            # with the same params is a hit (same key shape as retrieve)
            self._cache.put(_key(query), (time.perf_counter(), epoch_at_read, sl))
        return {t: slices[t] for t in all_tasks}

    def retrieve_with_budget(
        self,
        task: str,
        agent: str,
        max_tokens: int,
        project_id: str | None = None,
        user_id: str | None = None,
        top_k: int = 10,
    ) -> tuple[MemorySlice, str]:
        """Budget-constrained retrieval: same pipeline, prompt packed to
        `max_tokens` with the len/4 estimator (reference:
        alma/retrieval/budget.py:131-195). Returns (slice, prompt)."""
        sl = self.retrieve(task, agent, project_id=project_id, user_id=user_id, top_k=top_k)
        return sl, sl.to_prompt(max_tokens)

    def retrieve_progressive(
        self,
        task: str,
        agent: str,
        project_id: str | None = None,
        top_k: int = 10,
        level: str = "summary",
    ) -> list[dict[str, Any]]:
        """Progressive disclosure (reference: alma_retrieve_progressive
        MCP tool): `summary` returns compact (id, type, headline, score)
        rows for cheap display; `full` returns the complete rows for the
        ids the caller drills into."""
        sl = self.retrieve(task, agent, project_id=project_id, top_k=top_k)
        out: list[dict[str, Any]] = []
        headline = {
            "heuristics": lambda r: f"{r.get('condition')}: {r.get('strategy')}",
            "outcomes": lambda r: r.get("task_description"),
            "domain_knowledge": lambda r: r.get("fact"),
            "anti_patterns": lambda r: r.get("pattern"),
        }
        for mtype in ("heuristics", "outcomes", "domain_knowledge", "anti_patterns"):
            for r in getattr(sl, mtype):
                if level == "summary":
                    out.append(
                        {
                            "id": r.get("id"),
                            "memory_type": mtype,
                            "headline": headline[mtype](r),
                            "score": r.get("score"),
                        }
                    )
                else:
                    out.append({**r, "memory_type": mtype})
        out.sort(key=lambda d: -(d.get("score") or 0.0))
        return out

    def validate_embedding_dim(self, df: DataFrame, expected: int | None = None) -> int:
        """Embedding-dimension validation at plan time (reference:
        engine.py:891-929 validates provider dim vs storage dim)."""
        expected = expected or self.embedder.dim
        bad = df.filter(
            F.col("embedding").isNotNull() & (F.size("embedding") != expected)
        ).limit(1).count()
        if bad:
            raise ValueError(
                f"embedding dimension mismatch: expected {expected} "
                "(provider dim) but found rows with a different size"
            )
        return expected

    # ------------------------------------------------------------------
    # learn path (reference core.py:309-380, protocols.py:59-279)
    # ------------------------------------------------------------------

    def learn(
        self,
        agent: str,
        task: str,
        outcome: bool,
        project_id: str,
        strategy_used: str | None = None,
        task_type: str | None = None,
        duration_ms: int | None = None,
        error_message: str | None = None,
        enforce_write_guard: bool = True,
    ) -> dict[str, Any]:
        now = self._now()
        row = {
            "id": self._new_id("out"),
            "agent": agent,
            "project_id": project_id,
            "task_type": task_type or self._infer_task_type(task),
            "task_description": task,
            "success": bool(outcome),
            "strategy_used": strategy_used,
            "duration_ms": duration_ms,
            "error_message": error_message,
            "user_feedback": None,
            "timestamp": now,
            "verification_status": None,
            "embedding": self.embedder.encode(f"{task} {strategy_used or ''}"),
            "metadata": {},
        }
        new_df = tiny_df(self.spark, [row], schemas.OUTCOMES)
        if enforce_write_guard:
            aps = self.store.read("anti_patterns").filter(
                F.col("project_id") == project_id
            )
            _, blocked = L.write_guard_filter(
                new_df, aps, ["task_description", "strategy_used", "error_message"]
            )
            if blocked.limit(1).count() > 0:
                raise ValueError(
                    "learn blocked by anti-pattern write guard "
                    "(reference: ScopeViolationError)"
                )
        # no hit: the guard's `allowed` side is exactly new_df, and
        # appending its plan would only run the guard join again
        self._write("outcomes", new_df, agent=agent, project_id=project_id)

        # inline heuristic / anti-pattern checks = incremental special
        # case of the batch extractors, scoped to this (agent, task_type)
        scope = self.store.read("outcomes").filter(
            (F.col("project_id") == project_id)
            & (F.col("agent") == agent)
            & (F.col("task_type") == row["task_type"])
        )
        result: dict[str, Any] = {"outcome_id": row["id"]}

        def _existing_ids(table: str, ids: list[str]) -> set[str]:
            # only consulted when someone subscribes: bounded id-filter
            # read against the partition-pruned table
            if not self.events.has_subscribers() or not self.store.exists(table):
                return set()
            return {
                r["id"]
                for r in self.store.read(table)
                .filter(F.col("id").isin(ids))
                .select("id")
                .collect()
            }

        heur = L.extract_heuristics(scope)
        hrows = heur.collect()
        new_heur: list[str] = []
        if hrows:
            ids = [r["id"] for r in hrows]
            # extract_heuristics returns every qualifying cluster each
            # call; FORMED must fire only for ids not already stored
            # (the reference emits at create time, storage_mixin.py)
            known = _existing_ids("heuristics", ids)
            new_heur = [i for i in ids if i not in known]
            self._write("heuristics", self._heuristic_rows(hrows), "upsert",
                        agent=agent, project_id=project_id)
            result["heuristics"] = ids
        new_aps: list[str] = []
        if not outcome and error_message:
            aps = L.extract_anti_patterns(scope)
            arows = aps.collect()
            if arows:
                ids = [r["id"] for r in arows]
                known = _existing_ids("anti_patterns", ids)
                new_aps = [i for i in ids if i not in known]
                self._write("anti_patterns", self._anti_pattern_rows(arows),
                            "upsert", agent=agent, project_id=project_id)
                result["anti_patterns"] = ids
        self._emit("OUTCOME_RECORDED", agent, project_id, "outcomes", row["id"],
                   {"success": outcome, "task_type": row["task_type"]})
        for hid in new_heur:
            self._emit("HEURISTIC_FORMED", agent, project_id, "heuristics", hid)
        for aid in new_aps:
            self._emit("ANTIPATTERN_DETECTED", agent, project_id, "anti_patterns", aid)
        return result

    def _emit(
        self,
        kind: str,
        agent: str,
        project_id: str | None,
        memory_type: str | None = None,
        memory_id: str | None = None,
        payload: dict[str, Any] | None = None,
    ) -> None:
        """Emit a memory event if anyone is listening (the reference's
        _should_emit guard, storage_mixin.py:68-89)."""
        from alma_memory_spark.events import MemoryEvent, MemoryEventType

        et = MemoryEventType[kind]
        if not self.events.has_subscribers(et):
            return
        self.events.emit(
            MemoryEvent(
                event_type=et,
                agent=agent,
                project_id=project_id or "",
                memory_type=memory_type,
                memory_id=memory_id,
                timestamp=self._now(),
                payload=payload or {},
            )
        )

    def _heuristic_rows(self, rows) -> list[dict[str, Any]]:
        now = self._now()
        out = []
        for r in rows:
            d = r.asDict()
            out.append(
                {
                    "id": d["id"],
                    "agent": d["agent"],
                    "project_id": d["project_id"],
                    "condition": d["condition"],
                    "strategy": d["strategy"],
                    "confidence": float(d["confidence"]),
                    "occurrence_count": int(d["occurrence_count"]),
                    "success_count": int(d["success_count"]),
                    "last_validated": d["last_validated"] or now,
                    "created_at": d["created_at"] or now,
                    "verification_status": None,
                    "embedding": self.embedder.encode(
                        f"{d['condition']} {d['strategy']}"
                    ),
                    "metadata": {},
                }
            )
        return out

    def _anti_pattern_rows(self, rows) -> list[dict[str, Any]]:
        now = self._now()
        out = []
        for r in rows:
            d = r.asDict()
            out.append(
                {
                    "id": d["id"],
                    "agent": d["agent"],
                    "project_id": d["project_id"],
                    "pattern": d["pattern"] or d["why_bad"],
                    "why_bad": d["why_bad"],
                    "better_alternative": d.get("better_alternative"),
                    "occurrence_count": int(d["occurrence_count"]),
                    "last_seen": d["last_seen"] or now,
                    "created_at": d["created_at"] or now,
                    "verification_status": None,
                    "embedding": self.embedder.encode(
                        f"{d['pattern'] or ''} {d['why_bad'] or ''}"
                    ),
                    "metadata": {},
                }
            )
        return out

    @staticmethod
    def _infer_task_type(task: str) -> str:
        t = task.lower()
        for kw, tt in [
            ("form", "form_testing"),
            ("api", "api_testing"),
            ("database", "database_validation"),
            ("test", "testing"),
        ]:
            if kw in t:
                return tt
        return "general"

    # ------------------------------------------------------------------
    # direct writes (reference core.py add_* APIs)
    # ------------------------------------------------------------------

    def add_knowledge(
        self, agent: str, project_id: str, domain: str, fact: str, source: str = "user_stated",
        confidence: float = 0.9,
    ) -> str:
        kid = self._new_id("dk")
        self._write(
            "domain_knowledge",
            [
                {
                    "id": kid,
                    "agent": agent,
                    "project_id": project_id,
                    "domain": domain,
                    "fact": fact,
                    "source": source,
                    "confidence": confidence,
                    "last_verified": self._now(),
                    "verification_status": None,
                    "embedding": self.embedder.encode(fact),
                    "metadata": {},
                }
            ],
            agent=agent,
            project_id=project_id,
        )
        self._emit("KNOWLEDGE_ADDED", agent, project_id, "domain_knowledge", kid,
                   {"domain": domain})
        return kid

    def add_preference(
        self, user_id: str, category: str, preference: str,
        source: str = "explicit_instruction",
    ) -> str:
        pid = self._new_id("pref")
        confidence = 1.0 if source == "explicit_instruction" else 0.7
        self._write(
            "preferences",
            [
                {
                    "id": pid,
                    "user_id": user_id,
                    "category": category,
                    "preference": preference,
                    "source": source,
                    "confidence": confidence,
                    "timestamp": self._now(),
                    "metadata": {},
                }
            ],
            user_id=user_id,
        )
        self._emit("PREFERENCE_ADDED", user_id, None, "preferences", pid,
                   {"category": category})
        return pid

    def record_feedback(
        self, memory_id: str, memory_type: str, signal: str, agent: str,
        project_id: str | None = None, query: str | None = None,
    ) -> None:
        self._write(
            "retrieval_feedback",
            [
                {
                    "id": self._new_id("fb"),
                    "memory_id": memory_id,
                    "memory_type": memory_type,
                    "query": query,
                    "agent": agent,
                    "project_id": project_id,
                    "signal": signal,
                    "timestamp": self._now(),
                }
            ],
        )

    def record_usage(
        self,
        retrieved_memory_ids: list[str],
        used_memory_ids: list[str],
        memory_type: str,
        agent: str,
        query: str = "",
        project_id: str | None = None,
    ) -> list[str]:
        """Mark each retrieved memory USED or IGNORED (reference
        core.py:1325-1368). ONE batch append instead of the reference's
        per-id save loop — usage marking after a top-k retrieval is a
        k-row write, and at stream scale the same frame shape feeds the
        foreachBatch sink."""
        used = set(used_memory_ids)
        now = self._now()
        rows = [
            {
                "id": self._new_id("fb"),
                "memory_id": mid,
                "memory_type": memory_type,
                "query": query,
                "agent": agent,
                "project_id": project_id,
                "signal": "used" if mid in used else "ignored",
                "timestamp": now,
            }
            for mid in retrieved_memory_ids
        ]
        if rows:
            self._write("retrieval_feedback", rows)
        return [r["id"] for r in rows]

    # ------------------------------------------------------------------
    # lifecycle
    # ------------------------------------------------------------------

    def _policy_doomed_ids(
        self,
        df: DataFrame,
        table: str,
        max_age_days: float | None,
        min_confidence: float | None,
        quota: int | None,
    ) -> DataFrame | None:
        """The forget policies' delete set as an id frame over a GIVEN
        read of the table — the ONE derivation shared by forget()'s
        in-lock closure and the maintenance dry-run, so a policy change
        can never desynchronize preview counts from actual deletes."""
        doomed_ids: DataFrame | None = None
        ts_col = LC.FORGET_TS_COLS[table]
        if max_age_days is not None:
            cutoff = datetime.fromtimestamp(
                self._now().timestamp() - max_age_days * 86400, tz=timezone.utc
            )
            sel = LC.select_expired(df, ts_col, cutoff).select("id")
            doomed_ids = sel if doomed_ids is None else doomed_ids.unionByName(sel)
        if min_confidence is not None and "confidence" in df.columns:
            sel = LC.select_low_confidence(df, min_confidence).select("id")
            doomed_ids = sel if doomed_ids is None else doomed_ids.unionByName(sel)
        if quota is not None:
            sel = LC.select_over_quota(df, table, quota).select("id")
            doomed_ids = sel if doomed_ids is None else doomed_ids.unionByName(sel)
        return None if doomed_ids is None else doomed_ids.distinct()

    def select_doomed_ids(
        self,
        table: str,
        project_id: str,
        max_age_days: float | None = None,
        min_confidence: float | None = None,
        quota: int | None = None,
    ) -> DataFrame | None:
        df = self.store.read(table).filter(F.col("project_id") == project_id)
        return self._policy_doomed_ids(
            df, table, max_age_days, min_confidence, quota
        )

    def forget(
        self,
        table: str,
        project_id: str,
        max_age_days: float | None = None,
        min_confidence: float | None = None,
        quota: int | None = None,
        reason: str = "maintenance",
    ) -> int:
        """Policy-driven forget with audit. ZERO driver round-trip of
        the delete set: the doomed rows are derived by a closure the
        store runs against its LOCKED read (a mass forget of millions
        of rows never collects their ids). The persisted IVF index's
        tombstones are STAGED from the same in-lock frame — while the
        doomed rows' files are still live — but published only after
        the store commit succeeds: a conflict-retried attempt
        re-derives the doomed set against fresh state (quota/ordering
        can select different rows), so each attempt replaces the
        staging, and a permanently failed delete publishes nothing —
        rows that stay live are never excluded from ANN serving
        (ADVICE r4, engine.py:827)."""
        if max_age_days is None and min_confidence is None and quota is None:
            return 0
        staged: list[str] = []
        held: dict[str, Any] = {}

        def doom(df: DataFrame) -> DataFrame:
            scoped = df.filter(F.col("project_id") == project_id)
            ids = self._policy_doomed_ids(
                scoped, table, max_age_days, min_confidence, quota
            )
            doomed = scoped.join(ids, "id", "left_semi")
            if self._has_ivf_index(table):
                # resolve the handle IN-LOCK: index rebuilds hold the
                # same table lock, so resolving here pins the version
                # that is _CURRENT for this delete — a handle resolved
                # before the lock could be one rebuild stale, and its
                # tombstones would publish into a superseded version
                # dir that serving no longer reads
                idx = held["idx"] = self._load_ivf(table)
                while staged:  # earlier conflict-aborted attempt
                    idx.abort_forget(staged.pop())
                staged.append(idx.stage_forget(doomed.select("id")))
            return doomed

        try:
            n = self.store.delete(table, doom, reason=reason, memory_type=table)
        except BaseException:
            while staged:
                held["idx"].abort_forget(staged.pop())
            raise
        if staged:
            if n:
                held["idx"].commit_forget(staged.pop())
            else:
                held["idx"].abort_forget(staged.pop())
        if n:
            self._wrote(table, None, project_id, None)
            self._emit("DELETED", "", project_id, table, None,
                       {"count": n, "reason": reason})
        return n

    def consolidate(self, table: str, project_id: str, threshold: float = 0.85) -> int:
        """Merge near-duplicate memories within the project.

        Partition-scoped at scale: duplicate groups form within
        (project_id, agent), so the project's survivors + merged rows
        ARE the full new contents of exactly the project's partitions —
        only those are read and rewritten (`_rewrite_partitions`, the
        same pruned path upsert/delete use). The r3 shape rewrote the
        WHOLE table (every project) per consolidation — a full-table
        rewrite at 100 TB. Unpartitioned tables still overwrite, with a
        null-safe rest filter (a plain != silently DROPPED rows whose
        project_id is NULL). Lock-covered read-modify-write; on the
        txlog backend a cross-host conflict re-runs the whole merge."""
        n_merged = self._retry_conflicts(
            table, lambda: self._consolidate_once(table, project_id, threshold)
        )
        if n_merged:
            self._emit("CONSOLIDATED", "", project_id, table, None,
                       {"merged": n_merged})
        return n_merged

    def _consolidate_once(self, table: str, project_id: str, threshold: float) -> int:
        """One merge attempt; the caller holds `table`'s lock."""
        staged: str | None = None
        idx = None
        # handle resolved IN-LOCK (see forget: a pre-lock handle can
        # be one rebuild stale and tombstone a superseded version)
        if self._has_ivf_index(table):
            idx = self._load_ivf(table)
        # ONE read for both the project slice and the rest: a second
        # read(table) would advance the txlog conflict anchor past commits
        # that landed between the two reads, hiding them from overwrite()'s
        # conflict check (lost update on the lock-free backend)
        full = self.store.read(table)
        df = full.filter(F.col("project_id") == project_id)
        survivors, merged = _consolidate(df, threshold)
        n_merged = merged.count()
        if not n_merged:
            return 0
        new_content = survivors.unionByName(merged)
        if idx is not None:
            # the losing group members vanish from the table; STAGE their
            # vector-index tombstones before the rewrite (files still live)
            # but publish only after it commits — a CommitConflict retry
            # re-derives the losers, so tombstones from an aborted attempt
            # must never exclude rows that stayed live (ADVICE r4)
            losers = df.join(new_content.select("id"), "id", "left_anti").select("id")
            staged = idx.stage_forget(losers)
        try:
            if table in schemas.PARTITIONED_BY_PROJECT_AGENT:
                touched = self.store._pairs_of(df)
                self.store._rewrite_partitions(table, touched, new_content)
            else:
                rest = full.filter(~F.col("project_id").eqNullSafe(project_id))
                self.store.overwrite(table, rest.unionByName(new_content))
        except BaseException:
            if staged is not None:
                idx.abort_forget(staged)
            raise
        if staged is not None:
            idx.commit_forget(staged)  # rewrite committed
        self._wrote(table, None, project_id, None)
        return n_merged

    def stats(self, project_id: str | None = None) -> dict[str, int]:
        return self.store.stats(project_id)

    def health(self) -> dict[str, float]:
        tables = {t: self.store.read(t) for t in schemas.MEMORY_TABLES}
        return LC.health_metrics(tables, self._now())

    def optimize(
        self, tables: list[str] | None = None, target_file_bytes: int = 128 << 20
    ) -> dict[str, dict]:
        """Compact small files across memory tables (Delta OPTIMIZE
        analog; see ParquetStore.compact). Returns per-table reports
        for tables that needed work. Beyond the reference (SQLite has
        no file-granularity problem); essential for the incremental
        learn() write pattern at scale. Compaction rewrites files but
        changes no row, so no cached slice goes stale."""
        out: dict[str, dict] = {}
        for t in tables or list(schemas.MEMORY_TABLES):
            rep = self.store.compact(t, target_file_bytes=target_file_bytes)
            if rep:
                out[t] = rep
        return out

    # ------------------------------------------------------------------
    # hybrid search (reference: alma/retrieval/hybrid.py —
    # HybridSearchEngine.index_corpus / text_search / fuse)
    # ------------------------------------------------------------------

    #: text expression indexed per memory table (the reference indexes
    #: `[h.strategy for h in heuristics]`-style projections of each type;
    #: hybrid.py:57-60)
    TEXT_EXPRS: dict[str, Any] = {
        "heuristics": ("condition", "strategy"),
        "outcomes": ("task_description",),
        "domain_knowledge": ("fact",),
        "anti_patterns": ("pattern", "better_alternative"),
        "preferences": ("preference",),
    }

    def _text_index_path(self, table: str) -> str:
        return os.path.join(self.store.root, "_indexes", "text", table)

    def _text_expr(self, table: str) -> F.Column:
        cols = self.TEXT_EXPRS[table]
        return F.concat_ws(" ", *[F.coalesce(F.col(c), F.lit("")) for c in cols])

    def index_text(self, table: str = "domain_knowledge", n_buckets: int = 64) -> dict[str, Any]:
        """Build (or rebuild) the persisted keyword index for a memory
        table — the reference's HybridSearchEngine.index_corpus
        (hybrid.py:86-97), except the index is term-bucketed parquet
        (operators/text_index.py) instead of an in-RAM bm25s object, so
        it survives the session and prunes partitions at query time.
        Matches the reference's staleness contract verbatim: 'the text
        index must be rebuilt when the corpus changes' (hybrid.py:53) —
        call this from the maintenance cycle after heavy writes."""
        from alma_memory_spark.operators.text_index import InvertedTextIndex

        if table not in self.TEXT_EXPRS:
            raise ValueError(f"no text projection for table: {table}")
        if not self.store.exists(table):
            return {"table": table, "n_docs": 0, "indexed": False}
        full = self.store.read(table)
        # scope columns ride the postings (typed extra cols), making
        # scoped BM25 an index-only read with EXACT scoped statistics
        # (see InvertedTextIndex.search_bm25 filters)
        scope_cols = [
            c for c in ("project_id", "agent", "user_id") if c in full.columns
        ]
        docs = full.select(
            "id", self._text_expr(table).alias("_text"), *scope_cols
        )
        idx = InvertedTextIndex.build(
            self.spark,
            docs,
            self._text_index_path(table),
            id_col="id",
            text_col="_text",
            n_buckets=n_buckets,
            extra_cols=scope_cols,
        )
        return {"table": table, "n_docs": idx.n_docs, "indexed": True}

    def _ivf_index_path(self, table: str) -> str:
        return os.path.join(self.store.root, "_indexes", "ivf", table)

    @staticmethod
    def _has_index(path: str, sub: str) -> bool:
        """Whether a persisted index at `path` has a live version
        holding `sub` (lists for IVF, stats for text)."""
        from alma_memory_spark.operators._index_version import resolve_vroot

        vroot = resolve_vroot(path)
        return vroot is not None and os.path.isdir(os.path.join(vroot, sub))

    def _has_ivf_index(self, table: str) -> bool:
        return self._has_index(self._ivf_index_path(table), "lists")

    def _load_ivf(self, table: str):
        """Cached IVF handle for the serving paths: the quantizer is
        immutable between rebuilds, so re-collecting the centroids +
        meta parquet per uncached retrieve would add two driver jobs to
        the hot path. Keyed by the _CURRENT version pointer's mtime,
        which every rebuild's atomic swap touches (this process or
        another); segments and tombstones are re-listed from disk on
        every search, so the cached handle never serves stale adds or
        deletes."""
        from alma_memory_spark.operators.ann_index import IVFIndex

        path = self._ivf_index_path(table)
        try:
            mtime = os.path.getmtime(os.path.join(path, "_CURRENT"))
        except OSError:
            mtime = -1.0
        hit = self._ivf_handles.get(table, valid=lambda e: e[0] == mtime)
        if hit is not None:
            return hit[1]
        idx = IVFIndex.load(self.spark, path)
        self._ivf_handles.put(table, (mtime, idx))
        return idx

    #: index_vectors(pq_m=_PQ_PRESERVE) keeps the existing index's PQ
    #: configuration across a rebuild — so a maintenance reindex_ivf
    #: (which passes no pq args) never silently strips the codes off a
    #: PQ-built index. Pass None to explicitly drop PQ, an int to set.
    _PQ_PRESERVE = "preserve"

    def index_vectors(
        self,
        table: str = "domain_knowledge",
        cent_every: int = 50,
        kmeans_iters: int = 0,
        pq_m: int | None | str = _PQ_PRESERVE,
    ) -> dict[str, Any]:
        """Build (or rebuild) the persisted IVF vector index for a
        memory table — the Spark-shaped counterpart of the reference's
        FAISS IndexIVFFlat build at storage init
        (sqlite_local.py:555-640). Rebuilding clears tombstones, so a
        maintenance-cycle call after heavy deletes is the lazy-rebuild
        the reference's dirty flag schedules (sqlite_local.py:510-521).
        Tiny corpora where the 1/cent_every hash sample yields no seeds
        fall back to every-row seeds (exact per-cell search).

        Holds the TABLE lock for the whole read + build: build() clears
        tombstones (a rebuild supersedes prior deletes), and an
        unserialized forget() interleaving with the rebuild could write
        tombstones that the clear erases while the lists were built
        from the PRE-delete snapshot — reopening the staleness hole.
        forget()'s doom closure runs under the same lock, so the
        rebuild sees either the pre-delete table (tombstones written
        after, kept) or the post-delete table (nothing to tombstone).

        `pq_m` additionally trains product-quantization codebooks and
        stores m-byte PQ codes beside the vectors (IVFIndex PQ docs —
        the 100 TB IO/memory path); search_vectors(refine=...) then
        serves from the codes with an exact re-rank."""
        with self.store._table_lock(table):
            return self._index_vectors_locked(
                table, cent_every, kmeans_iters, pq_m
            )

    def _index_vectors_locked(
        self,
        table: str,
        cent_every: int,
        kmeans_iters: int,
        pq_m: int | None | str = _PQ_PRESERVE,
    ) -> dict[str, Any]:
        from alma_memory_spark.operators.ann_index import IVFIndex

        if pq_m == self._PQ_PRESERVE:
            # a rebuild with no explicit pq arg keeps the live index's
            # PQ configuration (the maintenance reindex path) — an index
            # built with codes must not lose them to a routine rebuild
            pq_m = None
            if self._has_ivf_index(table):
                prev = IVFIndex.load(self.spark, self._ivf_index_path(table))
                if prev.pq is not None:
                    pq_m = int(prev.pq[0])
        elif pq_m is not None and (
            not isinstance(pq_m, int) or isinstance(pq_m, bool) or pq_m < 1
        ):
            # validate BEFORE the divisor walk below: a negative pq_m
            # with |pq_m| > dim never terminates `while dim % pq_m:
            # pq_m -= 1` (ADVICE r5), and this path sits on the tool
            # surface holding the table lock
            raise ValueError(f"pq_m must be a positive int (got {pq_m!r})")
        self._ivf_handles.discard(table)  # rebuild invalidates the handle
        if not self.store.exists(table):
            return {"table": table, "n_vectors": 0, "indexed": False}
        full = self.store.read(table).filter(F.col("embedding").isNotNull())
        # scope columns ride the index lists so scoped searches filter
        # INSIDE the pruned scan (PushedFilters) instead of semi-joining
        # the corpus per query
        scope_cols = [c for c in ("project_id", "agent") if c in full.columns]
        df = full.select("id", "embedding", *scope_cols)
        n = df.count()
        if n == 0:
            return {"table": table, "n_vectors": 0, "indexed": False}
        path = self._ivf_index_path(table)
        # memory-table embedding dims may not divide a requested pq_m;
        # fall back to the largest divisor <= pq_m (PQ stays useful,
        # build never fails on a dim mismatch)
        if pq_m is not None:
            dim = len(
                df.select("embedding").filter(
                    F.col("embedding").isNotNull()
                ).first()["embedding"]
            )
            while dim % pq_m:
                pq_m -= 1
        try:
            idx = IVFIndex.build(
                self.spark, df, path, id_col="id", vec_col="embedding",
                cent_every=cent_every, kmeans_iters=kmeans_iters,
                extra_cols=scope_cols, pq_m=pq_m,
            )
        except ValueError:  # no hash-sampled seeds (tiny corpus)
            idx = IVFIndex.build(
                self.spark, df, path, id_col="id", vec_col="embedding",
                cent_every=1, extra_cols=scope_cols, pq_m=pq_m,
            )
        return {
            "table": table,
            "n_vectors": n,
            "n_cells": int(len(idx.cells)),
            "indexed": True,
            "pq_m": int(idx.pq[0]) if idx.pq else None,
        }

    @staticmethod
    def _ann_scope_filters(df: DataFrame, idx, project_id, agent) -> dict | None:
        """Scope predicates servable INSIDE the pruned index scan, or
        None when the index lacks a needed scope column — callers then
        serve from their exact scan. Shared by EVERY ANN entry point —
        single/batch, SQL/DataFrame — so the scoping rule cannot
        diverge (ADVICE r12 retired the two inline copies).

        `agent` accepts a single name, None, or the agents list from
        retrieve()'s inherit_from form; a one-element list collapses to
        the scalar so the index filter shape matches the single path."""
        want = {}
        if project_id is not None and "project_id" in df.columns:
            want["project_id"] = project_id
        if isinstance(agent, (list, tuple)):
            agent = list(agent) if len(agent) > 1 else (agent[0] if agent else None)
        if agent is not None and "agent" in df.columns:
            want["agent"] = agent
        if set(want) <= {n for n, _t in idx.extra_cols}:
            return want
        return None

    def _ann_index_for(self, table: str, df: DataFrame, project_id, agent):
        """(IVF handle, scope filters) when the table's index can serve
        this scope, else (handle or None, None): the exact scan serves."""
        if not self._has_ivf_index(table):
            return None, None
        idx = self._load_ivf(table)
        return idx, self._ann_scope_filters(df, idx, project_id, agent)

    def search_vectors(
        self,
        task: str,
        agent: str | None = None,
        project_id: str | None = None,
        table: str = "domain_knowledge",
        top_k: int = 10,
        nprobe: int = 3,
        refine: int | None = None,
    ) -> list[dict[str, Any]]:
        """ANN retrieval served from the persisted IVF index when one
        exists (partition-pruned probe of nprobe cells), else exact
        cosine over the scoped scan. Scope predicates apply INSIDE the
        pruned index scan (index_vectors stores the scope columns — the
        query never touches the corpus until the final <= top_k row
        hydration join); an index that cannot express the scope
        (_ann_scope_filters) is not used, and the exact scan serves.
        Tombstones exclude ids removed by forget() or consolidation
        merges since the last rebuild.

        `refine` routes a PQ-built index (index_vectors(pq_m=...))
        through the ADC code scan + exact re-rank of refine*top_k
        candidates (IVFIndex.search_pq) — served scores stay exact;
        ignored when the index has no PQ codes."""
        from alma_memory_spark.functions.vector import cosine_similarity
        from alma_memory_spark.operators.ann_index import IVFIndex

        if not self.store.exists(table):
            return []
        query = sanitize_query(task)
        qvec = self.embedder.encode(query)
        df = self.store.read(table)
        if "project_id" in df.columns and project_id is not None:
            df = df.filter(F.col("project_id") == project_id)
        if "agent" in df.columns and agent is not None:
            df = df.filter(F.col("agent") == agent)
        idx, want = self._ann_index_for(table, df, project_id, agent)
        if want is not None and refine is not None and idx.pq is not None:
            hits = idx.search_pq(
                qvec, k=top_k, nprobe=nprobe, refine=refine, filters=want
            )
        elif want is not None:
            hits = idx.search(qvec, k=top_k, nprobe=nprobe, filters=want)
        else:
            qlit = F.lit([float(x) for x in qvec])  # one py4j call
            hits = (
                df.filter(F.col("embedding").isNotNull())
                .select(
                    "id",
                    F.round(cosine_similarity("embedding", qlit), 6).alias("similarity"),
                )
                .orderBy(F.desc("similarity"), F.asc("id"))
                .limit(top_k)
            )
        # INNER hydration join: identical to a left join for live rows
        # (every non-index hit comes FROM df), but an index entry that
        # escaped tombstone coverage — e.g. an upsert moved a row's
        # scope or embedding after the build — drops out instead of
        # surfacing as a hit whose non-similarity fields are all null
        # (ADVICE r4, engine.py:1125)
        out = hits.join(df, "id", "inner").orderBy(
            F.desc("similarity"), F.asc("id")
        )
        return [r.asDict(recursive=True) for r in out.collect()]

    def search_vectors_batch(
        self,
        tasks: list[str],
        agent: str | None = None,
        project_id: str | None = None,
        table: str = "domain_knowledge",
        top_k: int = 10,
        nprobe: int = 3,
    ) -> dict[str, list[dict[str, Any]]]:
        """Batch form of search_vectors: N queries in ONE Spark job
        instead of N (the reference's benchmark harness ranks all its
        questions per job for the same reason — benchmarks/longmem.py
        one-job ranking; FAISS exposes the same batch dimension on
        Index.search). Per-task results are identical to
        search_vectors(task), with the same scope rule: index path via
        IVFIndex.search_batch (union-of-probes pruned scan + per-query
        mask + one qid shuffle), exact path — no index, or one that
        cannot express the scope — via a broadcast query crossJoin over
        the scoped scan. Returns {task: rows}."""
        from pyspark.sql.window import Window as W

        from alma_memory_spark.functions.vector import cosine_similarity

        if not tasks:
            return {}
        if not self.store.exists(table):
            return {task: [] for task in tasks}
        qids = [str(i) for i in range(len(tasks))]
        qvecs = [self.embedder.encode(sanitize_query(t)) for t in tasks]
        df = self.store.read(table)
        if "project_id" in df.columns and project_id is not None:
            df = df.filter(F.col("project_id") == project_id)
        if "agent" in df.columns and agent is not None:
            df = df.filter(F.col("agent") == agent)
        idx, want = self._ann_index_for(table, df, project_id, agent)
        if want is not None:
            hits = idx.search_batch(
                list(zip(qids, qvecs)), k=top_k, nprobe=nprobe, filters=want
            )
        else:
            qdf = tiny_df(
                self.spark,
                [(q, [float(x) for x in v]) for q, v in zip(qids, qvecs)],
                "qid string, qvec array<double>",
            )
            scored = (
                df.filter(F.col("embedding").isNotNull())
                .crossJoin(F.broadcast(qdf))
                .select(
                    "qid",
                    "id",
                    F.round(
                        cosine_similarity("embedding", F.col("qvec")), 6
                    ).alias("similarity"),
                )
            )
            w = W.partitionBy("qid").orderBy(F.desc("similarity"), F.asc("id"))
            hits = (
                scored.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") <= top_k)
                .drop("_rk")
            )
        out = hits.join(df, "id", "inner").orderBy(
            "qid", F.desc("similarity"), F.asc("id")
        )
        by_qid: dict[str, list[dict[str, Any]]] = {q: [] for q in qids}
        for r in out.collect():
            d = r.asDict(recursive=True)
            by_qid[d.pop("qid")].append(d)
        return {task: by_qid[q] for task, q in zip(tasks, qids)}

    def search_hybrid(
        self,
        task: str,
        agent: str,
        project_id: str | None = None,
        table: str = "domain_knowledge",
        top_k: int = 5,
        vector_weight: float = 0.5,
        text_weight: float = 0.5,
        rrf_k: int = 60,
        user_id: str | None = None,
    ) -> list[dict[str, Any]]:
        """Vector + keyword retrieval fused by weighted RRF — the
        reference's HybridSearchEngine.fuse (hybrid.py:113-178: score =
        Σ weight / (rrf_k + rank), absent side contributes 0), with the
        same weight normalization as HybridSearchConfig.__post_init__.

        The keyword side serves from the PERSISTED index when
        index_text() has run and the index carries every scope column
        the call filters on (index_text stores them): the scope
        predicates push into the partition-pruned postings scan and
        the statistics are the scope's own, so scores equal scan-BM25
        over the scoped rows. Otherwise — no index, or one that cannot
        express the scope — the scan-based bm25_scores over the
        already-scoped rows serves: same formula, corpus-sized read.
        Both rankings are top-few-dozen rows, so the fuse join
        broadcasts."""
        from alma_memory_spark.functions.vector import cosine_similarity
        from alma_memory_spark.operators.fusion import rrf_fuse
        from alma_memory_spark.operators.text_index import InvertedTextIndex
        from alma_memory_spark.operators.text_search import bm25_scores

        total = vector_weight + text_weight
        if total > 0 and abs(total - 1.0) > 0.01:
            vector_weight, text_weight = vector_weight / total, text_weight / total
        if not self.store.exists(table):
            return []
        query = sanitize_query(task)
        qvec = self.embedder.encode(query)
        df = self.store.read(table)
        if "project_id" in df.columns and project_id is not None:
            df = df.filter(F.col("project_id") == project_id)
        if "agent" in df.columns:
            df = df.filter(F.col("agent") == agent)
        if "user_id" in df.columns and user_id is not None:
            df = df.filter(F.col("user_id") == user_id)
        fetch = max(2 * top_k, 10)

        qlit = F.lit([float(x) for x in qvec])  # one py4j call
        if "embedding" in df.columns:
            vec = (
                df.filter(F.col("embedding").isNotNull())
                .select(
                    "id",
                    F.round(cosine_similarity("embedding", qlit), 6).alias(
                        "similarity"
                    ),
                )
                .orderBy(F.desc("similarity"), F.asc("id"))
                .limit(fetch)
            )
        else:
            # tables without a vector column (preferences) are
            # keyword-only: the fuse degenerates to the text ranking
            vec = self.spark.createDataFrame([], "id string, similarity double")

        ixpath = self._text_index_path(table)
        idx = (
            InvertedTextIndex.load(self.spark, ixpath)
            if self._has_index(ixpath, "stats")
            else None
        )
        want = {}
        if project_id is not None and "project_id" in df.columns:
            want["project_id"] = project_id
        if "agent" in df.columns:
            want["agent"] = agent
        if user_id is not None and "user_id" in df.columns:
            want["user_id"] = user_id
        if idx is not None and set(want) <= {n for n, _t in idx.extra_cols}:
            # the live-table semi-join is the staleness guard for rows
            # deleted since the last reindex
            txt = (
                idx.search_bm25(query, k=2 * fetch, filters=want)
                .join(df.select("id"), "id", "left_semi")
                .orderBy(F.desc("bm25_score"), F.asc("id"))
                .limit(fetch)
            )
        else:
            txt = (
                bm25_scores(
                    df.select("id", self._text_expr(table).alias("_text")),
                    query,
                    id_col="id",
                    text_col="_text",
                )
                .orderBy(F.desc("bm25_score"), F.asc("id"))
                .limit(fetch)
            )

        fused = rrf_fuse(
            vec,
            txt.withColumnRenamed("bm25_score", "text_score"),
            id_col="id",
            vector_weight=vector_weight,
            text_weight=text_weight,
            rrf_k=rrf_k,
            keep_scores=True,
        ).limit(top_k)
        out = fused.join(df, "id", "left").orderBy(
            F.desc("rrf_score"), F.asc("id")
        )
        return [r.asDict(recursive=True) for r in out.collect()]

    # ------------------------------------------------------------------
    # forward-looking confidence (reference: alma/confidence/engine.py)
    # ------------------------------------------------------------------

    def rank_strategies(
        self,
        strategies: list[str],
        context: str,
        agent: str,
        project_id: str | None = None,
    ) -> list[dict[str, Any]]:
        """ConfidenceEngine.rank_strategies (engine.py:152-182) as ONE
        Spark job: every candidate strategy is assessed in a single
        batch plan (operators/confidence.py) instead of the reference's
        per-strategy retrieve loop, then sorted by confidence_score
        desc. Returns the full signal row per strategy."""
        from alma_memory_spark.operators.confidence import assess_strategies

        def scoped(table: str) -> DataFrame:
            df = self.store.read(table)
            if project_id is not None and "project_id" in df.columns:
                df = df.filter(F.col("project_id") == project_id)
            if "agent" in df.columns:
                df = df.filter(F.col("agent") == agent)
            return df

        out = assess_strategies(
            self.spark,
            strategies,
            context,
            heuristics=scoped("heuristics"),
            anti_patterns=scoped("anti_patterns"),
            outcomes=scoped("outcomes"),
            embedder=self.embedder,
        ).orderBy(F.desc("confidence_score"), F.asc("sid"))
        return [r.asDict() for r in out.collect()]

    def assess_strategy(
        self,
        strategy: str,
        context: str,
        agent: str,
        project_id: str | None = None,
    ) -> dict[str, Any]:
        """Single-strategy form (reference engine.py:70-150) — the
        batch of one."""
        return self.rank_strategies([strategy], context, agent, project_id)[0]

    # ------------------------------------------------------------------
    # automatic conversation learning (reference: alma/extraction/
    # auto_learner.py + extractor.py + types.py MemoryScope)
    # ------------------------------------------------------------------

    def learn_from_conversation(
        self,
        messages: list[dict[str, str]],
        agent: str,
        project_id: str,
        user_id: str | None = None,
        scope: Any | None = None,
        commit: bool = True,
        min_confidence: float = 0.5,
    ) -> dict[str, Any]:
        """AutoLearner.learn_from_conversation (auto_learner.py:68-173)
        on the rule-based extractor (the LLM extractor stays env-gated):
        extract -> confidence + scope filter -> per-fact-type commit
        routing (heuristic -> heuristics upsert, anti_pattern ->
        anti_patterns, preference -> add_preference when user_id given,
        domain_knowledge/outcome -> add_knowledge). The extraction runs
        the SAME batch operator used for corpus-scale chat mining
        (operators/auto_learn.py) on a frame of this conversation."""
        from alma_memory_spark.operators.auto_learn import (
            extract_facts,
            filter_by_scope,
        )

        mdf = tiny_df(
            self.spark,
            [
                (i, m.get("role", "user"), m.get("content", ""))
                for i, m in enumerate(messages)
            ],
            "msg_idx int, role string, content string",
        )
        facts = extract_facts(mdf)
        valid_df, rejected_df = filter_by_scope(facts, scope, min_confidence)
        valid = [r.asDict() for r in valid_df.orderBy("msg_idx", "fact_type").collect()]
        rejected = [
            r.asDict() for r in rejected_df.orderBy("msg_idx", "fact_type").collect()
        ]

        committed: list[dict[str, Any]] = []
        if commit:
            now = self._now()
            # ONE batched upsert per fact type (a per-fact upsert would
            # re-read and rewrite the table once per fact — quadratic
            # in committed facts; record_usage already set the batch
            # precedent)
            heur_rows, ap_rows = [], []
            for f in valid:
                fid = None
                if f["fact_type"] == "heuristic":
                    fid = self._new_id("heur")
                    heur_rows.append(
                        {
                            "id": fid,
                            "agent": agent,
                            "project_id": project_id,
                            "condition": f["fact_content"],
                            "strategy": f["fact_content"],
                            "confidence": f["confidence"],
                            "occurrence_count": 1,
                            "success_count": 1,
                            "last_validated": now,
                            "created_at": now,
                            "verification_status": None,
                            "embedding": self.embedder.encode(f["fact_content"]),
                            "metadata": {"source": "auto_extraction"},
                        }
                    )
                elif f["fact_type"] == "anti_pattern":
                    fid = self._new_id("ap")
                    ap_rows.append(
                        {
                            "id": fid,
                            "agent": agent,
                            "project_id": project_id,
                            "pattern": f["fact_content"],
                            "why_bad": None,
                            "better_alternative": None,
                            "occurrence_count": 1,
                            "last_seen": now,
                            "created_at": now,
                            "verification_status": None,
                            "embedding": self.embedder.encode(f["fact_content"]),
                            "metadata": {"source": "auto_extraction"},
                        }
                    )
                elif f["fact_type"] == "preference":
                    if user_id:
                        fid = self.add_preference(
                            user_id, "general", f["fact_content"],
                            source="auto_extraction",
                        )
                else:  # domain_knowledge / outcome fall back to knowledge
                    # OUTCOME facts commit under the FIXED domain
                    # 'outcomes' (reference _commit_fact routing,
                    # auto_learner.py:223-229); only domain_knowledge
                    # facts use the inferred domain
                    domain = (
                        "outcomes"
                        if f["fact_type"] == "outcome"
                        else f.get("inferred_domain") or "general"
                    )
                    fid = self.add_knowledge(
                        agent,
                        project_id,
                        domain,
                        f["fact_content"],
                        source="auto_extraction",
                    )
                if fid:
                    committed.append({"fact": f, "id": fid})
            if heur_rows:
                self._write("heuristics", heur_rows, "upsert",
                            agent=agent, project_id=project_id)
            if ap_rows:
                self._write("anti_patterns", ap_rows, "upsert",
                            agent=agent, project_id=project_id)
        return {
            "extracted_count": len(valid) + len(rejected),
            "valid_count": len(valid),
            "committed_count": len(committed),
            "rejected_count": len(rejected),
            "committed": committed,
            "rejected": rejected,
            "valid_facts": valid,
        }

    # ------------------------------------------------------------------
    # progress tracking (reference: alma/progress/tracker.py + types.py)
    # ------------------------------------------------------------------

    def create_work_item(
        self,
        project_id: str,
        title: str,
        description: str = "",
        item_type: str = "task",
        agent: str | None = None,
        priority: int = 50,
        parent_id: str | None = None,
        blocked_by: list[str] | None = None,
        acceptance_criteria: list[str] | None = None,
    ) -> dict[str, Any]:
        """WorkItem.create (progress/types.py:66-88): status 'pending',
        zero time/attempts."""
        now = self._now()
        row = {
            "id": str(uuid.uuid4()),
            "project_id": project_id,
            "agent": agent,
            "title": title,
            "description": description,
            "item_type": item_type,
            "status": "pending",
            "priority": priority,
            "time_spent_ms": 0,
            "attempt_count": 0,
            "parent_id": parent_id,
            "blocks": [],
            "blocked_by": blocked_by or [],
            "tests": [],
            "tests_passing": False,
            "acceptance_criteria": acceptance_criteria or [],
            "created_at": now,
            "updated_at": now,
        }
        self._write("work_items", [row])
        return row

    def update_work_item_status(
        self,
        item_id: str,
        status: str,
        notes: str | None = None,
        tests_passing: bool = True,
        blocked_by: str | None = None,
    ) -> dict[str, Any] | None:
        """Status transition with the reference's side effects
        (progress/types.py:90-122, tracker.py:139-186):
        -> in_progress stamps started_at and bumps attempt_count (only
        on a real transition); -> done stamps completed_at, accumulates
        time_spent_ms from started_at, records tests_passing;
        -> blocked appends blocked_by + block_reason; -> failed records
        failure_reason. The note lands in metadata (map<string,string>,
        so the last note per kind is kept — the reference appends to a
        JSON list, a deviation documented here).

        The table lock spans the read AND the upsert: two concurrent
        same-host updates on the same item otherwise interleave their
        read-modify-writes and one loses (a blocked_by append or time
        accrual vanishes). The store's per-table lock is reentrant, so
        the nested upsert acquisition is free. On the commit-log
        backend the flock does not span hosts, so the WHOLE
        read-modify-write re-runs on a commit conflict (the row is
        recomputed from the fresh state — a store-level retry would
        re-apply the stale row and clobber the other host's change)."""
        return self._retry_conflicts(
            "work_items",
            lambda: self._update_work_item_locked(
                item_id, status, notes, tests_passing, blocked_by
            ),
        )

    def _update_work_item_locked(
        self, item_id, status, notes, tests_passing, blocked_by
    ) -> dict[str, Any] | None:
        rows = (
            self.store.read("work_items").filter(F.col("id") == item_id).limit(1).collect()
        )
        if not rows:
            return None
        item = rows[0].asDict(recursive=True)
        old = item["status"]
        now = self._now()
        item["status"] = status
        item["updated_at"] = now
        meta = dict(item.get("metadata") or {})
        if status == "in_progress" and old != "in_progress":
            item["started_at"] = now
            item["attempt_count"] = (item.get("attempt_count") or 0) + 1
        elif status == "done":
            item["completed_at"] = now
            item["tests_passing"] = tests_passing
            # accumulate only on the TRANSITION into done: a repeated
            # 'done' update (idempotent retry, flipping tests_passing)
            # must not re-add the whole duration (the reference's
            # complete() actually re-adds — a bug we don't inherit)
            if item.get("started_at") is not None and old != "done":
                # the session timezone is pinned to UTC (session.py), so
                # collect() returns naive UTC wall times — attach UTC,
                # never the machine-local zone
                started = item["started_at"]
                if started.tzinfo is None:
                    started = started.replace(tzinfo=timezone.utc)
                item["time_spent_ms"] = (item.get("time_spent_ms") or 0) + int(
                    (now - started).total_seconds() * 1000
                )
        elif status == "blocked":
            if blocked_by:
                item["blocked_by"] = list(item.get("blocked_by") or []) + [blocked_by]
            if notes:
                meta["block_reason"] = notes
        elif status == "failed":
            if notes:
                meta["failure_reason"] = notes
        if notes:
            meta["status_note"] = f"{old}->{status}: {notes}"
        item["metadata"] = meta or None
        # on_conflict="raise": _retry_conflicts re-runs the whole RMW
        self._write("work_items", [item], "upsert", on_conflict="raise")
        return item

    def unblock_work_item(self, item_id: str) -> dict[str, Any] | None:
        """blocked -> pending with blocked_by cleared (tracker.py:215-222).
        Lock-covered, conflict-re-run read-modify-write like
        update_work_item_status."""

        def rmw():
            rows = (
                self.store.read("work_items")
                .filter(F.col("id") == item_id)
                .limit(1)
                .collect()
            )
            if not rows or rows[0]["status"] != "blocked":
                return None
            item = rows[0].asDict(recursive=True)
            item.update(status="pending", blocked_by=[], updated_at=self._now())
            self._write("work_items", [item], "upsert", on_conflict="raise")
            return item

        return self._retry_conflicts("work_items", rmw)

    def get_work_items(
        self,
        project_id: str | None = None,
        status: str | None = None,
        agent: str | None = None,
        item_type: str | None = None,
        parent_id: str | None = None,
    ) -> list[dict[str, Any]]:
        df = self.store.read("work_items")
        for col, val in (
            ("project_id", project_id),
            ("status", status),
            ("agent", agent),
            ("item_type", item_type),
            ("parent_id", parent_id),
        ):
            if val is not None:
                df = df.filter(F.col(col) == val)
        return [r.asDict(recursive=True) for r in df.orderBy("created_at", "id").collect()]

    def get_next_work_item(
        self, agent: str | None = None, strategy: str = "priority"
    ) -> dict[str, Any] | None:
        from alma_memory_spark.operators import progress as PG

        rows = PG.next_item(self.store.read("work_items"), agent, strategy).collect()
        return rows[0].asDict(recursive=True) if rows else None

    def get_progress_summary(self, agent: str | None = None) -> dict[str, Any]:
        """ProgressSummary (tracker.py:338-395): the counts come from
        ONE aggregation job; current/next/blockers are bounded
        follow-ups (top-1 cuts and the blocked subset)."""
        from alma_memory_spark.operators import progress as PG

        items = self.store.read("work_items")
        summary = PG.progress_summary(items, agent).collect()[0].asDict()
        current = (
            PG.for_agent(items, agent)
            .filter(F.col("status") == "in_progress")
            .orderBy("created_at", "id")
            .limit(1)
            .collect()
        )
        summary["current_item"] = current[0].asDict(recursive=True) if current else None
        summary["next_suggested"] = self.get_next_work_item(agent)
        summary["blockers"] = [
            r.asDict(recursive=True)
            for r in PG.for_agent(items, agent)
            .filter(F.col("status") == "blocked")
            .orderBy("created_at", "id")
            .collect()
        ]
        return summary

    def log_progress(
        self, agent: str, session_id: str, current_action: str = "", project_id: str = ""
    ) -> dict[str, Any]:
        """Progress snapshot append (tracker.py:399-434)."""
        s = self.get_progress_summary(agent)
        row = {
            "id": str(uuid.uuid4()),
            "project_id": project_id,
            "agent": agent,
            "session_id": session_id,
            "items_total": s["total"],
            "items_done": s["done"],
            "items_in_progress": s["in_progress"],
            "items_blocked": s["blocked"],
            "items_pending": s["pending"],
            "current_item_id": (s["current_item"] or {}).get("id"),
            "current_action": current_action,
            "created_at": self._now(),
        }
        self._write("progress_logs", [row])
        return row

    def get_progress_history(
        self,
        agent: str | None = None,
        session_id: str | None = None,
        limit: int = 10,
    ) -> list[dict[str, Any]]:
        df = self.store.read("progress_logs")
        if agent is not None:
            df = df.filter(F.col("agent") == agent)
        if session_id is not None:
            df = df.filter(F.col("session_id") == session_id)
        return [
            r.asDict(recursive=True)
            for r in df.orderBy(F.desc("created_at"), F.asc("id")).limit(limit).collect()
        ]

    # ------------------------------------------------------------------
    # reference-facade parity: constructors, aliases, scoped retrieval
    # (alma/core.py public surface — a reference user's call sites work
    # verbatim against this engine)
    # ------------------------------------------------------------------

    @classmethod
    def quickstart(
        cls,
        project_id: str = "my-project",
        storage_dir: str = ".alma",
        agent: str | None = None,
        spark: SparkSession | None = None,
    ) -> "AlmaSpark":
        """Zero-config constructor (core.py:93-163): local store dir +
        the deterministic hash embedder; the SQLite file becomes a
        ParquetStore under storage_dir. `agent` is accepted for
        signature parity (scoping here is per-call)."""
        from alma_memory_spark.session import get_spark

        eng = cls(spark or get_spark("alma-quickstart"), os.path.join(storage_dir, "store"))
        eng.default_project_id = project_id
        eng.default_agent = agent
        return eng

    @classmethod
    def from_config(
        cls, config_path: str, spark: SparkSession | None = None
    ) -> "AlmaSpark":
        """Config-file constructor (core.py:165-231 + config/loader.py):
        reads the reference's .alma/config.yaml shape — project_id,
        storage.path, retrieval.feedback_weight, and the embedding
        provider (top-level `embedding_provider` like the reference
        loader, or a nested `embedding: {provider, model, dim}` block).
        'hash'/'mock' resolve to the deterministic HashEmbedder;
        'local' (sentence-transformers) and 'azure' are env/import-
        gated exactly like the runtime (embedding.resolve_provider)."""
        import yaml

        from alma_memory_spark.embedding import resolve_provider
        from alma_memory_spark.session import get_spark

        with open(config_path, encoding="utf-8") as f:
            cfg = yaml.safe_load(f) or {}
        storage = cfg.get("storage") or {}
        root = storage.get("path") or os.path.join(
            os.path.dirname(os.path.abspath(config_path)), "store"
        )
        retrieval = cfg.get("retrieval") or {}
        emb_cfg = cfg.get("embedding") or {}
        provider = emb_cfg.get("provider") or cfg.get("embedding_provider")
        embedder = (
            resolve_provider(
                provider,
                dim=emb_cfg.get("dim"),
                model=emb_cfg.get("model"),
            )
            if provider or emb_cfg
            else None  # no embedding config: the constructor default
        )
        eng = cls(
            spark or get_spark(cfg.get("project_id", "alma")),
            root,
            embedder=embedder,
            feedback_weight=float(retrieval.get("feedback_weight", 0.15)),
        )
        eng.default_project_id = cfg.get("project_id")
        return eng

    def add_domain_knowledge(self, agent: str, domain: str, fact: str,
                             source: str = "user_stated", confidence: float = 0.9,
                             project_id: str | None = None) -> str:
        """core.py name for add_knowledge (project defaults to the
        constructor-bound one when present)."""
        return self.add_knowledge(
            agent,
            project_id or getattr(self, "default_project_id", None) or "default",
            domain, fact, source, confidence,
        )

    def add_user_preference(self, user_id: str, category: str, preference: str,
                            source: str = "explicit_instruction") -> str:
        """core.py name for add_preference."""
        return self.add_preference(user_id, category, preference, source)

    def get_stats(self, project_id: str | None = None) -> dict[str, int]:
        """core.py name for stats()."""
        return self.stats(project_id)

    def get_resume_point(
        self, run_id: str, branch_id: str | None = None
    ) -> dict[str, Any] | None:
        """core.py:600-616 name for resume()."""
        return self.resume(run_id, branch_id)

    def learn_from_workflow(self, workflow_id: str, run_id: str, agent: str,
                            project_id: str, result: str, **kw: Any) -> str:
        """core.py name for record_workflow_outcome."""
        return self.record_workflow_outcome(
            workflow_id, run_id, agent, project_id, result, **kw
        )

    def _retrieve_copy(self, task: str, agent: str, **kwargs: Any) -> MemorySlice:
        """retrieve() as a private copy, slice and row dicts, for the
        derived retrieves to annotate: a cache hit hands out the one
        cached slice, so annotating it in place would leak into every
        later hit (and compound on each repeat)."""
        sl = self.retrieve(task, agent, **kwargs)
        return replace(
            sl, **{t: [dict(r) for r in getattr(sl, t)] for t in schemas.MEMORY_TABLES}
        )

    def retrieve_with_scope(
        self,
        task: str,
        agent: str,
        context: dict[str, Any],
        scope: str = "agent",
        user_id: str | None = None,
        top_k: int = 5,
        project_id: str | None = None,
    ) -> MemorySlice:
        """core.py:851-925: retrieve + workflow-scope annotation. The
        reference's storage scope filter is a documented no-op for
        memory tables (sqlite_local.py:1971-1995 — only
        workflow_outcomes carries the columns; get_workflow_outcomes
        applies the real cascade there), so the slice here carries the
        same metadata the reference attaches: the scope level and the
        ScopeFilter derived from the WorkflowContext dict
        (workflow/context.py:128-158 cascade)."""
        filt: dict[str, Any] = {}
        if scope != "global":
            filt["tenant_id"] = context.get("tenant_id")
        if scope in ("workflow", "run", "node"):
            filt["workflow_id"] = context.get("workflow_id")
        if scope in ("run", "node"):
            filt["run_id"] = context.get("run_id")
        if scope == "node":
            filt["node_id"] = context.get("node_id")
        sl = self._retrieve_copy(
            task,
            agent,
            project_id=project_id or getattr(self, "default_project_id", None),
            user_id=user_id,
            top_k=top_k,
        )
        sl.metadata = {"scope": scope, "scope_filter": filt, "context": dict(context)}
        return sl

    # ------------------------------------------------------------------
    # strength / artifacts / trust / verification / batch-learning
    # (reference: the remaining MCP tool surface, mcp/tools/__init__.py)
    # ------------------------------------------------------------------

    def get_memory_full(self, memory_type: str, memory_id: str) -> dict[str, Any] | None:
        """Full row fetch by id (reference: alma_get_memory_full)."""
        rows = (
            self.store.read(memory_type).filter(F.col("id") == memory_id).limit(1).collect()
        )
        return rows[0].asDict(recursive=True) if rows else None

    def reinforce(
        self, memory_type: str, memory_id: str, importance: float | None = None
    ) -> dict[str, Any]:
        """Reinforce a memory: bump access_count, stamp last_accessed,
        append a reinforcement event (reference: decay reinforcement,
        alma/learning/decay.py — events feed the strength formula)."""
        now = self._now()
        existing = (
            self.store.read("memory_strength")
            .filter(
                (F.col("memory_id") == memory_id)
                & (F.col("memory_type") == memory_type)
            )
            .collect()
        )
        if existing:
            r = existing[0].asDict(recursive=True)
            r["access_count"] = (r.get("access_count") or 0) + 1
            r["last_accessed"] = now
            r["reinforcement_events"] = list(r.get("reinforcement_events") or []) + [now]
            if importance is not None:
                r["explicit_importance"] = importance
        else:
            r = {
                "memory_id": memory_id,
                "memory_type": memory_type,
                "project_id": None,
                "agent": None,
                "initial_strength": 1.0,
                "decay_half_life_days": 30,
                "created_at": now,
                "last_accessed": now,
                "access_count": 1,
                # reference dataclass default 0.5 (decay.py:74) — never
                # persist NULL importance
                "explicit_importance": 0.5 if importance is None else importance,
                "reinforcement_events": [now],
            }
        kept = self.store.read("memory_strength").filter(
            ~(
                (F.col("memory_id") == memory_id)
                & (F.col("memory_type") == memory_type)
            )
        )
        self._write(
            "memory_strength",
            kept.unionByName(tiny_df(self.spark, [r], schemas.MEMORY_STRENGTH)),
            "overwrite",
        )
        return {"memory_id": memory_id, "access_count": r["access_count"]}

    def get_weak_memories(self, threshold: float = 0.3) -> list[dict[str, Any]]:
        """Memories whose decayed strength fell below `threshold`
        (reference: alma_get_weak_memories; strength recomputed at read,
        never stored stale)."""
        df = LC.with_strength(self.store.read("memory_strength"), self._now())
        return [
            r.asDict(recursive=True)
            for r in df.filter(F.col("strength") < threshold)
            .orderBy(F.asc("strength"), F.asc("memory_id"))
            .collect()
        ]

    def link_artifact(
        self,
        memory_type: str,
        memory_id: str,
        storage_url: str,
        mime_type: str | None = None,
        checksum: str | None = None,
    ) -> str:
        """Attach an external-file reference to a memory (reference:
        ArtifactRef, alma/core.py:744-807)."""
        aid = self._new_id("art")
        self._write(
            "artifacts",
            [
                {
                    "id": aid,
                    "memory_type": memory_type,
                    "memory_id": memory_id,
                    "storage_url": storage_url,
                    "mime_type": mime_type,
                    "checksum": checksum,
                    "created_at": self._now(),
                    "metadata": {},
                }
            ],
        )
        return aid

    def get_artifacts(self, memory_type: str, memory_id: str) -> list[dict[str, Any]]:
        return [
            r.asDict(recursive=True)
            for r in self.store.read("artifacts")
            .filter(
                (F.col("memory_type") == memory_type)
                & (F.col("memory_id") == memory_id)
            )
            .orderBy(F.asc("id"))
            .collect()
        ]

    def cleanup_checkpoints(
        self, run_id: str | None = None, older_than_days: float | None = None
    ) -> int:
        """Delete checkpoints by run and/or age (reference:
        alma_cleanup_checkpoints)."""
        pred = None
        if run_id is not None:
            pred = F.col("run_id") == run_id
        if older_than_days is not None:
            cutoff = datetime.fromtimestamp(
                self._now().timestamp() - older_than_days * 86400, tz=timezone.utc
            )
            p = F.col("created_at") < cutoff
            pred = p if pred is None else (pred & p)
        if pred is None:
            return 0
        return self._write(
            "checkpoints", pred, "delete", reason="checkpoint_cleanup", audit=False
        )

    def extract_heuristics_batch(self, project_id: str | None = None) -> int:
        """Batch heuristic extraction over the outcomes table — the
        Spark-natural formulation of the reference's HeuristicExtractor
        (alma/learning/heuristic_extractor.py); candidates upsert by
        deterministic id (update-or-create)."""
        outcomes = self.store.read("outcomes")
        if project_id is not None:
            outcomes = outcomes.filter(F.col("project_id") == project_id)
        cand = [r.asDict() for r in L.extract_heuristics(outcomes).collect()]
        if not cand:
            return 0
        rows = [
            {
                "id": c["id"],
                "agent": c["agent"],
                "project_id": c["project_id"],
                "condition": c["condition"],
                "strategy": c["strategy"],
                "confidence": c["confidence"],
                "occurrence_count": c["occurrence_count"],
                "success_count": c["success_count"],
                "last_validated": c["last_validated"],
                "created_at": c["created_at"],
                "verification_status": None,
                "embedding": self.embedder.encode(
                    f"{c['condition']} {c['strategy']}"
                ),
                "metadata": {},
            }
            for c in cand
        ]
        self._write("heuristics", rows, "upsert", project_id=project_id)
        return len(rows)

    def compress_and_learn(
        self, content: str, agent: str, project_id: str, domain: str = "general"
    ) -> dict[str, Any]:
        """Compress verbose content (deterministic rule path) and save
        the summary as domain knowledge (reference:
        alma_compress_and_learn)."""
        from alma_memory_spark.operators.compression import compress_text

        res = compress_text(content)
        kid = self.add_knowledge(
            agent, project_id, domain, res.summary, source="compressed"
        )
        return {
            "id": kid,
            "summary": res.summary,
            "key_facts": res.key_facts,
            "constraints": res.constraints,
            "compression_ratio": res.compression_ratio,
        }

    def store_trust_pattern(
        self,
        agent: str,
        performance_score: float,
        behavior_scores: list[float] | None = None,
        success_streak: int = 0,
    ) -> None:
        """Upsert an agent trust profile (reference: trust_scoring
        AgentTrustProfile, alma/retrieval/trust_scoring.py:99-170)."""
        self._write(
            "agent_trust",
            [
                {
                    "agent": agent,
                    "performance_score": performance_score,
                    "behavior_scores": behavior_scores or [0.5] * 5,
                    "success_streak": success_streak,
                    "last_updated": self._now(),
                }
            ],
            "upsert",
            key="agent",
        )

    def get_trust_warnings(self, threshold: float = 0.5) -> list[dict[str, Any]]:
        """Agents whose decayed trust fell below `threshold`
        (reference: alma_get_trust_warnings)."""
        from alma_memory_spark.operators.trust import with_trust

        df = with_trust(self.store.read("agent_trust"), self._now())
        return [
            r.asDict(recursive=True)
            for r in df.filter(F.col("trust") < threshold)
            .orderBy(F.asc("trust"), F.asc("agent"))
            .collect()
        ]

    def list_verification(
        self, table: str, project_id: str, status: str, limit: int = 100
    ) -> list[dict[str, Any]]:
        """list_by_verification_status (reference:
        sqlite_local.py:1857-1887); runs the idempotent column-add
        migration first so pre-migration tables answer too."""
        from alma_memory_spark.operators.verification import list_by_status

        self.store.migrate(table)
        df = list_by_status(self.store.read(table), project_id, status, limit)
        return [r.asDict(recursive=True) for r in df.collect()]

    def retrieve_verified(self, task: str, agent: str, **kwargs: Any) -> MemorySlice:
        """Retrieval + deterministic verification annotation of the
        returned candidates (reference: alma_retrieve_verified with the
        non-LLM confidence fallback, verification.py:690-729)."""
        from alma_memory_spark.operators.verification import CONFIDENCE_THRESHOLD

        sl = self._retrieve_copy(task, agent, **kwargs)
        for rows in (
            sl.heuristics, sl.outcomes, sl.preferences, sl.domain_knowledge,
            sl.anti_patterns,
        ):
            for r in rows:
                conf = r.get("confidence")
                conf = 0.5 if conf is None else conf
                r["verification_status"] = (
                    "verified" if conf >= CONFIDENCE_THRESHOLD else "uncertain"
                )
                r["verification_confidence"] = float(conf)
                r["verification_method"] = "confidence"
        return sl

    def retrieve_with_trust(
        self, task: str, agent: str, trust_weight: float = 0.15, **kwargs: Any
    ) -> MemorySlice:
        """Retrieval with per-source-agent trust blended into the score:
        score' = (1-w)*score + w*trust, then re-rank (reference:
        trust-aware retrieval, alma/retrieval/trust_scoring.py — the
        trust term enters the composite with weight 0.15; unknown agents
        get the 0.5 neutral prior)."""
        from alma_memory_spark.operators.trust import with_trust

        trust = {
            r["agent"]: r["trust"]
            for r in with_trust(self.store.read("agent_trust"), self._now()).collect()
        }
        sl = self._retrieve_copy(task, agent, **kwargs)
        for rows in (sl.heuristics, sl.outcomes, sl.domain_knowledge, sl.anti_patterns):
            for r in rows:
                t = trust.get(r.get("agent"), 0.5)
                if r.get("score") is not None:
                    r["score"] = (1 - trust_weight) * r["score"] + trust_weight * t
                r["trust"] = t
            rows.sort(key=lambda r: (-(r.get("score") or 0.0), str(r.get("id"))))
        return sl

    # ------------------------------------------------------------------
    # workflow / session
    # ------------------------------------------------------------------

    def checkpoint(
        self, run_id: str, node_id: str, state_json: str, sequence_number: int,
        branch_id: str | None = None, state_hash: str | None = None,
        skip_if_unchanged: bool = False,
    ) -> str | None:
        cps = self.store.read("checkpoints")
        if skip_if_unchanged and state_hash and WF.is_unchanged(cps, run_id, state_hash):
            return None
        cid = self._new_id("ckpt")
        self._write(
            "checkpoints",
            [
                {
                    "id": cid,
                    "run_id": run_id,
                    "node_id": node_id,
                    "state": state_json,
                    "sequence_number": sequence_number,
                    "branch_id": branch_id,
                    "parent_checkpoint_id": None,
                    "state_hash": state_hash,
                    "created_at": self._now(),
                }
            ],
        )
        return cid

    def resume(self, run_id: str, branch_id: str | None = None) -> dict[str, Any] | None:
        cps = self.store.read("checkpoints").filter(F.col("run_id") == run_id)
        if branch_id is not None:
            cps = cps.filter(F.col("branch_id") == branch_id)
        rows = WF.latest_checkpoints(cps, per_branch=False).collect()
        return rows[0].asDict() if rows else None

    def merge_states(
        self, run_ids: list[str], reducers: dict[str, str] | None = None
    ) -> dict[str, Any]:
        return WF.merge_checkpoint_states(self.store.read("checkpoints"), run_ids, reducers)

    def save_handoff(
        self,
        agent: str,
        project_id: str,
        last_action: str,
        key_decisions: list[str] | None = None,
        active_files: list[str] | None = None,
        blockers: list[str] | None = None,
        next_steps: list[str] | None = None,
    ) -> str:
        hid = self._new_id("hand")
        self._write(
            "session_handoffs",
            [
                {
                    "id": hid,
                    "agent": agent,
                    "project_id": project_id,
                    "last_action": last_action,
                    "key_decisions": key_decisions or [],
                    "active_files": active_files or [],
                    "blockers": blockers or [],
                    "next_steps": next_steps or [],
                    "created_at": self._now(),
                }
            ],
        )
        return hid

    def get_latest_handoff(self, agent: str) -> dict[str, Any] | None:
        rows = (
            WF.latest_handoffs(
                self.store.read("session_handoffs").filter(F.col("agent") == agent)
            )
            .collect()
        )
        return rows[0].asDict() if rows else None

    def start_session(
        self,
        agent: str,
        project_id: str,
        goal: str | None = None,
        session_id: str | None = None,
    ) -> dict[str, Any]:
        """SessionManager.start_session (reference alma/session/
        manager.py:74-141): assemble the orientation context — previous
        handoff, progress summary, recent outcomes, top heuristics —
        and carry blockers forward. The reference's enricher hooks
        (git status etc.) are serving-layer callables outside the
        engine; the data assembly below is the Spark part."""
        previous = self.get_latest_handoff(agent)
        outcomes = (
            self.store.read("outcomes")
            .filter((F.col("agent") == agent) & (F.col("project_id") == project_id))
            .orderBy(F.desc("timestamp"), F.asc("id"))
            .limit(5)
            .collect()
        )
        heuristics = (
            self.store.read("heuristics")
            .filter((F.col("agent") == agent) & (F.col("project_id") == project_id))
            .orderBy(F.desc("confidence"), F.asc("id"))
            .limit(5)
            .collect()
        )
        return {
            "project_id": project_id,
            "agent": agent,
            "session_id": session_id or str(uuid.uuid4()),
            "previous_handoff": previous,
            "current_goal": goal
            or (previous or {}).get("last_action")
            or "Unknown",
            "carried_blockers": list((previous or {}).get("blockers") or []),
            "progress": self.get_progress_summary(agent),
            "recent_outcomes": [r.asDict(recursive=True) for r in outcomes],
            "relevant_heuristics": [r.asDict(recursive=True) for r in heuristics],
        }

    def end_session(
        self,
        agent: str,
        project_id: str,
        last_action: str,
        session_id: str | None = None,
        **handoff_kwargs: Any,
    ) -> str:
        """SessionManager.create_handoff at session end
        (manager.py:214-273): persist the compressed continuation state
        and snapshot progress for the session."""
        hid = self.save_handoff(agent, project_id, last_action, **handoff_kwargs)
        if session_id is not None:
            self.log_progress(
                agent, session_id, current_action=last_action, project_id=project_id
            )
        return hid

    def record_workflow_outcome(
        self,
        workflow_id: str,
        run_id: str,
        agent: str,
        project_id: str,
        result: str,
        summary: str | None = None,
        strategies_used: list[str] | None = None,
        successful_patterns: list[str] | None = None,
        failed_patterns: list[str] | None = None,
        duration_seconds: float | None = None,
        node_count: int | None = None,
        tenant_id: str | None = None,
    ) -> str:
        wid = self._new_id("wf")
        self._write(
            "workflow_outcomes",
            [
                {
                    "id": wid,
                    "tenant_id": tenant_id,
                    "workflow_id": workflow_id,
                    "run_id": run_id,
                    "agent": agent,
                    "project_id": project_id,
                    "result": result,
                    "summary": summary,
                    "strategies_used": strategies_used or [],
                    "successful_patterns": successful_patterns or [],
                    "failed_patterns": failed_patterns or [],
                    "duration_seconds": duration_seconds,
                    "node_count": node_count,
                    "error_message": None,
                    "created_at": self._now(),
                }
            ],
        )
        return wid

    def get_workflow_outcomes(
        self,
        tenant_id: str | None = None,
        workflow_id: str | None = None,
        run_id: str | None = None,
    ) -> DataFrame:
        """ScopeFilter semantics (reference: types.py:88-141,
        sqlite_local.py:1971-1995): hierarchical tenant > workflow > run
        equality filters — partition-prunable columns at scale."""
        df = self.store.read("workflow_outcomes")
        if tenant_id is not None:
            df = df.filter(F.col("tenant_id") == tenant_id)
        if workflow_id is not None:
            df = df.filter(F.col("workflow_id") == workflow_id)
        if run_id is not None:
            df = df.filter(F.col("run_id") == run_id)
        return df

    # ------------------------------------------------------------------
    # graph (reference: alma/graph/store.py)
    # ------------------------------------------------------------------

    def add_entity(
        self, name: str, entity_type: str, properties: dict[str, str] | None = None
    ) -> str:
        eid = self._new_id("ent")
        self._write(
            "graph_entities",
            [
                {
                    "id": eid,
                    "name": name,
                    "entity_type": entity_type,
                    "properties": properties or {},
                    "created_at": self._now(),
                }
            ],
        )
        return eid

    def add_relationship(
        self,
        source_id: str,
        target_id: str,
        relation_type: str,
        confidence: float = 1.0,
        valid_from: datetime | None = None,
        valid_to: datetime | None = None,
        properties: dict[str, str] | None = None,
    ) -> str:
        rid = self._new_id("rel")
        self._write(
            "graph_relationships",
            [
                {
                    "id": rid,
                    "source_id": source_id,
                    "target_id": target_id,
                    "relation_type": relation_type,
                    "properties": properties or {},
                    "confidence": confidence,
                    "created_at": self._now(),
                    "valid_from": valid_from,
                    "valid_to": valid_to,
                }
            ],
        )
        return rid

    def graph_neighbors(
        self,
        start_ids: list[str],
        max_hops: int = 2,
        relation_types: list[str] | None = None,
        at: datetime | None = None,
    ) -> DataFrame:
        from alma_memory_spark.operators.graph import neighborhood

        return neighborhood(
            self.store.read("graph_entities"),
            self.store.read("graph_relationships"),
            start_ids,
            max_hops,
            relation_types,
            at,
        )

    def relationships_as_of(self, at: datetime, **kwargs) -> DataFrame:
        from alma_memory_spark.operators.graph import relationships_as_of

        return relationships_as_of(self.store.read("graph_relationships"), at, **kwargs)
