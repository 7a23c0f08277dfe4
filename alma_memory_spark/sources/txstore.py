"""Transaction-log table store: the multi-writer ACID variant of
ParquetStore.

ParquetStore's directory-rename swap protocol is crash-safe but
single-host: its writer lock is an fcntl flock, and two writers on
DIFFERENT hosts (or against an object store) can interleave swaps. The
reference never faces this (one SQLite connection), but the 100 TB
deployment target does. This module replaces the swap protocol with the
log-structured commit design of transactional table formats (the public
Delta Lake design — VLDB 2020 'Delta Lake: High-Performance ACID Table
Storage over Cloud Object Stores' — and Iceberg's snapshot log):

    <root>/<table>/_txlog/<020d version>.json   commit files (actions)
    <root>/<table>/_txlog/_checkpoint.json      rolled-up live file set
    <root>/<table>/data/<commit uuid>/...       immutable data files

- Every write lands as NEW immutable parquet files plus ONE commit file
  listing `adds` (path + partition values) and `removes`. Data files
  are never modified or renamed after being written.
- A commit claims its version ATOMICALLY: the writer fsyncs the actions
  to a temp file and `os.link`s it to `<version>.json` — link fails
  with EEXIST when another writer took the version, and the linked file
  is COMPLETE at claim time, so readers can never observe a torn
  commit. (On an object store this primitive is the conditional
  put-if-absent Delta uses; on HDFS it is atomic rename-no-overwrite.)
- Readers resolve a SNAPSHOT: replay the log (from the rolled-up
  checkpoint) into the live file set and read exactly those files —
  writers never disturb an in-flight reader because nothing a snapshot
  references is ever mutated. Removed files are physically deleted only
  by vacuum() after a retention window.
- OPTIMISTIC CONCURRENCY: read-modify-write operations (upsert /
  delete / archive / compact) remember the snapshot version their plan
  was built on; at commit time, if any intervening commit touched an
  intersecting partition (or, for unpartitioned tables, the table at
  all), the commit ABORTS with CommitConflict and the operation re-runs
  against a fresh snapshot. Blind appends never conflict — they retry
  only the version claim. The inherited same-host flock remains as a
  fast path that avoids wasted work (pass lock=False to rely purely on
  the optimistic protocol, e.g. when writers live on different hosts).

Partition pruning is preserved: data files of (project_id, agent)
tables are written partitionBy-style inside their commit directory and
registered with their partition values, so a pair-scoped read opens
ONLY that pair's files — the same pruning the hive layout gave, now
from the log instead of a directory listing.

Scale notes: the JSON checkpoint is the local-filesystem stand-in for
Delta's parquet checkpoint; the live-file list is bounded by
compaction (inherited ParquetStore.compact runs through this commit
protocol unchanged). Listing cost per read is one checkpoint + the log
tail, never a recursive directory walk.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alma_memory_spark import schemas
from alma_memory_spark.sources.store import ParquetStore

CHECKPOINT_EVERY = 20
MAX_COMMIT_RETRIES = 50
#: vacuum() refuses shorter retention without force=True: a concurrent
#: writer's data files exist BEFORE its commit claims a version, so a
#: near-zero window lets vacuum delete a racing commit's files (the
#: committed snapshot would then reference missing files) — the same
#: reason Delta's VACUUM enforces spark.databricks.delta.retentionDurationCheck
MIN_VACUUM_RETAIN_SECONDS = 3600.0


class CommitConflict(Exception):
    """Another writer committed an overlapping change between this
    operation's snapshot read and its commit attempt; re-run the
    read-modify-write against a fresh snapshot."""


class TxLogStore(ParquetStore):
    def __init__(self, spark: SparkSession, root: str, lock: bool = True):
        super().__init__(spark, root)
        self._use_flock = lock
        # (thread, table) -> snapshot version the thread's last read
        # resolved; commit-time conflict detection compares against it
        self._read_versions: dict[tuple, int] = {}
        self._rv_lock = threading.Lock()

    # ------------------------------------------------------------------
    # log primitives
    # ------------------------------------------------------------------

    def _log_dir(self, table: str) -> str:
        return os.path.join(self._path(table), "_txlog")

    def _data_dir(self, table: str) -> str:
        return os.path.join(self._path(table), "data")

    @contextlib.contextmanager
    def _table_lock(self, table: str):
        """Same-host fast path only. The commit protocol is the real
        mutual exclusion; with lock=False this is a no-op and
        correctness comes purely from optimistic conflict retry."""
        if not self._use_flock:
            yield
            return
        with super()._table_lock(table):
            yield

    def _versions(self, table: str) -> list[int]:
        d = self._log_dir(table)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(f[:-5])
            for f in os.listdir(d)
            if f.endswith(".json") and f[:-5].isdigit()
        )

    def _read_commit(self, table: str, v: int) -> dict:
        with open(os.path.join(self._log_dir(table), f"{v:020d}.json")) as f:
            return json.load(f)

    def _snapshot(self, table: str) -> tuple[int, dict[str, dict]]:
        """(version, {relpath: {'pj':..., 'ag':...}}) — the live file
        set at the latest version, resolved from the checkpoint plus
        the log tail."""
        d = self._log_dir(table)
        live: dict[str, dict] = {}
        start = 0
        ckpt_path = os.path.join(d, "_checkpoint.json")
        if os.path.isfile(ckpt_path):
            try:
                with open(ckpt_path) as f:
                    ckpt = json.load(f)
                live = dict(ckpt["live"])
                start = int(ckpt["version"]) + 1
            except (OSError, ValueError, KeyError):
                live, start = {}, 0  # torn checkpoint: full replay
        version = -1
        for v in self._versions(table):
            version = max(version, v)
            if v < start:
                continue
            c = self._read_commit(table, v)
            for rel in c.get("removes", []):
                live.pop(rel, None)
            for a in c.get("adds", []):
                live[a["path"]] = {"pj": a.get("pj"), "ag": a.get("ag")}
        with self._rv_lock:
            self._read_versions[(threading.get_ident(), table)] = version
        return version, live

    def _try_claim(self, table: str, tmp: str, v: int) -> bool:
        """Atomically claim version v by linking the fully-written temp
        actions file to `<v>.json`. link(2) fails with EEXIST when
        another writer won v, and the linked file is complete at claim
        time, so readers can never observe a torn commit."""
        try:
            os.link(tmp, os.path.join(self._log_dir(table), f"{v:020d}.json"))
            return True
        except FileExistsError:
            return False

    def _maybe_checkpoint(self, table: str, version: int) -> None:
        if version % CHECKPOINT_EVERY != 0 or version == 0:
            return
        # roll the log up through `version` ONLY (never past it: a
        # concurrent writer may have claimed version+1 already)
        live: dict[str, dict] = {}
        txns: dict[str, int] = {}
        start = 0
        d = self._log_dir(table)
        ckpt_path = os.path.join(d, "_checkpoint.json")
        if os.path.isfile(ckpt_path):
            try:
                with open(ckpt_path) as f:
                    ckpt = json.load(f)
                if int(ckpt["version"]) >= version:
                    return  # someone checkpointed further already
                live = dict(ckpt["live"])
                txns = {k: int(v) for k, v in ckpt.get("txns", {}).items()}
                start = int(ckpt["version"]) + 1
            except (OSError, ValueError, KeyError):
                live, txns, start = {}, {}, 0
        for v in self._versions(table):
            if not (start <= v <= version):
                continue
            c = self._read_commit(table, v)
            for rel in c.get("removes", []):
                live.pop(rel, None)
            for a in c.get("adds", []):
                live[a["path"]] = {"pj": a.get("pj"), "ag": a.get("ag")}
            t = c.get("txn")
            if t:
                txns[t["app"]] = max(txns.get(t["app"], -1), int(t["version"]))
        tmp = ckpt_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"version": version, "live": live, "txns": txns}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, ckpt_path)  # atomic; losers of this race are
        # harmless (replace is idempotent toward newer checkpoints via
        # the version guard above)

    def _commit(
        self,
        table: str,
        adds: list[dict],
        removes: list[str],
        require_no_conflict_with=None,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Commit with the gapless check-then-claim loop (the Delta
        paper's optimistic protocol): conflict-check every commit that
        landed after this thread's snapshot read, then attempt to claim
        EXACTLY latest+1. A lost claim means a new commit appeared —
        loop, check it too, try the next version. A SUCCESSFUL claim at
        v therefore guarantees every commit < v was checked, and a
        published commit is final — no aborted-commit state ever
        becomes visible to readers. `require_no_conflict_with(commit)`
        raising CommitConflict sends the caller back to re-plan."""
        d = self._log_dir(table)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}.json")
        actions: dict = {"adds": adds, "removes": removes}
        if txn is not None:
            actions["txn"] = {"app": txn[0], "version": int(txn[1])}
        with open(tmp, "w") as f:
            json.dump(actions, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            with self._rv_lock:
                checked = self._read_versions.get(
                    (threading.get_ident(), table), -1
                )
            for _ in range(MAX_COMMIT_RETRIES):
                latest = -1
                for v in self._versions(table):
                    latest = max(latest, v)
                    if v > checked and require_no_conflict_with is not None:
                        if require_no_conflict_with(self._read_commit(table, v)):
                            raise CommitConflict(
                                f"{table}: commit {v} overlaps this "
                                "write's snapshot"
                            )
                checked = max(checked, latest)
                version = latest + 1
                if self._try_claim(table, tmp, version):
                    self._maybe_checkpoint(table, version)
                    return version
            raise CommitConflict(
                f"could not claim a log version for {table} after "
                f"{MAX_COMMIT_RETRIES} attempts"
            )
        finally:
            os.unlink(tmp)

    # ------------------------------------------------------------------
    # data-file IO
    # ------------------------------------------------------------------

    def _write_data_files(self, table: str, df: DataFrame) -> list[dict]:
        """Write df as immutable files under a fresh commit dir and
        return their add-actions (relpath + partition values)."""
        commit_dir = os.path.join(self._data_dir(table), uuid.uuid4().hex)
        scoped = table in schemas.PARTITIONED_BY_PROJECT_AGENT
        writer = self._time_sorted(table, df).write.mode("overwrite")
        if scoped:
            writer = writer.partitionBy("project_id", "agent")
        writer.parquet(commit_dir)
        adds: list[dict] = []
        root = self._path(table)
        from alma_memory_spark.sources.store import _decode_part

        for dirpath, _dirs, files in os.walk(commit_dir):
            for fname in files:
                if not fname.endswith(".parquet"):
                    continue
                full = os.path.join(dirpath, fname)
                entry: dict = {"path": os.path.relpath(full, root)}
                if scoped:
                    parts = os.path.relpath(dirpath, commit_dir).split(os.sep)
                    for p in parts:
                        if p.startswith("project_id="):
                            entry["pj"] = _decode_part(p)
                        elif p.startswith("agent="):
                            entry["ag"] = _decode_part(p)
                adds.append(entry)
        return adds

    def _group_read(self, table: str, live: dict[str, dict]) -> DataFrame:
        """Assemble the snapshot DataFrame: per-(pj, ag) file groups so
        partition values come back as columns, unioned into one plan.
        Pair-scoped filters applied by callers land on literal columns
        Catalyst folds away, and pair-scoped READS (read_pairs) never
        open other pairs' files at all."""
        root = self._path(table)
        scoped = table in schemas.PARTITIONED_BY_PROJECT_AGENT
        groups: dict[tuple, list[str]] = {}
        for rel, meta in live.items():
            key = (meta.get("pj"), meta.get("ag")) if scoped else (None, None)
            groups.setdefault(key, []).append(os.path.join(root, rel))
        if not groups:
            schema = schemas.ALL_TABLES[table]
            return self.spark.createDataFrame([], schema)
        frames = []
        for (pj, ag), files in sorted(
            groups.items(), key=lambda kv: (str(kv[0][0]), str(kv[0][1]))
        ):
            df = self.spark.read.parquet(*sorted(files))
            if scoped:
                df = df.withColumn(
                    "project_id", F.lit(pj).cast("string")
                ).withColumn("agent", F.lit(ag).cast("string"))
            frames.append(df)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    # ------------------------------------------------------------------
    # ParquetStore API
    # ------------------------------------------------------------------

    def exists(self, table: str) -> bool:
        _v, live = self._snapshot(table)
        return bool(live)

    def version_stamp(self, table: str) -> str | None:
        """Staleness token for external plan caches: the log version
        (immutable files + unreferenced-only vacuum mean a plan pinned
        to the current version cannot dangle)."""
        v, _live = self._snapshot(table)
        return f"txv{v}"

    def read(self, table: str) -> DataFrame:
        # version-pinned plan cache (r10, VERDICT r9 #4): the log
        # version IS the staleness signal — data files are immutable
        # and vacuum only deletes files no live version references, so
        # a plan cached at the CURRENT version can never dangle; any
        # commit (this or another process) advances the version and
        # misses the cache. _snapshot still runs every read (it is the
        # conflict anchor for read-modify-write transactions).
        v, live = self._snapshot(table)
        key = (table, "txread")
        ent = self._read_cache.get(key, valid=lambda e: e[0] == v)
        if ent is not None:
            return ent[1]
        if not live:
            schema = schemas.ALL_TABLES[table]
            df = self.spark.createDataFrame([], schema)
        else:
            df = self._group_read(table, live)
        self._read_cache.put(key, (v, df))
        return df

    def _read_for_pairs(self, table: str, pairs: list[tuple]) -> DataFrame:
        """Partition-scoped RMW reads resolve ONLY the touched pairs'
        file groups from the log — the plan never mentions other pairs
        (the parent's full-snapshot-then-filter would put every pair's
        scan into the plan and pay its analysis at high cardinality)."""
        return self.read_pairs(table, pairs)

    def read_pairs(self, table: str, pairs: list[tuple]) -> DataFrame:
        """Partition-pruned read: only the files whose registered
        (project_id, agent) is in `pairs` are opened."""
        _v, live = self._snapshot(table)
        keep = {
            rel: meta
            for rel, meta in live.items()
            if (meta.get("pj"), meta.get("ag")) in set(pairs)
        }
        if not keep:
            return self.spark.createDataFrame([], schemas.ALL_TABLES[table])
        return self._group_read(table, keep)

    def append(self, table: str, df: DataFrame, txn: tuple[str, int] | None = None) -> None:
        """Blind append: new files + an adds-only commit. Never
        conflicts — concurrent appends serialize on version claims
        only, with no wasted data writes.

        `txn=(app_id, version)` is Delta's idempotent-writer action for
        streaming sinks: the commit records the pair, and a later
        append with the same app_id and version <= the last recorded
        one is a NO-OP — a crash-replayed foreachBatch micro-batch
        cannot double-append. The check and the claim are one commit
        protocol: a racing duplicate of the same (app, version) loses
        the claim, re-scans the log, sees the recorded txn and aborts
        idempotently."""
        with self._table_lock(table):
            if txn is not None and self._txn_applied(table, *txn):
                return
            adds = self._write_data_files(table, df)
            if not adds and txn is None:
                return

            def dup_txn(commit: dict) -> bool:
                t = commit.get("txn")
                return bool(
                    t and t["app"] == txn[0] and int(t["version"]) >= txn[1]
                )

            try:
                self._commit(
                    table,
                    adds,
                    [],
                    require_no_conflict_with=dup_txn if txn is not None else None,
                    txn=txn,
                )
            except CommitConflict:
                # Two distinct causes land here and MUST be told apart:
                # (a) our exact (app, version) was committed by another
                #     writer between the pre-check and the claim —
                #     idempotent no-op (the data files written above
                #     become vacuum garbage);
                # (b) claim exhaustion under contention — the batch was
                #     NEVER committed, and swallowing it would silently
                #     drop rows while the caller's checkpoint advances.
                if txn is None or not self._txn_applied(table, *txn):
                    raise

    def _txn_applied(self, table: str, app: str, version: int) -> bool:
        """Has a commit already recorded (app, >= version)?"""
        return self.txn_high_water(table, app) >= version

    def txn_high_water(self, table: str, app: str) -> int:
        """Highest txn version committed for `app` (-1 if none): the
        checkpoint's txn high-water marks plus the log tail. Streaming
        sinks use this to tell a legitimate crash replay (re-delivered
        epoch == high water) from a fresh-checkpoint restart
        (re-delivered epoch STRICTLY BELOW the high water — epochs
        restarted at 0 while the log remembers later commits)."""
        high = -1
        d = self._log_dir(table)
        ckpt_path = os.path.join(d, "_checkpoint.json")
        start = 0
        if os.path.isfile(ckpt_path):
            try:
                with open(ckpt_path) as f:
                    ckpt = json.load(f)
                high = int(ckpt.get("txns", {}).get(app, -1))
                start = int(ckpt["version"]) + 1
            except (OSError, ValueError, KeyError):
                high, start = -1, 0
        for v in self._versions(table):
            if v < start:
                continue
            t = self._read_commit(table, v).get("txn")
            if t and t["app"] == app:
                high = max(high, int(t["version"]))
        return high

    def overwrite(self, table: str, df: DataFrame) -> None:
        """Replace the table contents with df. If this thread read the
        table first (the read-modify-write shape every engine caller
        uses), ANY intervening commit aborts with CommitConflict so the
        caller recomputes; without a prior read it replaces whatever is
        live at commit time."""
        with self._table_lock(table):
            with self._rv_lock:
                had_read = (
                    threading.get_ident(),
                    table,
                ) in self._read_versions
            _v, live = self._snapshot_for_commit(table, had_read)
            adds = self._write_data_files(table, df)
            self._commit(
                table,
                adds,
                list(live),
                require_no_conflict_with=(lambda _c: True) if had_read else None,
            )

    def _snapshot_for_commit(self, table: str, preserve_read_version: bool):
        """Snapshot that optionally PRESERVES the thread's recorded
        read version (the conflict anchor) instead of advancing it."""
        if not preserve_read_version:
            return self._snapshot(table)
        key = (threading.get_ident(), table)
        with self._rv_lock:
            saved = self._read_versions.get(key)
        out = self._snapshot(table)
        if saved is not None:
            with self._rv_lock:
                self._read_versions[key] = saved
        return out

    def _rewrite_partitions(
        self, table: str, touched: list[tuple], content: DataFrame
    ) -> None:
        """Replace the touched (project_id, agent) partitions with
        `content`: adds = content's files, removes = live files of the
        touched pairs. Conflicts only with commits that touched an
        intersecting pair after this thread's snapshot read — disjoint
        writers never retry each other."""
        touched_set = set(touched)

        def overlaps(commit: dict) -> bool:
            for a in commit.get("adds", []):
                if (a.get("pj"), a.get("ag")) in touched_set:
                    return True
            # removes lack pair metadata in the action; resolve via the
            # remove path's commit-dir layout (hive dirs carry the pair)
            for rel in commit.get("removes", []):
                if self._pair_of_relpath(rel) in touched_set:
                    return True
            return False

        _v, live = self._snapshot_for_commit(table, True)
        removes = [
            rel
            for rel, meta in live.items()
            if (meta.get("pj"), meta.get("ag")) in touched_set
        ]
        adds = self._write_data_files(table, content)
        self._commit(table, adds, removes, require_no_conflict_with=overlaps)

    @staticmethod
    def _pair_of_relpath(rel: str) -> tuple:
        from alma_memory_spark.sources.store import _decode_part

        pj = ag = None
        for part in rel.split(os.sep):
            if part.startswith("project_id="):
                pj = _decode_part(part)
            elif part.startswith("agent="):
                ag = _decode_part(part)
        return (pj, ag)

    # -- retry wrappers: re-run the read-modify-write on conflict ------

    def _with_conflict_retry(self, fn):
        last: CommitConflict | None = None
        for attempt in range(MAX_COMMIT_RETRIES):
            try:
                return fn()
            except CommitConflict as e:
                last = e
                time.sleep(min(0.05 * (attempt + 1), 0.5))
        raise last  # pragma: no cover - pathological contention

    def upsert(
        self, table, new_rows, key="id", verify_scope=False, on_conflict="retry"
    ) -> None:
        with self._table_lock(table):
            if on_conflict == "raise":
                # RMW transactions: the caller recomputes its row from a
                # fresh read on conflict — re-merging the stale row here
                # would clobber the concurrent writer's intra-row change
                self._upsert_locked(table, new_rows, key, verify_scope)
                return
            self._with_conflict_retry(
                lambda: self._upsert_locked(table, new_rows, key, verify_scope)
            )

    def delete(self, table, predicate, reason="manual", audit=True,
               memory_type=None) -> int:
        with self._table_lock(table):
            return self._with_conflict_retry(
                lambda: self._delete_locked(
                    table, predicate, reason, audit, memory_type
                )
            )

    def archive(self, table, predicate, reason="decay") -> int:
        with self._table_lock(table):
            return self._with_conflict_retry(
                lambda: self._archive_locked(table, predicate, reason)
            )

    def compact(self, table, target_file_bytes=128 << 20, min_files=2,
                sort_columns=None) -> dict:
        with self._table_lock(table):
            return self._with_conflict_retry(
                lambda: self._compact_locked(
                    table, target_file_bytes, min_files, sort_columns
                )
            )

    # -- stats for compact() come from the log, not a directory walk ---

    def _partition_file_stats(self, table: str) -> dict[tuple, tuple[int, int]]:
        _v, live = self._snapshot(table)
        root = self._path(table)
        out: dict[tuple, tuple[int, int]] = {}
        for rel, meta in live.items():
            pair = (meta.get("pj"), meta.get("ag"))
            n, b = out.get(pair, (0, 0))
            try:
                size = os.path.getsize(os.path.join(root, rel))
            except OSError:
                size = 0
            out[pair] = (n + 1, b + size)
        return out

    def _flat_file_stats(self, table: str) -> tuple[int, int]:
        stats = self._partition_file_stats(table)
        return (
            sum(n for n, _b in stats.values()),
            sum(b for _n, b in stats.values()),
        )

    # -- no swap protocol => no crash recovery to do -------------------

    def _dirty(self, table: str) -> bool:
        return False

    def _recover(self, table: str) -> None:  # log replay IS recovery
        return

    def _recover_locked(self, table: str) -> None:
        return

    def migrate(self, table: str) -> list[str]:
        """Same idempotent column-add as ParquetStore.migrate, via the
        snapshot read (the parent reads the hive path directly)."""
        if not self.exists(table):
            return []
        target = schemas.ALL_TABLES[table]
        df = self.read(table)
        have = set(df.columns)
        added = []
        for field in target.fields:
            if field.name not in have:
                df = df.withColumn(field.name, F.lit(None).cast(field.dataType))
                added.append(field.name)
        if added:
            df = df.select([f.name for f in target.fields])
            self.overwrite(table, df)
        return added

    # ------------------------------------------------------------------

    def vacuum(
        self, table: str, retain_seconds: float = 7 * 86400.0, force: bool = False
    ) -> int:
        """Physically delete data files no snapshot can reference:
        files under data/ absent from the live set and older than the
        retention window (in-flight readers hold older snapshots, so
        immediate deletion would yank files from under them — the same
        reasoning as Delta VACUUM's default 7 days). Returns the number
        of files deleted.

        Retention below MIN_VACUUM_RETAIN_SECONDS raises unless
        `force=True`: a racing writer's data files land on disk BEFORE
        its commit claims a version, so they are "absent from the live
        set" while the commit is in flight — a near-zero window would
        delete them and leave the committed version pointing at missing
        files. Delta's VACUUM retention-duration check exists for the
        same race."""
        if retain_seconds < MIN_VACUUM_RETAIN_SECONDS and not force:
            raise ValueError(
                f"vacuum({table}): retain_seconds={retain_seconds} is below "
                f"the {MIN_VACUUM_RETAIN_SECONDS:.0f}s safety floor — files "
                "of a commit still in flight look unreferenced until its "
                "version claims; pass force=True only when no concurrent "
                "writer can exist"
            )
        _v, live = self._snapshot(table)
        root = self._path(table)
        live_abs = {os.path.join(root, rel) for rel in live}
        cutoff = time.time() - retain_seconds
        deleted = 0
        # orphaned commit temp files (a writer that died between
        # writing its actions and claiming/unlinking) are garbage too
        d = self._log_dir(table)
        if os.path.isdir(d):
            for f in os.listdir(d):
                if f.startswith(".tmp-"):
                    full = os.path.join(d, f)
                    try:
                        if os.path.getmtime(full) < cutoff:
                            os.unlink(full)
                    except OSError:
                        pass
        data = self._data_dir(table)
        if not os.path.isdir(data):
            return 0
        for dirpath, _dirs, files in os.walk(data, topdown=False):
            for fname in files:
                full = os.path.join(dirpath, fname)
                if full in live_abs or not fname.endswith(".parquet"):
                    continue
                try:
                    if os.path.getmtime(full) < cutoff:
                        os.unlink(full)
                        deleted += 1
                except OSError:
                    continue
            try:
                os.rmdir(dirpath)  # drops empty commit dirs only
            except OSError:
                pass
        return deleted

    def read_version(self, table: str, version: int) -> DataFrame:
        """TIME TRAVEL (Delta `VERSION AS OF`): resolve the live file
        set as of `version` by replaying the log up to it — possible
        because data files are immutable and vacuum respects the
        retention window. Raises if the version never existed; files
        already vacuumed surface as read errors (same contract as
        Delta past the retention window)."""
        versions = self._versions(table)
        if version not in versions:
            raise ValueError(
                f"{table}: version {version} not in log "
                f"(have {versions[:3]}..{versions[-3:] if versions else []})"
            )
        live: dict[str, dict] = {}
        for v in versions:
            if v > version:
                break
            c = self._read_commit(table, v)
            for rel in c.get("removes", []):
                live.pop(rel, None)
            for a in c.get("adds", []):
                live[a["path"]] = {"pj": a.get("pj"), "ag": a.get("ag")}
        if not live:
            return self.spark.createDataFrame([], schemas.ALL_TABLES[table])
        return self._group_read(table, live)

    def history(self, table: str) -> list[dict]:
        """The commit log as data (Delta DESCRIBE HISTORY analog)."""
        out = []
        for v in self._versions(table):
            c = self._read_commit(table, v)
            out.append(
                {
                    "version": v,
                    "n_adds": len(c.get("adds", [])),
                    "n_removes": len(c.get("removes", [])),
                    "voided": bool(c.get("voided")),
                }
            )
        return out
