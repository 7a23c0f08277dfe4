"""Versioned-directory swap protocol shared by the persisted indexes.

A rebuild used to overwrite the live index directories in place
(lists/, postings/, ...) while serving paths take no lock: a search
concurrent with a rebuild could hit deleted files mid-overwrite or pair
a cached quantizer with half-written lists (ADVICE r4,
operators/ann_index.py:193). The store tables avoid exactly this with
staging + atomic swap; this module gives the indexes the same
protocol:

    <index>/_CURRENT      tiny text file naming the live version dir
    <index>/v<N>/...      one complete, immutable index build
    <index>/v<N-1>/...    the previous build, retained for in-flight
                          readers (handles resolve _CURRENT once at
                          load and keep reading their snapshot)
    <index>/.build-*      private staging of an in-progress build

- build() writes the ENTIRE new index into a private `.build-<uuid>`
  staging dir that no reader resolves and no other writer targets,
  then CLAIMS a version number by an atomic `rename(staging, v<N>)`
  (rename onto an existing dir fails, so two racing builds can never
  claim the same number — the same claim primitive as the txlog
  store's link-claimed commit files), and finally commits by an
  fsync-ed rename onto _CURRENT — the single publish point.
- readers resolve _CURRENT at load time; a handle created before a
  swap keeps serving its own version's files, which no swap ever
  touches (snapshot isolation).
- GC at commit removes only versions numerically BELOW the previous
  version's number: a racer that claimed between prev and the
  committed n (it read the same prev) may not have published yet, and
  anything below prev was superseded at least two commits ago under
  every race ordering. When two unlocked builds race, both land
  complete version dirs and the last _CURRENT write wins. Stale
  `.build-*` dirs from crashed builds are reaped once NOTHING in
  their tree has been written for a day (newest-mtime walk — a live
  long build's top-level mtime is stale while its files still land).
- an index root without _CURRENT holds no servable build: load()
  raises and asks for a rebuild (indexes are derived data, rebuilt
  from the store), and mutations through a handle refuse to write.
"""

from __future__ import annotations

import os
import re
import shutil
import time
import uuid

CURRENT_FILE = "_CURRENT"
_VDIR = re.compile(r"^v(\d+)$")
#: a crashed build's staging is reaped only when NOTHING in its tree
#: has been written for this long — generous, because reaping a LIVE
#: concurrent build would lose it (its writes land in subdirectories,
#: so the top-level mtime alone is not freshness)
_STAGING_TTL_SECONDS = 24 * 3600.0
#: a superseded groups-memo fingerprint dir must be at least this old
#: before the keep-2 GC may remove it — a lazy DataFrame handed out by
#: an earlier groups() call (or a concurrent process on an older
#: fingerprint) reads its files at ACTION time, not call time
_MEMO_GC_AGE_FLOOR = 3600.0


def _newest_mtime(root: str) -> float:
    """Newest mtime anywhere in a tree (a long build writes into
    SUBdirectories, leaving the top-level dir's mtime stale)."""
    newest = 0.0
    try:
        newest = os.path.getmtime(root)
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                try:
                    newest = max(newest, os.path.getmtime(os.path.join(dirpath, f)))
                except OSError:
                    continue
    except OSError:
        pass
    return newest


def _read_current(path: str) -> str | None:
    try:
        with open(os.path.join(path, CURRENT_FILE)) as f:
            return f.read().strip()
    except OSError:
        return None


def resolve_vroot(path: str) -> str | None:
    """Directory holding the LIVE index files: the version dir _CURRENT
    names, or None when the root has no _CURRENT (nothing built)."""
    name = _read_current(path)
    return None if name is None else os.path.join(path, name)


def load_vroot(path: str) -> str:
    """resolve_vroot for load(): a root without _CURRENT is not a
    versioned index (nothing built, or a pre-versioning layout)."""
    vroot = resolve_vroot(path)
    if vroot is None:
        raise ValueError(
            f"no versioned index at {path} (no {CURRENT_FILE} file) — "
            "rebuild it"
        )
    return vroot


def require_live_version(path: str, vroot: str) -> None:
    """Mutations through a handle whose version is no longer the one
    _CURRENT names must fail loudly: a write into a superseded (even
    if still-retained) version dir commits data that no new load will
    ever serve — a streaming sink holding a handle across a maintenance
    rebuild would otherwise lose every later micro-batch silently.
    Readers don't need this (their snapshot is the point)."""
    cur = resolve_vroot(path)
    if cur is None or os.path.abspath(cur) != os.path.abspath(vroot):
        raise RuntimeError(
            f"index handle pins version {os.path.basename(vroot)!r} of "
            f"{path}, but the current version is "
            f"{cur and os.path.basename(cur)!r}: a rebuild swapped since "
            "this handle loaded, and a write here would never be served; "
            "reload the index before writing"
        )


def _vnum(name: str | None) -> int:
    m = _VDIR.match(name or "")
    return int(m.group(1)) if m else 0


def begin_version(path: str) -> str:
    """Start a new build: returns a private staging dir under the index
    root. Nothing resolves it; concurrent builds get distinct dirs."""
    vdir = os.path.join(path, f".build-{uuid.uuid4().hex}")
    os.makedirs(vdir)
    return vdir


def commit_version(path: str, staging: str) -> str:
    """Claim a version number for the staged build (atomic rename —
    racing builds bump past each other's claims), atomically swap
    _CURRENT to it, then GC: keep the committed and previous versions,
    drop numerically OLDER ones only (never a racer's newer claim),
    and reap crashed builds' stale staging dirs. Returns the committed
    version dir's abspath."""
    prev = _read_current(path)
    n = _vnum(prev) + 1
    while True:
        vdir = os.path.join(path, f"v{n}")
        try:
            os.rename(staging, vdir)  # VERSION CLAIM
            break
        except OSError:
            if not os.path.isdir(vdir):
                raise  # not a claim collision — surface it
            n += 1
    vname = f"v{n}"
    tmp = os.path.join(path, CURRENT_FILE + f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        f.write(vname)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, os.path.join(path, CURRENT_FILE))  # PUBLISH POINT
    keep = {vname} | ({prev} if prev else set())
    # GC bound: strictly below the PREVIOUS version's number, never
    # merely below ours — a racer that claimed between prev and our n
    # (it read the same prev) may not have published yet, and deleting
    # its claim would leave its _CURRENT publish dangling; anything
    # below prev was superseded two commits ago under EVERY race
    # ordering, which is exactly the retained-previous contract
    gc_below = _vnum(prev)
    for d in os.listdir(path):
        if _VDIR.match(d) and d not in keep and _vnum(d) < gc_below:
            shutil.rmtree(os.path.join(path, d), ignore_errors=True)
        elif d.startswith(".build-") and d != os.path.basename(staging):
            full = os.path.join(path, d)
            if time.time() - _newest_mtime(full) > _STAGING_TTL_SECONDS:
                shutil.rmtree(full, ignore_errors=True)
    return vdir


def pairs_fingerprint(pairs_dir: str) -> str:
    """Driver-side fingerprint of an append-only parquet dir: md5 of
    the sorted (name, size) listing. Appends add files; a replayed
    no-op add appends zero files, so the fingerprint changes iff
    content changed. No Spark job."""
    import hashlib
    import json

    entries = []
    for root, _dirs, files in os.walk(pairs_dir):
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(root, f)
            entries.append((os.path.relpath(p, pairs_dir), os.path.getsize(p)))
    return hashlib.md5(json.dumps(sorted(entries)).encode()).hexdigest()[:16]


def serve_memoized_labels(spark, vroot: str, fp: str, schema: str, compute):
    """Fingerprint-memoized derived-labels store under
    <vroot>/groups_memo/fp=<fp> (shared by NearDupIndex and
    SemDedupIndex groups()):

    - memo hit: a lazy declared-schema read — ZERO Spark jobs at call
      time;
    - miss: `compute()` returns the labels DataFrame, written into a
      private stage dir and published by atomic rename; the loser of a
      concurrent-reader race discards its stage and serves the
      winner's (identical) labels;
    - GC: superseded fingerprints beyond the newest 2 are dropped
      (retain-through-next-publish, the version-swap rule) — but only
      once they are at least _MEMO_GC_AGE_FLOOR old (ADVICE r7 #2): a
      lazy DataFrame returned from an earlier groups() call, or a
      concurrent process still serving an older fingerprint, would
      otherwise have its memo deleted before its action runs. Crashed
      stage dirs are reaped once they are an hour cold. Both sweeps
      tolerate concurrent deletion and NEVER match a live stage dir
      as a memo entry."""
    import threading

    memo = os.path.join(vroot, "groups_memo", f"fp={fp}")
    if not os.path.exists(os.path.join(memo, "_SUCCESS")):
        stage = f"{memo}.stage-{os.getpid()}-{threading.get_ident()}"
        compute().write.mode("overwrite").parquet(stage)
        try:
            os.rename(stage, memo)
        except OSError:
            shutil.rmtree(stage, ignore_errors=True)  # lost the race
        mdir = os.path.dirname(memo)

        def _mtime(entry: str) -> float:
            try:
                return os.path.getmtime(os.path.join(mdir, entry))
            except OSError:
                return float("inf")  # vanished under a racing GC: spare

        published = sorted(
            (
                e for e in os.listdir(mdir)
                # a live stage dir also starts with 'fp=' — never a memo
                if e.startswith("fp=") and ".stage-" not in e
            ),
            key=_mtime,
            reverse=True,
        )
        now = time.time()
        for stale in published[2:]:
            # age floor mirrors the stage-dir cold rule: keep-2 alone
            # can delete a memo a lazy reader still points at
            if now - _mtime(stale) > _MEMO_GC_AGE_FLOOR:
                shutil.rmtree(os.path.join(mdir, stale), ignore_errors=True)
        for e in os.listdir(mdir):
            if ".stage-" in e and e != os.path.basename(stage):
                age = time.time() - _mtime(e)
                if age > 3600:  # crashed debris only; fresh = maybe live
                    shutil.rmtree(os.path.join(mdir, e), ignore_errors=True)
    return spark.read.schema(schema).parquet(memo)
