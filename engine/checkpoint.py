"""Per-task checkpoint manifests and the one commit protocol every
checkpointed rewrite runs through (``run_rewrite``).

The reference persists inter-stage state as monolithic pickles
(``codes/utils/generalFunctions.py:109-130``; e.g.
``codes/search/construct_index.py:540-543`` writes one pickle per process
group) — resumable only at whole-stage granularity.  Here every rewrite
appends one JSON record per task (file group / rewrite) after its outputs
are durably staged. The records ARE the commit request — staged files,
removed paths, the expected delete set — so a killed pass resumes by
committing exactly what was recorded, without re-staging (FIXTURES.md §4).
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field
from typing import Any, Callable

from .format import CommitConflictError, DataFile, Snapshot, Table
from .write import restat_staged


@dataclass
class TaskRecord:
    pass_id: str
    op: str
    task_id: str                 # partition / file-group identifier
    input_files: list[str]
    output_files: list[str]
    rows: int = 0
    bytes: int = 0
    skew_factor: float = 1.0     # task rows / mean task rows of the pass
    committed: bool = False
    extra: dict[str, Any] = field(default_factory=dict)


class CheckpointLog:
    """Append-only JSONL log for one maintenance pass (idempotent replay)."""

    def __init__(self, table_root: str, pass_id: str, op: str):
        self.op = op
        self.pass_id = pass_id
        self.dir = os.path.join(table_root, "metadata", "checkpoints")
        os.makedirs(self.dir, exist_ok=True)
        self.path = os.path.join(self.dir, f"{op}-{pass_id}.jsonl")
        self._done: dict[str, dict] = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                for line in f:
                    line = line.strip()
                    if not line:
                        continue
                    rec = json.loads(line)
                    if rec["task_id"] == "__abort__":
                        # abandon(): every record before this point belongs
                        # to a dead attempt — a replay must REPLAN, not
                        # resume stale staged output
                        self._done.clear()
                        continue
                    self._done[rec["task_id"]] = rec

    def is_done(self, task_id: str) -> bool:
        return task_id in self._done

    def get(self, task_id: str) -> dict | None:
        return self._done.get(task_id)

    def completed(self) -> list[dict]:
        return list(self._done.values())

    def record(self, rec: TaskRecord) -> None:
        doc = {
            "pass_id": rec.pass_id, "op": rec.op, "task_id": rec.task_id,
            "input_files": rec.input_files, "output_files": rec.output_files,
            "rows": rec.rows, "bytes": rec.bytes,
            "skew_factor": rec.skew_factor, "committed": rec.committed,
            **({"extra": rec.extra} if rec.extra else {}),
        }
        # durability: write the line, fsync, then it is replayable
        with open(self.path, "a") as f:
            f.write(json.dumps(doc) + "\n")
            f.flush()
            os.fsync(f.fileno())
        self._done[rec.task_id] = doc

    def finalize(self, extra: dict | None = None) -> None:
        """Mark the whole pass committed (snapshot swap done)."""
        self.record(TaskRecord(self.pass_id, self.op, "__pass__",
                               [], [], committed=True, extra=extra or {}))

    def abandon(self, extra: dict | None = None) -> None:
        """Terminate the current ATTEMPT without a snapshot swap (commit
        conflict): an ``__abort__`` tombstone invalidates every record
        before it, so (a) the orphan sweep stops protecting the dead
        attempt's staged outputs (the winning concurrent commit owns the
        table now) and (b) a replay with the same pass_id REPLANS from the
        fresh snapshot instead of silently no-opping — a streaming batch
        whose merge lost a race must re-merge on restart, never drop its
        updates."""
        self.record(TaskRecord(self.pass_id, self.op, "__abort__",
                               [], [], committed=False,
                               extra={"aborted": True, **(extra or {})}))
        self._done.clear()

    def pass_committed(self) -> bool:
        rec = self._done.get("__pass__")
        if rec and rec.get("committed"):
            return True
        if self._done:
            return False
        # empty log: the pass may have committed long ago and had its log
        # reaped by expire_checkpoints — the tombstone index retains just
        # the pass key (~50 bytes vs the full log), so a late replay with
        # a reaped pass_id still no-ops instead of re-executing the pass
        # against the changed table
        return f"{self.op}-{self.pass_id}" in _committed_tombstones(self.dir)


def _tombstone_index_path(ckpt_dir: str) -> str:
    return os.path.join(ckpt_dir, "_committed.index")


_tombstone_cache: dict = {}  # path -> ((mtime_ns, size), frozenset of keys)


def _committed_tombstones(ckpt_dir: str) -> set[str]:
    """Pass keys (``<op>-<pass_id>``) of committed passes whose full logs
    were reaped. Append-only, one key per line. Every FRESH pass start
    consults this (its own log is empty), so the parse is cached per
    (mtime, size) — the index grows one line per committed-then-expired
    pass forever, and an O(lifetime-passes) read per streaming micro-batch
    would dominate at cadence."""
    path = _tombstone_index_path(ckpt_dir)
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return set()
    key = (st.st_mtime_ns, st.st_size)
    hit = _tombstone_cache.get(path)
    if hit is not None and hit[0] == key:
        return hit[1]
    with open(path) as f:
        keys = frozenset(line.strip() for line in f if line.strip())
    _tombstone_cache[path] = (key, keys)
    return keys


def record_committed_tombstone(ckpt_dir: str, pass_key: str) -> None:
    with open(_tombstone_index_path(ckpt_dir), "a") as f:
        f.write(pass_key + "\n")
        f.flush()
        os.fsync(f.fileno())


# ------------------------------------------------------------ commit protocol
def plan_snapshot(table: Table, branch: str | None) -> Snapshot | None:
    """The snapshot a write plans against: a named branch's head
    (branch-aware maintenance, streaming write-audit-publish) or main. A
    null-rooted branch (no commits yet) plans as EMPTY — the caller no-ops,
    exactly like a pass on an empty main table. ``ref_snapshot``'s default
    would raise; passing the None through ``manifest_entries`` would
    silently plan MAIN's files onto the branch."""
    if branch is None:
        return table.current_snapshot()
    return table.ref_snapshot(branch, allow_empty=True)


@dataclass
class StagedTask:
    """One task a rewrite staged: lineage (``input_files`` → ``files``) plus,
    in ``extra``, the commit fields its record carries: ``removed`` (paths
    the commit drops; defaults to ``input_files``), ``deletes`` (the
    equality-delete set the plan read — the commit conflicts on any other
    live delete file), ``mor`` and ``affected`` (merge-on-read: the commit
    conflicts if an ``affected`` file was replaced), and the op fields its
    summary reads."""
    task_id: str
    input_files: list[str]
    files: list[DataFile]
    skew_factor: float = 1.0
    extra: dict = field(default_factory=dict)


@dataclass
class CommitRequest:
    """A pass's recorded tasks folded into the arguments of its commit."""
    files: list[DataFile]
    removed: set[str]
    deletes: set[str] | None
    extra: dict


def file_skew(files: list[DataFile]) -> float:
    """Largest staged file's rows over the mean (a task's skew_factor)."""
    mean = sum(e.record_count for e in files) / max(1, len(files))
    return round(max((e.record_count for e in files), default=0)
                 / max(1.0, mean), 3)


def _commit_request(records: list[dict],
                    files: list[DataFile]) -> CommitRequest:
    removed: set[str] = set()
    deletes: set[str] | None = None
    extra: dict = {}
    for r in records:
        ext = r.get("extra") or {}
        # records without a "removed" list predate it: they were all
        # copy-on-write rewrites that remove exactly their inputs
        removed |= set(ext.get("removed", r["input_files"]))
        if "deletes" in ext:
            deletes = (deletes or set()) | set(ext["deletes"])
        extra.update(ext)
    return CommitRequest(files, removed, deletes, extra)


def _adopt_crashed_commit(table: Table,
                          ckpt: CheckpointLog) -> Snapshot | None:
    """If a previous run committed this pass's snapshot but died before
    writing the finalize record, adopt that snapshot instead of
    re-committing (a re-commit would add the staged files under a SECOND
    manifest while removing the already-removed inputs — duplicate rows on
    scan). Reachable in routine streaming restarts (ingest_batch replays a
    batch through merge_into with the same pass_id). Only a snapshot of
    this pass's own operation qualifies: pass ids are caller-chosen, and
    another operation's commit under the same id is not this pass."""
    for s in reversed(table.snapshots()):
        if (s.operation == ckpt.op
                and s.summary.get("pass_id") == ckpt.pass_id):
            ckpt.finalize({"snapshot_id": s.snapshot_id, "adopted": True})
            return s
    return None


def run_rewrite(table: Table, op: str, pass_id: str | None,
                branch: str | None,
                stage: Callable[[Snapshot | None], list[StagedTask] | None],
                summary: Callable[[CommitRequest], dict] | None = None,
                check: Callable[[CommitRequest, Callable], None] | None = None,
                commit_empty: bool = True) -> Snapshot | None:
    """Run one checkpointed rewrite: ``op`` names both its checkpoint log
    and the snapshot it commits onto ``branch`` (main when None).

    1. A finalized pass returns the head; a pass whose snapshot committed
       but whose finalize record was lost adopts that snapshot.
    2. With no task recorded yet, ``stage(plan snapshot)`` plans and stages
       the rewrite and returns its tasks (None: nothing to rewrite —
       nothing is recorded and the result is None). Each task is recorded.
    3. The recorded tasks are the commit request, so a fresh pass and a
       resumed one commit the same files, removals and validations.
       ``check(request, abandon)`` may veto the commit by raising;
       ``summary(request)`` adds op fields to the snapshot summary. A
       request that adds and removes nothing still commits (an empty
       snapshot) unless ``commit_empty`` is False: then the pass finalizes
       as a no-op and returns None.
    4. A commit conflict abandons the attempt (its staged files become
       sweepable; a replay replans) and re-raises. Success finalizes."""
    ckpt = CheckpointLog(table.root, pass_id or uuid.uuid4().hex[:12], op)
    if ckpt.pass_committed():
        return plan_snapshot(table, branch)
    adopted = _adopt_crashed_commit(table, ckpt)
    if adopted is not None:
        return adopted
    files = None
    if all(r["task_id"].startswith("__") for r in ckpt.completed()):
        snap = plan_snapshot(table, branch)
        if branch is not None and snap is None:
            return None  # null-rooted branch: nothing to rewrite yet
        tasks = stage(snap)
        if tasks is None:
            return None
        for t in tasks:
            ckpt.record(TaskRecord(
                ckpt.pass_id, op, t.task_id, t.input_files,
                [e.path for e in t.files],
                rows=sum(e.record_count for e in t.files),
                bytes=sum(e.file_size_bytes for e in t.files),
                skew_factor=t.skew_factor, extra=t.extra))
        files = [e for t in tasks for e in t.files]
    records = ckpt.completed()
    if files is None:
        files = [restat_staged(table, p)
                 for r in records for p in r["output_files"]]
    req = _commit_request(records, files)
    if check is not None:
        check(req, ckpt.abandon)
    if not (commit_empty or req.files or req.removed):
        ckpt.finalize({"noop": True})
        return None
    mor = bool(req.extra.get("mor"))
    try:
        snap = table.commit(
            op, added=req.files, removed_paths=req.removed,
            summary={"pass_id": ckpt.pass_id,
                     **(summary(req) if summary else {}),
                     **({"mor": True} if mor else {})},
            expected_delete_paths=req.deletes,
            # serializable merge-on-read: a concurrent delete file over our
            # staged delete keys' range conflicts (needs a recorded
            # delete set — snapshot isolation records none)
            conflict_key_ranges=([e for e in req.files
                                  if e.content == "deletes"]
                                 if mor else None),
            conflict_if_removed=(set(req.extra["affected"])
                                 if "affected" in req.extra else None),
            branch=branch)
    except CommitConflictError:
        # a concurrent pass replaced our inputs (or shadowed rows we
        # copied): committing would resurrect or revert rows
        ckpt.abandon({"conflict": "inputs replaced by concurrent commit"})
        raise
    ckpt.finalize({"snapshot_id": snap.snapshot_id})
    return snap
