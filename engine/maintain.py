"""Table maintenance: bin-packing compaction, clustering, manifest rewrite,
snapshot expiry, orphan-file sweep. All copy-on-write, all checkpointed.

None of this exists in the reference (its lake is an unmanaged CSV directory,
``cesid_datalake_imputation/readme.md:39-46``); these are the operations the
north rule adds so the same lake works at 10^12 turns.
"""

from __future__ import annotations

import glob as globlib
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .checkpoint import StagedTask, file_skew, run_rewrite
from .format import (CommitConflictError, DataFile, Snapshot, Table,
                     _schema_state_of, ts_bounds_micros)
from .layout import cluster_dataframe
from .write import output_file_count, stage_dataframe

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024  # real-cluster default; tests pass small


# ----------------------------------------------------------------- compaction
def plan_compaction(entries: list[DataFile],
                    target_bytes: int = DEFAULT_TARGET_BYTES,
                    min_group: int = 2) -> list[list[DataFile]]:
    """Greedy first-fit-decreasing bin packing of undersized files into
    ~target_bytes groups. Pure driver-side planning over O(files) manifest
    metadata — no data read. Files already ≥ target/2 are left alone.

    Sorting by min conv_id first keeps each output file's key range tight so
    compaction never *degrades* scan pruning."""
    small = [e for e in entries if e.file_size_bytes < target_bytes // 2]
    small.sort(key=lambda e: (str(e.stats.get("conv_id", {}).get("min", "")),
                              e.path))
    groups: list[list[DataFile]] = []
    cur: list[DataFile] = []
    cur_bytes = 0
    for e in small:
        if cur and cur_bytes + e.file_size_bytes > target_bytes:
            groups.append(cur)
            cur, cur_bytes = [], 0
        cur.append(e)
        cur_bytes += e.file_size_bytes
    if cur:
        groups.append(cur)
    return [g for g in groups if len(g) >= min_group]


def compact(spark: SparkSession, table: Table,
            target_bytes: int = DEFAULT_TARGET_BYTES,
            pass_id: str | None = None,
            retries: int = 1,
            branch: str | None = None) -> Snapshot | None:
    """Rewrite every planned group into one file in ONE Spark job.

    The file→group routing is a broadcast join on the file's basename
    (``input_file_name()`` tags rows at the scan, so the join key is free);
    each group's rows are then placed in exactly one shuffle partition via a
    murmur3-solved representative value per group (``engine.write.
    partition_reps``: pmod(hash(rep_j), n) == j by construction), so the
    single write emits one file per group. A per-group-job design (the r2
    shape) sequences O(groups) driver-scheduled jobs — at a 100 TB backlog of
    small files that is thousands of jobs whose fixed latency dominates; here
    the whole plan is one scan + one shuffle regardless of group count: ONE
    action, which AQE executes as a CONSTANT number of stages/jobs
    (measured via ``sc.statusTracker``: 4 without a delete backlog, ~8 when
    the merge-on-read anti-join rides along — constant as groups double;
    tests/test_maintain.py and the bench steady leg).

    Per-group lineage+metrics checkpoint records are still written (one per
    group, after the write is durably staged), so a pass killed after staging
    resumes by committing the recorded outputs without re-reading anything
    (killed mid-way through the records, it commits the groups recorded so
    far: a smaller compaction, equally valid).

    The single-job design has no per-group job fan-out to bound — cap
    cluster load with Spark's own scheduler pools / dynamic-allocation
    limits. The unified read over every group takes ONE explicit schema
    for all planned files (``engine.scan._table_reader``)."""
    from .write import partition_reps
    pass_id = pass_id or uuid.uuid4().hex[:12]
    replan = False

    def stage(snap: Snapshot | None) -> list[StagedTask] | None:
        nonlocal replan
        groups = plan_compaction(table.manifest_entries(snap), target_bytes)
        if not groups:
            return None
        # pin the equality-delete set this plan reads: a delete committed
        # after this point shadows rows the rewrite may copy under a fresh
        # sequence number — the commit validates against exactly this set
        dels = table.manifest_entries(snap, content="deletes")
        mean_rows = (sum(e.record_count for g in groups for e in g)
                     / max(1, len(groups)))
        n = len(groups)
        reps = partition_reps(n)
        route = [(os.path.basename(e.path), reps[j])
                 for j, group in enumerate(groups) for e in group]
        mapping = F.broadcast(
            spark.createDataFrame(route, "__cmp_base string, __cmp_rep long"))
        planned = [e for g in groups for e in g]
        from .scan import _read_entries, reconcile_schema
        # one explicit read schema for every group: a bin-pack group can
        # mix pre- and post-add_column files, and a pre-add file
        # null-fills the added column instead of dropping it
        meta = table.load_metadata()
        df = (_read_entries(spark, table, meta, planned)
              .withColumn("__cmp_base",
                          F.element_at(F.split(F.input_file_name(), "/"), -1)))
        # physical schema migration rides the rewrite for free: renamed
        # columns come out under their current name, dropped columns'
        # bytes are actually shed (the metadata-only rename/drop promised
        # exactly this at the next rewrite)
        df = reconcile_schema(table, df, meta)
        if dels:
            # merge-on-read: fold the equality deletes into the rewritten
            # groups (the compacted file takes a new sequence number, so an
            # unapplied delete would stop shadowing its rows — resurrection).
            # The delete FILES stay committed: they may still apply to data
            # files outside this plan; rewrite_deletes() retires them.
            from .scan import apply_equality_deletes
            df = apply_equality_deletes(spark, table, df, planned,
                                        dels, base_col="__cmp_base")
        df = (df.join(mapping, "__cmp_base")
              .repartition(n, F.col("__cmp_rep"))
              .drop("__cmp_base", "__cmp_rep")
              .sortWithinPartitions("conv_id", "turn_idx"))
        staged = stage_dataframe(table, df)
        if len(staged) != n:
            # retries-gated like the commit-conflict retry below: a
            # concurrent MoR merge landing a fresh delete before every
            # replan would otherwise recurse unbounded
            if dels and retries > 0:
                # a group's rows were ALL shadowed by equality deletes →
                # its partition wrote no file and the positional
                # part↔group alignment is broken. Nothing is recorded (the
                # staged files are sweepable orphans); the caller folds
                # the backlog and replans.
                replan = True
                return None
            raise RuntimeError(
                f"compaction wrote {len(staged)} files for {n} groups — "
                "an empty group partition broke part↔group alignment"
                + (" (replan retries exhausted)" if dels else ""))
        # parts come back sorted by part index == shuffle partition id ==
        # plan position (the representative construction guarantees it);
        # one lineage record per group
        return [StagedTask("__plan__", [], [],
                           extra={"deletes": sorted(d.path for d in dels)}),
                *[StagedTask(f"group-{i:05d}", [e.path for e in group],
                             [out], skew_factor=round(
                                 out.record_count / max(1.0, mean_rows), 3))
                  for i, (group, out) in enumerate(zip(groups, staged))]]

    try:
        # one output file per group
        snap = run_rewrite(table, "compact", pass_id, branch, stage,
                           summary=lambda req: {"groups": len(req.files)})
    except CommitConflictError:
        # lost the race: some planned input files were replaced while this
        # pass ran. Compaction's plan is derived purely from the manifest,
        # so the clean recovery is a replan from the fresh snapshot
        # (bounded retries; the lost attempt was abandoned, its staged
        # output is a sweepable orphan).
        if retries <= 0:
            raise
        return compact(spark, table, target_bytes,
                       pass_id=f"{pass_id}-retry", retries=retries - 1,
                       branch=branch)
    if replan:
        # fold the delete backlog first (rewrite_deletes also bin-packs
        # the shadowed files), then replan this compaction clean
        rewrite_deletes(spark, table, target_bytes,
                        pass_id=f"{pass_id}-fold", branch=branch)
        return compact(spark, table, target_bytes,
                       pass_id=f"{pass_id}-replan",
                       retries=retries - 1, branch=branch)
    return snap


def rewrite_deletes(spark: SparkSession, table: Table,
                    target_bytes: int = DEFAULT_TARGET_BYTES,
                    pass_id: str | None = None,
                    branch: str | None = None) -> Snapshot | None:
    """Major compaction for the merge-on-read backlog: rewrite every data
    file at least one equality-delete file can shadow (older sequence number
    AND overlapping conv_id range), applying the deletes, then retire ALL
    delete files in the same commit — safe because any file a delete could
    still apply to was just replaced (new sequence number).

    Cadence economics at 100 TB: each sparse MoR merge commits O(worklist)
    bytes; this pass pays the rewrite ONCE for many accumulated merges
    (instead of CoW paying it per merge), and scans in between pay one
    small anti-join. Checkpointed and conflict-validated like every other
    rewrite."""
    from .write import range_bounds_from_entries

    def stage(snap: Snapshot | None) -> list[StagedTask] | None:
        from .scan import delete_max_seq, read_with_deletes, shadowable
        dels = table.manifest_entries(snap, content="deletes")
        if not dels:
            return None
        # manifest-list shadow pruning: whole data manifests at/above the
        # backlog's max delete sequence hold no shadowable file and are
        # never opened — at the 100 TB design point the freshly-compacted
        # bulk of the tree skips here. The threshold comes from the
        # manifest-list del_max_seq summaries when present (no delete
        # manifest consulted), else from the already-opened delete entries
        # (legacy snapshots).
        sums = [snap.manifest_meta.get(mf) for mf in snap.manifests]
        if any(md is None or (md.get("deletes", 0)
                              and md.get("del_max_seq") is None)
               for md in sums):
            # a legacy manifest (no summary) might carry deletes the
            # summary walk can't see — an UNDERSTATED threshold would skip
            # shadowable data and resurrect rows, so fall back to the
            # opened entries
            del_max = max(delete_max_seq(d) for d in dels)
        else:
            del_max = max(md["del_max_seq"] for md in sums
                          if md.get("del_max_seq") is not None)
        data = table.manifest_entries(snap, seq_below=del_max)
        affected = [e for e in data if any(shadowable(e, d) for d in dels)]
        staged: list[DataFile] = []
        if affected:
            df = read_with_deletes(spark, table, affected, dels)
            num_files = max(1, round(sum(e.file_size_bytes for e in affected)
                                     / target_bytes))
            bounds = range_bounds_from_entries(affected, num_files,
                                               "conv_id",
                                               turn_col="turn_idx")
            staged = stage_dataframe(table, df, num_files=num_files,
                                     range_cols=["conv_id", "turn_idx"],
                                     sort_cols=["conv_id", "turn_idx"],
                                     bounds=bounds)
        # the recorded sets are what the commit replays: a delete file
        # committed after staging was never applied to the staged output,
        # so it must surface as a conflict, never be retired unapplied
        inputs = [e.path for e in affected] + [d.path for d in dels]
        return [StagedTask("rewrite", inputs, staged,
                           extra={"removed": sorted(inputs),
                                  "deletes": sorted(d.path for d in dels)})]

    return run_rewrite(
        table, "rewrite-deletes", pass_id, branch, stage,
        summary=lambda req: {"delete_files_folded": len(req.deletes)})


def compact_deletes(spark: SparkSession, table: Table,
                    pass_id: str | None = None,
                    branch: str | None = None) -> Snapshot | None:
    """Minor compaction of the merge-on-read delete backlog (VERDICT r4
    task #2): fold every equality-delete file into ONE, with each row's
    ORIGINAL sequence number materialized as a ``__delete_seq`` column.

    Why it matters: every sparse MoR merge adds one tiny delete file and
    ``scan()`` opens ALL of them on every delete-applied read — a month of
    hourly sparse merges is ~720 tiny parquet reads per scan until the
    (expensive, data-rewriting) ``rewrite_deletes`` cadence fires. This
    pass is metadata-cheap: it reads/writes only the delete files
    (O(worklist) bytes), touches no data file, and drops the per-scan file
    count back to 1.

    Semantics: the folded FILE takes the fold commit's sequence number, so
    without the row column its deletes would suddenly shadow data files
    newer than the original merges (including their own MoR insert files —
    resurrection's dual, wrongful deletion). The row-level ``__delete_seq``
    preserves each delete's original applies-to-strictly-smaller-seq
    window: ``delete_rows_with_seq`` prefers it wherever deletes are read,
    and the scan fast-path split keys off its manifest min
    (``engine.scan.delete_min_seq``). Stacked generations on one key keep
    only the max sequence (shadowing a superset — exactly last-wins).

    Reference anchor: the per-run cell-grain worklist CSV the reference
    accumulates (``codes/utils/inject_missing_values.py:23``) — here the
    accumulated worklists are folded into one deduplicated file."""
    from .scan import _DELETE_SEQ_COL, MERGE_KEYS, delete_rows_with_seq

    def stage(snap: Snapshot | None) -> list[StagedTask] | None:
        dels = table.manifest_entries(snap, content="deletes")
        if len(dels) <= 1:
            return None
        df = (delete_rows_with_seq(spark, table, dels)
              .groupBy(*MERGE_KEYS)
              .agg(F.max(_DELETE_SEQ_COL).alias(_DELETE_SEQ_COL)))
        staged = stage_dataframe(table, df, num_files=1,
                                 sort_cols=list(MERGE_KEYS),
                                 content="deletes")
        # removing the inputs makes the commit's liveness validation run:
        # a concurrent rewrite_deletes/compact that retired one of them
        # conflicts instead of being resurrected by the folded copy
        removed = sorted(d.path for d in dels)
        return [StagedTask("fold", removed, staged,
                           extra={"removed": removed})]

    return run_rewrite(
        table, "compact-deletes", pass_id, branch, stage,
        summary=lambda req: {"delete_files_folded": len(req.removed)})


# ----------------------------------------------------------------- clustering
def cluster(spark: SparkSession, table: Table, strategy: str = "zorder",
            target_bytes: int = DEFAULT_TARGET_BYTES,
            pass_id: str | None = None,
            branch: str | None = None) -> Snapshot:
    """Full-table rewrite ordered by the space-filling curve
    (engine.layout): repartitionByRange on the curve key gives every output
    file a contiguous curve segment → tight min/max on BOTH hash(conv_id) and
    ts. One shuffle (the range exchange); the curve key itself is pure Spark
    SQL bit arithmetic (Z-order) or one Arrow-vectorized UDF (Hilbert)."""
    assert strategy in ("zorder", "hilbert")

    def stage(snap: Snapshot | None) -> list[StagedTask]:
        from .layout import curve_bounds
        from .scan import read_with_deletes
        entries = table.manifest_entries(snap)
        delete_entries = table.manifest_entries(snap, content="deletes")
        num_files = output_file_count(
            sum(e.file_size_bytes for e in entries), target_bytes)
        # full rewrite folds the whole merge-on-read backlog: the read
        # applies the equality deletes (seq-split fast path) and the commit
        # retires the delete files (every data file they could shadow is
        # replaced)
        df = read_with_deletes(spark, table, entries, delete_entries)
        ts_b = ts_bounds_micros(entries)
        # curve-key quantiles over a two-column scan replace the range
        # sampler (which would re-evaluate the full rows a second time);
        # rows_total from the manifests skips even the count job, and the
        # seeded-sample helper skips the per-row GK sketch (~3× cheaper)
        rows_total = sum(e.record_count for e in entries)
        bounds = (curve_bounds(df, strategy, num_files, ts_bounds=ts_b,
                               rows_total=rows_total)
                  if num_files > 1 else None)
        out = cluster_dataframe(df, strategy=strategy, num_files=num_files,
                                ts_bounds=ts_b, bounds=bounds)
        staged = stage_dataframe(table, out)
        in_paths = [e.path for e in entries]
        deletes = sorted(e.path for e in delete_entries)
        return [StagedTask("rewrite", in_paths, staged,
                           skew_factor=file_skew(staged),
                           extra={"removed": sorted(in_paths + deletes),
                                  "deletes": deletes})]

    # a full-table rewrite that loses a race (e.g. to a merge) is abandoned
    # and re-raised, not retried: another full rewrite should be a
    # deliberate scheduling decision of the caller's next cadence
    return run_rewrite(table, f"cluster-{strategy}", pass_id, branch, stage,
                       summary=lambda req: {"files": len(req.files)})


# ------------------------------------------------------------ manifest rewrite
def rewrite_manifests(table: Table,
                      entries_per_manifest: int = 64) -> Snapshot | None:
    """Regroup manifest entries by min conv_id into fixed-size manifests.
    After many merge/append commits, manifests fragment (one tiny manifest per
    commit) and planning cost creeps from O(files) toward O(commits·files);
    this rebalances the metadata tree — data files untouched.

    Runs under the commit lock with a FRESH metadata read inside the critical
    section (same optimistic-concurrency rule as Table.commit): without it, a
    concurrent append landing between load and write would be silently
    dropped from the snapshot log and its files swept as orphans."""
    lock = table._acquire_commit_lock()
    try:
        entries = table.manifest_entries(content="all")
        entries.sort(key=lambda e: (str(e.stats.get("conv_id", {})
                                        .get("min", "")), e.path))
        meta = table.load_metadata()
        manifests = []
        for i in range(0, len(entries), entries_per_manifest):
            manifests.append(
                table.write_manifest(entries[i:i + entries_per_manifest]))
        # conv-sorted regrouping makes the manifest-list ranges tight: this
        # is what turns the per-manifest summaries into an effective
        # two-level prune (each manifest covers a narrow conv_id band)
        mmeta = {m: table._pending_manifest_meta[m] for m in manifests
                 if m in table._pending_manifest_meta}
        table._pending_manifest_meta.clear()
        parent = table.current_snapshot()
        if parent is None:
            return None  # empty table: nothing to regroup
        snap = Snapshot(
            # GLOBAL max+1 (like Table._commit_locked): parent+1 could
            # collide with a branch head committed after parent
            snapshot_id=(max(s["snapshot_id"] for s in meta["snapshots"]) + 1
                         if meta["snapshots"] else 1),
            parent_id=parent.snapshot_id,
            timestamp_ms=int(time.time() * 1000),
            operation="rewrite-manifests",
            manifests=manifests,
            summary={"manifests": len(manifests), "files": len(entries)},
            manifest_meta=mmeta,
            # keep the schema pin: dropping it would let a later rename
            # rewrite what a tag/time-travel read of this head returns
            schema_state=_schema_state_of(meta),
        )
        meta["snapshots"].append(snap.to_json())
        meta["current_snapshot_id"] = snap.snapshot_id
        meta["version"] += 1
        table._write_version(meta["version"], meta)
        return snap
    finally:
        try:
            os.unlink(lock)
        except FileNotFoundError:
            pass


# ------------------------------------------------- snapshot expiry + orphans
def expire_snapshots(table: Table, keep_last: int = 2,
                     older_than_ms: int | None = None) -> list[int]:
    return table.expire_snapshots(keep_last=keep_last,
                                  older_than_ms=older_than_ms)


_SWEEP_DISTRIBUTED_THRESHOLD = 100_000  # data files
_DISTRIBUTED_DELETE_MIN = 1024  # orphans; above this, unlink cluster-side


def _dir_entries_exceed(path: str, n: int) -> bool:
    """True if ``path`` holds more than n entries — scandir stops at n+1, so
    the check itself never materializes a giant listing."""
    count = 0
    with os.scandir(path) as it:
        for _ in it:
            count += 1
            if count > n:
                return True
    return False


def sweep_orphans(spark: SparkSession, table: Table,
                  grace_seconds: float = 3600.0,
                  dry_run: bool = False,
                  distributed: bool | None = None) -> list[str]:
    """Delete data files referenced by NO retained snapshot.

    Two modes (auto-selected by data-dir size, like Iceberg's local-vs-
    distributed GC): the small-table path is pure driver Python (zero Spark
    jobs — the fixed job latency would dwarf the work); past
    ``_SWEEP_DISTRIBUTED_THRESHOLD`` files the set difference runs fully
    Spark-side — the referenced set is read from the retained snapshots'
    manifest JSONs with ``spark.read.json`` (plus staged outputs of
    not-yet-committed checkpoint passes — work a resume will adopt), the
    live listing comes from the distributed ``binaryFile`` source (content
    column pruned away, so no bytes are read), and the difference is a
    left-anti join (reference analog of the set complement: the
    ``isin``-complement bucketing, ``codes/evaluate/total_evaluate.py:164``).
    Nothing lands on the driver except the orphan list itself.

    ``grace_seconds`` protects files newer than the grace window: a
    concurrent pass moves files into data/ BEFORE its checkpoint record
    exists, so sweeping at grace 0 while writers run would delete freshly
    staged work.

    Deployment requirement (backlog purge): the distributed unlink path runs
    ``os.remove`` on EXECUTORS, which is only correct when executors share
    the driver's POSIX filesystem (local mode, NFS, or a fuse-mounted object
    store). The executor-side task COUNTS its successful/missing unlinks and
    the driver re-verifies the result: if the cluster-side pass removed
    nothing that still exists driver-side (the wrong-filesystem signature),
    it falls back to a driver-side unlink loop instead of silently reporting
    files as removed. On object stores, replace this with the store's bulk
    delete API."""
    if distributed is None:
        distributed = _dir_entries_exceed(table.data_dir,
                                          _SWEEP_DISTRIBUTED_THRESHOLD)
    if not distributed:
        orphans = _sweep_local(table, grace_seconds)
    else:
        orphans = _sweep_distributed(spark, table, grace_seconds)
    if not dry_run:
        if distributed and len(orphans) > _DISTRIBUTED_DELETE_MIN:
            # backlog purge (post-expiry of many snapshots): unlink across
            # the cluster — a driver loop over millions of orphans is the
            # same O(orphans) serial wall the sweep itself just avoided
            root = table.root
            sc = spark.sparkContext
            slices = max(1, min(64, len(orphans) // 1024))

            def _unlink(rels):
                removed = missing = 0
                for rel in rels:
                    try:
                        os.remove(os.path.join(root, rel))
                        removed += 1
                    except FileNotFoundError:
                        missing += 1
                yield (removed, missing)
            counts = (sc.parallelize(list(orphans), slices)
                      .mapPartitions(_unlink).collect())
            removed = sum(r for r, _ in counts)
            if removed == 0 and any(
                    os.path.exists(os.path.join(root, rel))
                    for rel in list(orphans)[:16]):
                # executors don't see the driver's filesystem (non-shared
                # storage): the cluster-side pass was a silent no-op — do the
                # work driver-side rather than misreport files as removed
                for rel in orphans:
                    try:
                        os.remove(os.path.join(root, rel))
                    except FileNotFoundError:
                        pass
        else:
            # steady-state sweep deletes few files; driver unlink is cheapest
            for rel in orphans:
                os.remove(os.path.join(table.root, rel))
    return sorted(orphans)


def _uncommitted_checkpoint_outputs(table: Table) -> set[str]:
    import json
    out: set[str] = set()
    ckpt_dir = os.path.join(table.meta_dir, "checkpoints")
    if not os.path.isdir(ckpt_dir):
        return out
    for fn in os.listdir(ckpt_dir):
        if not fn.endswith(".jsonl"):
            continue  # e.g. the _committed.index tombstone file
        with open(os.path.join(ckpt_dir, fn)) as f:
            recs = [json.loads(line) for line in f if line.strip()]
        committed = any(r["task_id"] == "__pass__" and r["committed"]
                        for r in recs)
        if not committed:
            pass_out: set[str] = set()
            for r in recs:
                if r["task_id"] == "__abort__":
                    # records before an abandon() tombstone belong to a
                    # dead attempt — their staged files are sweepable
                    pass_out.clear()
                    continue
                pass_out.update(r.get("output_files", []))
            out |= pass_out
    return out


def _sweep_local(table: Table, grace_seconds: float) -> list[str]:
    referenced: set[str] = set()
    for snap in table.snapshots():
        for e in table.manifest_entries(snap, content="all"):
            referenced.add(e.path)
    referenced |= _uncommitted_checkpoint_outputs(table)
    now = time.time()
    orphans = []
    with os.scandir(table.data_dir) as it:
        for de in it:
            rel = os.path.join("data", de.name)
            if rel in referenced:
                continue
            if now - de.stat().st_mtime >= grace_seconds:
                orphans.append(rel)
    return orphans


def _sweep_distributed(spark: SparkSession, table: Table,
                       grace_seconds: float) -> list[str]:
    refs: list[DataFrame] = []
    manifest_paths = sorted({os.path.join(table.meta_dir, mf)
                             for snap in table.snapshots()
                             for mf in snap.manifests})
    if manifest_paths:
        refs.append(spark.read.option("multiLine", True).json(manifest_paths)
                    .select(F.explode("entries.path").alias("path")))
    ckpt_glob = os.path.join(table.meta_dir, "checkpoints", "*.jsonl")
    if globlib.glob(ckpt_glob):
        # NOTE: unlike the local sweep, this path does not reconstruct the
        # __abort__ tombstone ordering (JSON lines carry no order Spark can
        # rely on), so an abandoned attempt's staged outputs stay protected
        # until the pass finalizes — conservative in the safe direction
        # (files linger, never vanish under a live writer)
        ck = spark.read.json(ckpt_glob).withColumn("f", F.input_file_name())
        committed = (ck.filter((F.col("task_id") == "__pass__")
                               & F.col("committed"))
                     .select("f").distinct())
        refs.append(ck.join(committed, "f", "left_anti")
                    .select(F.explode("output_files").alias("path"))
                    .filter(F.col("path").isNotNull()))
    if not refs:
        return []
    referenced = refs[0]
    for r in refs[1:]:
        referenced = referenced.unionByName(r)

    # epoch comparison, not a naive datetime literal: a local-datetime cutoff
    # round-trips through the driver/session timezone (and a DST fall-back
    # fold shifts it a full hour), which could sweep files a live concurrent
    # writer staged inside the promised grace window
    cutoff_epoch = int(time.time() - grace_seconds)
    listed = (spark.read.format("binaryFile").load(table.data_dir)
              .filter(F.col("modificationTime").cast("long")
                      <= F.lit(cutoff_epoch))
              .select(F.concat(F.lit("data/"),
                               F.element_at(F.split(F.col("path"), "/"), -1))
                      .alias("path")))
    return [r["path"] for r in
            listed.join(referenced, "path", "left_anti").collect()]


def expire_checkpoints(table: Table,
                       noop_grace_s: float = 86400.0) -> list[str]:
    """Checkpoint retention (VERDICT r4 task #5): delete the checkpoint
    logs of FINALIZED passes whose snapshot has been expired from the
    snapshot log. ``metadata/checkpoints/*.jsonl`` otherwise grows forever,
    and BOTH orphan-sweep paths read every file on every run.

    Safety: deleting a committed pass's log would remove the exactly-once
    guard (``pass_committed()`` short-circuit) for that pass_id — a late
    replay would re-execute the pass against the changed table (new
    snapshot, new delete generation). So each reaped SNAPSHOT-committing
    log leaves its pass key in a compact tombstone index
    (``checkpoints/_committed.index``, ~50 bytes vs the full log) that
    ``pass_committed()`` consults forever. Finalized NO-OP logs (no
    snapshot) are instead age-gated by ``noop_grace_s`` (default 1 day)
    and reaped WITHOUT a tombstone: re-running a no-op pass after the
    retry window re-derives against the current table, which is exactly
    what a fresh pass_id would do — harmless by construction. Unfinalized
    and aborted-but-unfinalized passes keep their logs: they are
    resumable / their tombstone ordering still gates the local sweep."""
    live = {s.snapshot_id for s in table.snapshots()}
    ckpt_dir = os.path.join(table.meta_dir, "checkpoints")
    removed: list[str] = []
    if not os.path.isdir(ckpt_dir):
        return removed
    import json
    for fn in sorted(os.listdir(ckpt_dir)):
        if not fn.endswith(".jsonl"):
            continue
        path = os.path.join(ckpt_dir, fn)
        snap_id, committed = None, False
        try:
            with open(path) as f:
                for line in f:
                    line = line.strip()
                    if not line:
                        continue
                    r = json.loads(line)
                    if r["task_id"] == "__pass__" and r.get("committed"):
                        committed = True
                        snap_id = (r.get("extra") or {}).get("snapshot_id")
        except (OSError, ValueError):
            continue  # concurrent writer / torn file: keep, next pass retries
        if not (committed and (snap_id is None or snap_id not in live)):
            continue
        if snap_id is None:
            # finalized no-op: age-gated (prompt retries must short-circuit
            # inside the window), no tombstone (late re-execution of a
            # no-op re-derives against the current table — harmless)
            try:
                if time.time() - os.path.getmtime(path) < noop_grace_s:
                    continue
            except OSError:
                continue
        else:
            # snapshot-committing pass: preserve the exactly-once guard
            # forever via the compact tombstone index (ADVICE r5)
            from .checkpoint import record_committed_tombstone
            record_committed_tombstone(ckpt_dir, fn[:-len(".jsonl")])
        try:
            os.remove(path)
        except FileNotFoundError:
            continue  # a concurrent maintenance pass reaped it first
        removed.append(fn)
    return removed


# ------------------------------------------------------------------ metrics
def maintenance_metrics(spark: SparkSession, table: Table,
                        pass_id: str) -> list[dict]:
    """Per-op + grand-total metrics rollup over the pass's checkpoint task
    records (SURVEY §2.4: the engine's one legitimate ``rollup`` — the
    reference has no grouping sets at all). The NULL-op row is the pass
    total. O(tasks) input, read distributed."""
    paths = sorted(globlib.glob(os.path.join(
        table.meta_dir, "checkpoints", f"*{pass_id}*.jsonl")))
    if not paths:
        return []
    recs = spark.read.json(paths).filter(
        ~F.col("task_id").startswith("__"))  # skip __pass__/__plan__/__abort__
    rolled = (recs.rollup("op")
              .agg(F.count(F.lit(1)).alias("tasks"),
                   F.sum("rows").alias("rows"),
                   F.sum("bytes").alias("bytes"),
                   F.max("skew_factor").alias("max_skew"))
              .orderBy(F.col("op").asc_nulls_last()))
    return [r.asDict() for r in rolled.collect()]


# ------------------------------------------------------------------- pipeline
def run_maintenance(spark: SparkSession, table: Table,
                    target_bytes: int = DEFAULT_TARGET_BYTES,
                    strategy: str = "zorder",
                    keep_last: int = 2,
                    grace_seconds: float = 3600.0,
                    pass_id: str | None = None,
                    separate_compaction: bool = True,
                    collect_metrics: bool = True,
                    delete_backlog_fraction: float = 0.02) -> dict:
    """The full pass benchmarked in bench.py: impute-MERGE → compact →
    cluster → rewrite manifests → expire snapshots → orphan sweep.

    ``separate_compaction=False`` FUSES the whole cadence into one rewrite:
    the impute-MERGE stages its output in curve (Z-order/Hilbert) order
    directly — valid because the merge never updates the curve dimensions —
    so clustering and bin-packing cost zero extra passes (the second
    full-data write was the worst-scaling stage of the pipeline). A real
    deployment runs compaction on its own cadence (cheap, incremental) and
    standalone clustering only for layout migrations.

    ``grace_seconds`` defaults to an hour: files staged by concurrent passes
    are unprotected until their checkpoint record lands, so an immediate
    sweep (0.0) is only safe when the caller knows no other writer is live
    (the bench does, and passes 0 explicitly).

    ``delete_backlog_fraction`` is the merge-on-read cadence policy: every
    pass FOLDS the delete backlog to one file (``compact_deletes``,
    metadata-cheap), but the data-rewriting major compaction
    (``rewrite_deletes``) runs only when the backlog's key count reaches
    this fraction of the table's physical rows — below it, scans pay one
    small anti-join (~0.3 µs/row measured) instead of the cadence paying a
    full rewrite of every shadowed file per pass, which is the wrong
    economics at 100 TB. Retirement also fires when it is FREE: once
    compaction has replaced every file the backlog could shadow (all data
    sequences newer), rewrite_deletes degenerates to a metadata-only
    commit that drops the delete files. Pass 0.0 to force the major
    compaction every pass (the pre-round-5 behavior).
    """
    from .merge import impute_merge
    pass_id = pass_id or uuid.uuid4().hex[:8]
    out: dict = {"pass_id": pass_id}
    snap = table.current_snapshot()
    if snap is None or not table.manifest_entries(snap):
        # a scheduled cadence hitting a fresh/empty table is a no-op, not a
        # crash (the first append creates the work)
        out["skipped"] = "empty table"
        return out
    fused = not separate_compaction
    t0 = time.time()
    # hot-conversation skew report (engine.skew) comes out of the merge
    # pass's cached context frame — not a second full-table scan
    impute_merge(spark, table, pass_id=f"{pass_id}-merge",
                 target_bytes=target_bytes, stats_out=out,
                 curve=strategy if fused else None)
    out["merge_s"] = round(time.time() - t0, 3)
    t0 = time.time()
    if separate_compaction:
        # merge-on-read backlog cadence (policy in the docstring): FOLD
        # every pass; MAJOR-compact only past the backlog threshold or
        # when retirement is metadata-free. The fused path needs neither
        # (its full CoW rewrite already folded and retired the deletes).
        compact_deletes(spark, table, pass_id=f"{pass_id}-folddel")
        dels = table.manifest_entries(content="deletes")
        if dels:
            from .scan import shadowable
            data = table.manifest_entries()
            affected = [e for e in data
                        if any(shadowable(e, d) for d in dels)]
            del_rows = sum(d.record_count for d in dels)
            total_rows = sum(e.record_count for e in data)
            if (not affected
                    or del_rows >= delete_backlog_fraction
                    * max(1, total_rows)):
                rewrite_deletes(spark, table, target_bytes,
                                pass_id=f"{pass_id}-rwdel")
        out["rewrite_deletes_s"] = round(time.time() - t0, 3)
        t0 = time.time()
        compact(spark, table, target_bytes, pass_id=f"{pass_id}-compact")
    out["compact_s"] = round(time.time() - t0, 3)
    t0 = time.time()
    if not fused:
        cluster(spark, table, strategy, target_bytes,
                pass_id=f"{pass_id}-cluster")
    out["cluster_s"] = round(time.time() - t0, 3)
    t0 = time.time()
    rewrite_manifests(table)
    out["rewrite_manifests_s"] = round(time.time() - t0, 3)
    expired = expire_snapshots(table, keep_last=keep_last)
    expired_ckpts = expire_checkpoints(table)
    orphans = sweep_orphans(spark, table, grace_seconds=grace_seconds)
    out["expired_snapshots"] = len(expired)
    out["expired_checkpoints"] = len(expired_ckpts)
    out["orphans_removed"] = len(orphans)
    if collect_metrics:
        out["metrics"] = maintenance_metrics(spark, table, pass_id)
    return out
