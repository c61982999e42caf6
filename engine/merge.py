"""Copy-on-write MERGE INTO + the impute stage (CESID online pipeline, recast).

Reference online pipeline per missing cell: index probe → candidate tables →
top-k similar tuples → score aggregation → best value
(``codes/search/retrieve_relevant_tables.py:267-527``,
``codes/search/retrieve_relevant_values.py:104-231``,
``codes/utils/match_row.py:98-126``), then the estimation fallback
(``codes/estimation/estimator.py:139-240``). The per-cell Python loop becomes
ONE dataflow: worklist ⟕ candidate index → deterministic top-1 →
coalesce(index value, estimation value) — the "search vs estimate" classifier
(``codes/classification/classifier.py:63-105``) collapses into that coalesce,
exactly the higher-confidence-source rule it learns (technique_report Table 8).

Scale shape: every wide stage (context window, index aggregation, probe join)
carries the xxhash64 long text sig, never raw text; the winning text payloads
are fetched at the end with ONE broadcast-keyed join against the table,
O(worklist) rows.

The MERGE itself is copy-on-write under snapshot isolation: only data files
whose stats intersect the source's key domain are rewritten; everything else
is carried over by manifest reference. Resumable via checkpoint manifests.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from .checkpoint import CheckpointLog, TaskRecord
from .format import DataFile, Snapshot, Table, collect_parquet_stats
from .index import _with_context, build_candidate_index, key_families, text_sig
from .scan import (MERGE_KEYS, Predicate, conv_overlap, prune_files,  # noqa: F401
                   scan)
from .write import range_bounds_from_entries, stage_dataframe

def _tmark(label: str, t0: float) -> float:
    """ENGINE_TIMING=1 phase marks (stderr) — cheap observability for the
    bench loop; off by default."""
    now = time.time()
    if os.environ.get("ENGINE_TIMING"):
        import sys
        print(f"ENGINE_TIMING {label} {now - t0:.2f}", file=sys.stderr,
              flush=True)
    return now


# MERGE_KEYS is canonically defined in engine.scan (the delete anti-join and
# the delete-file writer must agree on the key set by construction) and
# re-exported here for the callers that import it from engine.merge.
_MAX_IN_SET = 100_000  # above this, fall back to min/max range pruning
# auto broadcast gate: above this many source rows, let AQE pick the join
# side instead of forcing a broadcast (at 100 TB a 1% worklist carrying
# upd_text strings is tens of GB — see plan_impute_updates' scale notes).
# Rows alone are not enough — 2M long-text rows can be multiple GB — so the
# gate also bounds the estimated string payload (BROADCAST_MAX_BYTES).
BROADCAST_MAX_ROWS = 2_000_000
BROADCAST_MAX_BYTES = 256 * 1024 * 1024
# auto merge-mode gate: below this fraction of the AFFECTED (post-pruning)
# files' rows, a merge goes merge-on-read (commit O(worklist) bytes: insert
# + equality-delete files) instead of copy-on-write. 0.005 = a ≥200× CoW
# write amplification before MoR kicks in: the "late sparse updates" steady
# state at 100 TB goes MoR, while the ~1% maintenance worklist spanning
# every file (amplification ~100×, paid once per cadence) stays CoW so
# reads remain anti-join-free.
_MOR_MAX_FRACTION = 0.005


def _string_bytes(source: DataFrame) -> int:
    """Estimated string payload of ``source`` (sum of octet lengths over its
    string columns) — one tiny agg job, cheap when the source is persisted."""
    str_cols = [f.name for f in source.schema.fields
                if f.dataType.typeName() == "string"]
    if not str_cols:
        return 0
    row = source.agg(*[F.sum(F.octet_length(c)).alias(c)
                       for c in str_cols]).collect()[0]
    return sum(v or 0 for v in row)


# --------------------------------------------------------------------- impute
def worklist(ctx: DataFrame) -> DataFrame:
    """Rows with a missing role/tool/text cell — the analog of the
    reference's ``missing_tab_row_col.csv`` worklist. ``ctx`` is the lean
    context frame (``engine.index._with_context``); text nullness survives
    as ``text_sig IS NULL`` (the sig is null-guarded)."""
    return ctx.filter(F.col("role").isNull() | F.col("text_sig").isNull()
                      | (F.col("tool").isNull() & (F.col("role") == "tool")))


def melt_cells(work: DataFrame) -> DataFrame:
    """Worklist at cell grain: (conv_id, turn_idx, column_name, key) — one
    row per (missing cell, key family) probe, keyed by the same
    ``key_families`` expressions the index build hashes."""
    keyed = {name: key for name, (key, _) in key_families().items()}
    melt = F.explode(F.map_from_arrays(
        F.array(*[F.lit(k) for k in keyed]),
        F.array(*keyed.values())))
    return work.select("conv_id", "turn_idx", melt.alias("column_name", "key"))


def plan_impute_updates(df: DataFrame, cand_idx: DataFrame,
                        ctx: DataFrame | None = None,
                        work: DataFrame | None = None,
                        work_rows: int | None = None,
                        _cache_out: list | None = None) -> DataFrame:
    """Worklist = rows with a missing role/tool/text cell (the analog of
    ``missing_tab_row_col.csv``); output = updates keyed (conv_id, turn_idx)
    with ``upd_*`` values and ``src_*`` provenance tags
    ('index' | 'estimate' — the scenario buckets of
    ``codes/evaluate/total_evaluate.py:159-174``).

    The probe is a shuffle equi-join of the melted cell set against the
    rank-1 index (broadcasting the multi-million-row index was the worst-
    scaling stage of the pass: the broadcast build is serial driver work).
    ``cand_idx`` is a ``build_candidate_index`` table (key long, candidate,
    score, rank); any other key type raises ``ValueError`` instead of
    silently matching nothing. Text values — the index winner (by its sig)
    and the nearest-turn estimation fallback (by ±1 key) — are fetched with
    two broadcast-keyed joins against column-pruned table scans, O(worklist)
    rows each, so no wide stage ever carries text payloads."""
    key_type = {f.name: f.dataType for f in cand_idx.schema.fields}.get("key")
    if not isinstance(key_type, LongType):
        got = key_type.simpleString() if key_type is not None else "missing"
        raise ValueError(
            "cand_idx must be a build_candidate_index table (key bigint, "
            "candidate string, score double, rank int); got key " + got)
    if ctx is None:
        ctx = _with_context(df)

    if work is None:
        # the worklist (~1% of rows) feeds two join branches below (melted
        # cells and the wide row) — persist it so the conv-window pipeline
        # over the full table runs ONCE, not once per branch
        work = worklist(ctx).persist()

    # ONE join for all key families: the worklist at cell grain joins the
    # index once on the long key (the family is folded into it) and pivots
    # back on the cells' own column_name. Per-family joins would schedule
    # one build-side job each — pure serial stage latency at any scale (the
    # reference pays the same shape of cost probing its per-dtype indexes
    # one by one, construct_index.py:284-313).
    keyed = list(key_families())
    cells = melt_cells(work)
    rank1 = cand_idx.filter(F.col("rank") == 1).select("key", "candidate")
    # probe-join side choice: when the caller knows the worklist is small
    # (``work_rows`` — impute_merge already materialized the count), force
    # the CELLS side to broadcast so the multi-million-row rank-1 index
    # never shuffles at all (guide §2.4: a broadcast join replaces the
    # shuffle of the large side). Above the gate (a 100 TB worklist is
    # itself huge) the shuffle equi-join stands. Re-measured after the
    # r7 narrow-key index (fixed-width rows shrank the shuffle
    # alternative): broadcast still wins the stage it affects by
    # ~1-1.8 s per pass at 8 cores (src_materialize marks, 5 interleaved
    # pairs).
    if work_rows is not None and work_rows * len(keyed) <= BROADCAST_MAX_ROWS:
        cells = F.broadcast(cells)
    hits = (cells.join(rank1, ["key"], "inner")
            .groupBy("conv_id", "turn_idx")
            .pivot("column_name", keyed)
            .agg(F.first("candidate")))
    for k in keyed:
        hits = hits.withColumnRenamed(k, f"cand_{k}")
    work = work.join(hits, ["conv_id", "turn_idx"], "left")
    # candidate preference: the tool→role functional dependency (a non-null
    # tool cell implies role='tool' — the static FD the reference would mine
    # with Metanome, codes/fd_tools/generate_fds.py:62-72) beats the own-text
    # key (exact tuple match), which beats the two-neighbor context key,
    # which beats single-neighbor keys
    work = (work
            .withColumn("cand_role_v",
                        F.coalesce(F.when(F.col("tool").isNotNull(),
                                          F.lit("tool")),
                                   F.col("cand_role_text"),
                                   F.col("cand_role")))
            .withColumn("cand_tool_v", F.col("cand_tool"))
            .withColumn("cand_text_sig",
                        F.coalesce(F.col("cand_text"),
                                   F.col("cand_text_prev"),
                                   F.col("cand_text_next"))))
    # the probed worklist feeds THREE consumers (the two fetch request sets
    # below — built as broadcasts, i.e. separate jobs — and the final update
    # projection): persist it or the index probe join runs per consumer.
    # O(worklist) rows, so the cache is tiny.
    work = work.persist()
    if _cache_out is not None:
        _cache_out.append(work)

    text_missing = F.col("text_sig").isNull()
    # Text payload fetch #1 — the index winner, keyed by its sig: the
    # winning sig's text is read back from a column-pruned scan of the table
    # restricted (broadcast semi-join) to the ≤|worklist| winning sigs.
    need_sigs = (work.filter(text_missing & F.col("cand_text_sig").isNotNull())
                 .select(F.col("cand_text_sig").alias("sig")).distinct())
    # the fetch key is the sig's string cast (the index candidate type)
    sig_map = (df.select(text_sig().cast("string").alias("sig"), "text")
               .join(F.broadcast(need_sigs), "sig", "left_semi")
               .groupBy("sig").agg(F.min("text").alias("cand_text_val"))
               .withColumnRenamed("sig", "cand_text_sig"))
    work = work.join(F.broadcast(sig_map), ["cand_text_sig"], "left")

    # Text payload fetch #2 — the ±1-neighbor estimation fallback
    # (FIXTURES.md §6): a keyed worklist-sized request set probed against a
    # (conv_id, turn_idx, text) scan. Neither fetch ever shuffles text.
    nbr_keys = (work.filter(text_missing)
                .select("conv_id", F.col("turn_idx").alias("orig_turn"))
                .withColumn("turn_idx",
                            F.explode(F.array(F.col("orig_turn") - 1,
                                              F.col("orig_turn") + 1))))
    nbr_text = (F.broadcast(nbr_keys)
                .join(df.select("conv_id", "turn_idx", "text"),
                      ["conv_id", "turn_idx"], "inner")
                .filter(F.col("text").isNotNull())
                .groupBy("conv_id", F.col("orig_turn").alias("turn_idx"))
                .agg(F.max(F.when(F.col("turn_idx") < F.col("orig_turn"),
                                  F.col("text"))).alias("prev_text"),
                     F.max(F.when(F.col("turn_idx") > F.col("orig_turn"),
                                  F.col("text"))).alias("next_text")))
    work = work.join(nbr_text, ["conv_id", "turn_idx"], "left")

    est_role = F.coalesce(F.col("cand_role_fb"), F.lit("assistant"))
    # a turn needs a tool value only if its (possibly imputed) role is 'tool'
    eff_role = F.coalesce(F.col("role"), F.col("cand_role_v"), est_role)
    est_tool = F.coalesce(F.col("cand_tool_fb"), F.lit("search"))
    est_text = F.coalesce(F.col("prev_text"), F.col("next_text"),
                          F.lit("[unrecoverable]"))

    upd = work.select(
        "conv_id", "turn_idx",
        F.when(F.col("role").isNull(),
               F.coalesce(F.col("cand_role_v"), est_role)).alias("upd_role"),
        F.when(F.col("role").isNull(),
               F.when(F.col("cand_role_v").isNotNull(), F.lit("index"))
               .otherwise(F.lit("estimate"))).alias("src_role"),
        F.when(F.col("tool").isNull() & (eff_role == "tool"),
               F.coalesce(F.col("cand_tool_v"), est_tool)).alias("upd_tool"),
        F.when(F.col("tool").isNull() & (eff_role == "tool"),
               F.when(F.col("cand_tool_v").isNotNull(), F.lit("index"))
               .otherwise(F.lit("estimate"))).alias("src_tool"),
        F.when(text_missing,
               F.coalesce(F.col("cand_text_val"), est_text)).alias("upd_text"),
        F.when(text_missing,
               F.when(F.col("cand_text_val").isNotNull(), F.lit("index"))
               .otherwise(F.lit("estimate"))).alias("src_text"),
    )
    return upd


# ---------------------------------------------------------------- merge into
def _source_predicates(source: DataFrame, byte_cols: list[str] | None = None
                       ) -> tuple[list[Predicate], int, int | None]:
    """File-pruning predicates from the source's conv_id domain — an IN-set
    when the domain is small (collected on the driver, O(distinct keys)),
    else a min/max range — plus the source row count, piggybacked on the
    same job (it gates the rewrite-join broadcast; a separate count() would
    be one more driver-sequenced pass over the source pipeline). At 10^12
    turns the IN-set path still holds for targeted merges (one batch of late
    conversations), and the range path bounds the worst case.

    ``byte_cols`` additionally sums those string columns' octet lengths in
    the SAME job (third return value; None when not requested) — the byte
    side of the broadcast gate, free to piggyback here."""
    bexprs = [F.sum(F.octet_length(c)).alias(f"__b_{c}")
              for c in (byte_cols or [])]
    rows = (source.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n"),
                                          *bexprs)
            .limit(_MAX_IN_SET + 1).collect())
    if len(rows) <= _MAX_IN_SET:
        nbytes = (sum((r[f"__b_{c}"] or 0) for r in rows
                      for c in byte_cols) if byte_cols else None)
        return ([Predicate("conv_id", "in", sorted(r["conv_id"]
                                                   for r in rows))],
                sum(r["n"] for r in rows), nbytes)
    agg = source.agg(F.min("conv_id"), F.max("conv_id"),
                     F.count(F.lit(1)), *bexprs).collect()[0]
    nbytes = (sum((agg[f"__b_{c}"] or 0) for c in byte_cols)
              if byte_cols else None)
    return ([Predicate("conv_id", "ge", agg[0]),
             Predicate("conv_id", "le", agg[1])], agg[2], nbytes)


def build_rewrite(tgt: DataFrame, source: DataFrame,
                  update_map: dict[str, str],
                  broadcast_source: bool) -> DataFrame:
    """The CoW rewrite plan: target left-joins the update source on the
    MERGE keys; matched non-null source cells overwrite, everything else is
    carried. ``broadcast_source=False`` leaves the join side to AQE — at
    100 TB a 1% worklist carrying upd_text strings is tens of GB, which must
    NOT be forced through a BroadcastExchange (plan-asserted in
    tests/test_plans.py)."""
    src = F.broadcast(source) if broadcast_source else source
    joined = tgt.join(src.withColumn("__matched", F.lit(True)),
                      on=list(MERGE_KEYS), how="left")
    out_cols = []
    for c in tgt.columns:
        if c in update_map:
            u = F.col(update_map[c])
            out_cols.append(
                F.when(F.col("__matched").isNotNull() & u.isNotNull(), u)
                .otherwise(F.col(c)).alias(c))
        else:
            out_cols.append(F.col(c))
    return joined.select(*out_cols)


def _stage_mor(spark: SparkSession, table: Table, snap, source: DataFrame,
               update_map: dict[str, str], broadcast_source: bool,
               preds: list[Predicate] | None, source_bytes: int | None,
               target_bytes: int, n_src: int) -> list[DataFile]:
    """Stage a merge-on-read commit: the post-update MATCHED rows as small
    data files plus one equality-delete file on the MERGE keys shadowing
    their old versions. O(worklist) bytes staged, no data file rewritten.

    The matched rows come from the LIVE view (``scan`` — predicate-pruned
    files with prior deletes applied), so stacked sparse merges compose:
    each generation's delete shadows every earlier version of the key.
    The delete keys are read back from the just-staged insert files (tiny)
    rather than re-running the merge join."""
    from .scan import scan as snapshot_scan
    # schema='current': the pinned (time-travel) schema would resolve a
    # column renamed AFTER this snapshot under its OLD name, so an
    # update_map keyed by the current name would match nothing and the
    # merge would silently commit unchanged values (review-confirmed)
    live = snapshot_scan(spark, table, snapshot_id=snap.snapshot_id,
                         predicates=preds, schema="current")
    src = F.broadcast(source) if broadcast_source else source
    joined = live.join(src, on=list(MERGE_KEYS), how="inner")
    out_cols = []
    for c in live.columns:
        if c in update_map:
            out_cols.append(F.coalesce(F.col(update_map[c]),
                                       F.col(c)).alias(c))
        else:
            out_cols.append(F.col(c))
    rows = joined.select(*out_cols)
    nf = max(1, round((source_bytes or 0) / target_bytes)) \
        if source_bytes else max(1, n_src // 2_000_000)
    ins = stage_dataframe(table, rows, num_files=nf,
                          sort_cols=list(MERGE_KEYS))
    if not any(e.record_count for e in ins):
        # nothing matched: drop the zero-row staged files and make the
        # commit a clean no-op snapshot — empty data-file manifest entries
        # (and an empty delete file) would be pure metadata noise that every
        # later scan/compaction pays to list
        for e in ins:
            try:
                os.remove(os.path.join(table.root, e.path))
            except OSError:
                pass
        return []
    del_keys = spark.read.parquet(
        *[os.path.join(table.root, e.path) for e in ins]) \
        .select(*MERGE_KEYS)
    dels = stage_dataframe(table, del_keys, num_files=1,
                           sort_cols=list(MERGE_KEYS), content="deletes")
    return ins + dels


def _adopt_crashed_commit(table: Table, ckpt: CheckpointLog,
                          pass_id: str) -> Snapshot | None:
    """If a previous run committed this pass's snapshot but died before
    writing the checkpoint finalize record, adopt that snapshot instead of
    re-committing (a re-commit would add the staged files under a SECOND
    manifest while removing the already-removed inputs — duplicate rows on
    scan). Reachable in routine streaming restarts (ingest_batch replays a
    batch through merge_into with the same pass_id)."""
    for s in reversed(table.snapshots()):
        if s.summary.get("pass_id") == pass_id:
            ckpt.finalize({"snapshot_id": s.snapshot_id, "adopted": True})
            return s
    return None


def merge_into(spark: SparkSession, table: Table, source: DataFrame,
               update_map: dict[str, str],
               pass_id: str | None = None,
               broadcast_source: bool | None = None,
               num_files: int | None = None,
               target_bytes: int = 128 * 1024 * 1024,
               predicates: list[Predicate] | None = None,
               source_rows: int | None = None,
               source_bytes: int | None = None,
               curve: str | None = None,
               curve_bounds_list: list | None = None,
               ts_bounds: tuple[int, int] | None = None,
               mode: str = "auto",
               isolation: str = "snapshot",
               branch: str | None = None) -> Snapshot | None:
    """MERGE INTO table USING source ON (conv_id, turn_idx)
    WHEN MATCHED THEN UPDATE SET col = coalesce(source.upd_col, col).

    ``update_map`` maps target column → source column (null source cell means
    "leave unchanged", giving cell-grain updates like the reference's
    ground-truth lookup join, ``codes/estimation/row_acquisitor.py:1087-1089``).

    ``broadcast_source=None`` (default) size-gates the broadcast on the
    materialized source row count (≤ BROADCAST_MAX_ROWS); pass True/False to
    force.

    ``mode`` picks the physical strategy:

    * ``'cow'`` — copy-on-write: prune target files by source key domain,
      rewrite only those, carry the rest. The rewrite is range-partitioned
      WITHOUT a sampling pass: partition bounds come from the affected
      files' manifest stats (driver-side, O(files)), so the expensive merge
      join runs exactly once.
    * ``'mor'`` — merge-on-read: commit O(worklist) bytes only — a small
      insert file with the post-update rows plus an equality-delete file on
      (conv_id, turn_idx) shadowing their old versions (Iceberg-v2 shape).
      No data file is rewritten; ``scan()`` applies the deletes via one
      anti-join and compaction/clustering folds them back into data files.
      This kills the CoW write amplification for SPARSE merges: one late-
      edited cell no longer rewrites a whole 128 MB file.
    * ``'auto'`` (default) — 'mor' when the source is a tiny fraction
      (≤ _MOR_MAX_FRACTION) of the affected files' rows and no fused
      clustering was requested; 'cow' otherwise (a ~1 % maintenance
      worklist spanning every file amortizes its rewrite, and the fused
      merge+cluster pass IS a full rewrite by design).

    Checkpointed: if the process dies after staging but before the snapshot
    swap, a rerun with the same ``pass_id`` reuses the staged files and just
    commits (byte-identical table state); if it dies after the swap but
    before the checkpoint finalize, the rerun adopts the committed snapshot
    instead of double-committing.

    Concurrency note: CoW merges validate their inputs on commit
    (CommitConflictError); a MoR merge removes no files, so under the
    default ``isolation='snapshot'`` two concurrent sparse merges both
    commit and the LATER sequence number wins on any overlapping key —
    snapshot-isolation semantics, like Iceberg equality deletes. Pass
    ``isolation='serializable'`` to make a MoR merge CONFLICT instead when
    a concurrent commit landed a delete file overlapping its key range
    (conservative conv_id-range check on manifest stats) OR replaced any
    data file this merge planned against (a concurrent copy-on-write
    merge/compaction/delete): the loser gets a CommitConflictError and
    must re-derive its source from the fresh snapshot, never a silent
    revert.
    """
    assert mode in ("auto", "cow", "mor")
    assert isolation in ("snapshot", "serializable")
    if mode == "mor" and curve is not None:
        raise ValueError("fused clustering (curve=) is a full rewrite — "
                         "incompatible with merge-on-read mode")
    pass_id = pass_id or uuid.uuid4().hex[:12]
    ckpt = CheckpointLog(table.root, pass_id, "merge")
    if ckpt.pass_committed():
        return (table.ref_snapshot(branch, allow_empty=True) if branch
                else table.current_snapshot())
    adopted = _adopt_crashed_commit(table, ckpt, pass_id)
    if adopted is not None:
        return adopted

    # the source pipeline (index build → keyed joins → updates) is consumed
    # twice below (predicate collect, rewrite probe); without persisting it
    # every consumer re-runs the whole DAG — the single biggest serial cost
    # in the maintenance pass
    source = source.persist()
    # every path out of the body below — success, conflict, or
    # any Spark/planner exception — must release the cached
    # source (review finding: scattered per-path unpersists
    # leaked it on every error path); unpersist is idempotent,
    # so the pre-existing success-path calls stay harmless
    try:
        t0 = time.time()
        if predicates is not None and source_rows is not None:
            # caller already knows the key domain (e.g. impute_merge: the
            # worklist spans most conversations, so pruning cannot drop a file)
            # — skip the predicate-derivation job entirely
            preds, n_src = predicates, source_rows
        else:
            preds, n_src, piggy_bytes = _source_predicates(
                source, byte_cols=[f.name for f in source.schema.fields
                                   if f.dataType.typeName() == "string"
                                   and f.name not in MERGE_KEYS])
            if source_bytes is None:
                source_bytes = piggy_bytes
        t0 = _tmark("merge.source_pipeline", t0)
        if broadcast_source is None:
            broadcast_source = n_src <= BROADCAST_MAX_ROWS
            if broadcast_source and n_src > 0:
                # row count alone under-gates text-heavy sources: estimate the
                # string payload too (caller may piggyback it; else one tiny agg
                # over the persisted source)
                if source_bytes is None:
                    source_bytes = _string_bytes(source)
                broadcast_source = source_bytes <= BROADCAST_MAX_BYTES

        t_meta = time.time()
        snap = (table.ref_snapshot(branch, allow_empty=True) if branch
                else table.current_snapshot())
        if branch is not None and snap is None:
            source.unpersist()
            return None  # null-rooted branch: nothing to match against yet
        entries = table.manifest_entries(snap)
        affected = prune_files(entries, preds)
        affected_paths = [e.path for e in affected]
        delete_entries = table.manifest_entries(snap, content="deletes")
        # deletes relevant to the CoW rewrite are selected by OVERLAP WITH THE
        # AFFECTED FILES, not by the source predicates: the rewrite copies
        # WHOLE files — a delete shadowing a row outside the source's key
        # domain but inside an affected file must still be applied, or the
        # rewritten copy (fresh sequence number) resurrects it
        from .scan import shadowable
        affected_dels = [d for d in delete_entries
                         if any(shadowable(e, d) for e in affected)]
        affected_rows = sum(e.record_count for e in affected)
        use_mor = (mode == "mor"
                   or (mode == "auto" and curve is None and affected
                       and 0 < n_src <= _MOR_MAX_FRACTION * affected_rows))
        _tmark("merge.plan_metadata", t_meta)

        removed_paths: set[str] = set() if use_mor else set(affected_paths)
        rec = ckpt.get("rewrite")
        if rec is not None:
            from .write import restat_staged
            staged = [restat_staged(table, p) for p in rec["output_files"]]
            # a resumed pass replays the recorded strategy, not the re-derived
            # one (the staged files already embody it); legacy records carry no
            # 'removed' list — they were all CoW, removing their input files
            ext = rec.get("extra") or {}
            use_mor = bool(ext.get("mor"))
            if use_mor:
                removed_paths = set(ext.get("removed", []))
            else:
                removed_paths = set(ext.get("removed", rec["input_files"]))
            # the delete set KNOWN AT STAGING time — a delete committed after
            # the crash was not applied to the staged files, and the commit
            # validation below must catch it (legacy records: no validation)
            expected_dels = (set(ext["deletes"]) if "deletes" in ext else None)
            # serializable MoR resume: the RECORDED planning file set, not a
            # re-derivation from the live snapshot
            mor_planned = (set(ext["affected"]) if "affected" in ext else None)
        elif not affected:
            staged = []
            expected_dels = None
            mor_planned = None
        elif use_mor:
            staged = _stage_mor(spark, table, snap, source, update_map,
                                broadcast_source, preds, source_bytes,
                                target_bytes, n_src)
            t0 = _tmark("merge.mor_stage", t0)
            serial = isolation == "serializable"
            ckpt.record(TaskRecord(
                pass_id, "merge", "rewrite",
                input_files=affected_paths,
                output_files=[e.path for e in staged],
                rows=sum(e.record_count for e in staged),
                bytes=sum(e.file_size_bytes for e in staged),
                skew_factor=1.0, committed=False,
                extra={"mor": True, "removed": [],
                       **({"deletes": sorted(d.path for d in delete_entries),
                           "affected": sorted(affected_paths),
                           "serializable": True} if serial else {})}))
            # snapshot isolation: MoR removes nothing → nothing to validate.
            # serializable: validate against the planning snapshot's delete set
            # so a concurrent overlapping merge conflicts instead of silently
            # losing last-sequence-wins.
            expected_dels = ({d.path for d in delete_entries} if serial
                             else None)
            mor_planned = set(affected_paths) if serial else None
        else:
            # merge-on-read backlog: a raw file read would resurrect deleted
            # rows — the delete-applied read (seq-split fast path) prevents it.
            # The rewritten files take a NEW sequence number, so the folded
            # deletes stop applying to them; when this rewrite covers the
            # whole table the delete files themselves are dropped below.
            from .scan import read_with_deletes
            tgt = read_with_deletes(spark, table, affected, affected_dels)
            if set(affected_paths) == {e.path for e in entries}:
                removed_paths |= {e.path for e in delete_entries}
            out = build_rewrite(tgt, source, update_map, broadcast_source)
            # Output file count derives from DATA SIZE (not core count, not scan
            # partitioning — both vary with parallelism and would make the
            # rewrite non-deterministic across cluster sizes). Range bounds come
            # from the affected files' manifest stats, so there is NO sampling
            # job — repartitionByRange would compute the merge join twice.
            if num_files is None:
                in_bytes = sum(e.file_size_bytes for e in affected)
                num_files = max(1, round(in_bytes / target_bytes))
                if in_bytes > (1 << 20):
                    num_files = max(num_files, 16)
            if curve is not None:
                # fused merge+cluster: the rewrite IS the clustering pass. The
                # merge never updates conv_id/ts, so the curve-key distribution
                # (hence the bounds) is identical pre- and post-merge — the
                # caller computes bounds from the CHEAP pre-merge two-column
                # scan, and the whole maintenance cadence pays ONE full rewrite
                # instead of two (the second write was the worst-scaling stage
                # of the pass).
                from .layout import cluster_dataframe
                out = cluster_dataframe(out, strategy=curve,
                                        num_files=num_files,
                                        ts_bounds=ts_bounds,
                                        bounds=curve_bounds_list)
                staged = stage_dataframe(table, out)
            else:
                bounds = range_bounds_from_entries(affected, num_files,
                                                   "conv_id",
                                                   turn_col="turn_idx")
                staged = stage_dataframe(table, out, num_files=num_files,
                                         range_cols=list(MERGE_KEYS),
                                         sort_cols=list(MERGE_KEYS),
                                         bounds=bounds)
            t0 = _tmark("merge.rewrite_stage", t0)
            rows = sum(e.record_count for e in staged)
            mean_rows = rows / max(1, len(staged))
            skew = (max((e.record_count for e in staged), default=0)
                    / max(1.0, mean_rows))
            ckpt.record(TaskRecord(
                pass_id, "merge", "rewrite",
                input_files=affected_paths,
                output_files=[e.path for e in staged],
                rows=rows, bytes=sum(e.file_size_bytes for e in staged),
                skew_factor=round(skew, 3), committed=False,
                extra={"removed": sorted(removed_paths),
                       "deletes": sorted(d.path for d in delete_entries)}))
            # a delete file committed AFTER this plan was read would shadow
            # rows the staged rewrite copied under a fresh sequence number —
            # the commit validates against the known set (Iceberg's
            # validateNoNewDeleteFiles)
            expected_dels = {d.path for d in delete_entries}
            mor_planned = None  # CoW removes its inputs: liveness check covers

        from .format import CommitConflictError, ConstraintViolation
        from .write import enforce_constraints
        try:
            # CoW staged output carries unchanged legacy rows — gate only the
            # rows this merge touched (source keys); MoR insert files ARE
            # exactly the touched rows, no key restriction needed
            enforce_constraints(
                spark, table, staged,
                keys_df=None if use_mor else source,
                on_violation=lambda n, x: ckpt.abandon(
                    {"constraint": n, "expr": x}))
        except ConstraintViolation:
            source.unpersist()
            raise
        mor_key_ranges = ([e for e in staged if e.content == "deletes"]
                          if use_mor and expected_dels is not None else None)
        try:
            new_snap = table.commit("merge", added=staged,
                                    removed_paths=removed_paths,
                                    summary={"pass_id": pass_id,
                                             **({"mor": True} if use_mor
                                                else {})},
                                    expected_delete_paths=expected_dels,
                                    conflict_key_ranges=mor_key_ranges,
                                    branch=branch,
                                    conflict_if_removed=(mor_planned
                                                         if use_mor else None))
        except CommitConflictError:
            # a concurrent pass replaced our input files mid-rewrite: committing
            # would resurrect their rows through our staged copies. Abandon the
            # checkpoint (staged files become sweepable orphans) and surface the
            # conflict — the caller must re-derive its update source from the
            # fresh snapshot (a stale source could mis-update rewritten rows),
            # so no blind auto-retry here.
            ckpt.abandon({"conflict": "inputs replaced by concurrent commit"})
            source.unpersist()
            raise
        _tmark("merge.commit", t0)
        ckpt.finalize({"snapshot_id": new_snap.snapshot_id})
        source.unpersist()
        return new_snap
    finally:
        source.unpersist()


def delete_where(spark: SparkSession, table: Table,
                 predicates: list[Predicate],
                 pass_id: str | None = None,
                 mode: str = "auto",
                 target_bytes: int = 128 * 1024 * 1024,
                 branch: str | None = None) -> Snapshot | None:
    """DELETE FROM table WHERE <predicates> — row-level deletion, the
    training-data lake's compliance/contamination-purge op (opt-outs,
    benchmark-contaminated conversations, licensing takedowns). The
    reference has no deletion at all (its lake is an immutable CSV dump);
    this is lakehouse completeness beyond the inventory.

    Three-tier physical plan, cheapest applicable tier per file:

    1. **Metadata-only whole-file drop** — files whose stats PROVE every
       row matches (``Predicate.matches_all``, e.g. a single-conversation
       file under ``conv_id = X``): removed from the manifest without
       reading a byte (Iceberg's partition-predicate delete).
    2. **Merge-on-read** — sparse residue (≤ ``_MOR_MAX_FRACTION`` of the
       partially-affected files' rows): ONE equality-delete file with the
       dying keys, no insert side, O(dying rows) bytes committed.
    3. **Copy-on-write** — dense residue: rewrite the partially-affected
       files keeping survivors (composite-bounded range layout, prior
       deletes applied, commit validated against concurrent delete files
       like every rewrite).

    Returns None when no file can contain a matching row. Checkpointed
    and conflict-validated like MERGE; ``changes_between`` surfaces the
    removed rows as ``_change='delete'`` CDC records (the exact LIVE-row
    count). The summary's ``deleted_rows`` counts PHYSICAL rows removed:
    for whole-file drops that includes generations already shadowed by
    equality deletes (a metadata-only drop cannot know the live subset
    without reading the file — use the CDC diff for the exact live
    number). ``branch``: plan
    against and commit onto a named branch head (audit a purge with
    ``scan(ref=...)`` before ``fast_forward`` publishes it)."""
    assert mode in ("auto", "cow", "mor")
    if not predicates:
        raise ValueError("delete_where without predicates would drop the "
                         "whole table; do that explicitly via predicates "
                         "that match everything")
    pass_id = pass_id or uuid.uuid4().hex[:12]
    ckpt = CheckpointLog(table.root, pass_id, "delete")
    if ckpt.pass_committed():
        return (table.ref_snapshot(branch, allow_empty=True) if branch
                else table.current_snapshot())
    adopted = _adopt_crashed_commit(table, ckpt, pass_id)
    if adopted is not None:
        return adopted
    snap = (table.ref_snapshot(branch, allow_empty=True) if branch
            else table.current_snapshot())
    if branch is not None and snap is None:
        return None  # null-rooted branch: no rows can match yet
    # two-level prune: manifest-list summaries skip whole manifests, file
    # stats prune the rest — a targeted DELETE never parses the full
    # manifest tree on the driver
    affected = prune_files(
        table.manifest_entries(snap, predicates=predicates), predicates)
    if not affected:
        return None
    delete_entries = table.manifest_entries(snap, content="deletes")
    full = [e for e in affected
            if all(p.matches_all(e) for p in predicates)]
    fullset = {e.path for e in full}
    partial = [e for e in affected if e.path not in fullset]

    removed: set[str] = set(fullset)
    n_dead = sum(e.record_count for e in full)
    staged: list[DataFile] = []
    expected_dels: set[str] | None = None
    rec = ckpt.get("rewrite")
    if rec is not None:
        from .write import restat_staged
        staged.extend(restat_staged(table, p) for p in rec["output_files"])
        ext = rec.get("extra") or {}
        removed = set(ext.get("removed", []))
        n_dead = int(ext.get("deleted_rows", 0))
        expected_dels = (set(ext["deletes"]) if "deletes" in ext else None)
        use_mor = bool(ext.get("mor"))
    elif partial:
        from .scan import read_with_deletes
        from .scan import shadowable
        applicable = [d for d in delete_entries
                      if any(shadowable(e, d) for e in partial)]
        live_part = read_with_deletes(spark, table, partial, applicable)
        match = predicates[0].to_column()
        for p in predicates[1:]:
            match = match & p.to_column()
        # dead side: a bare filter already treats NULL as no-match AND
        # leaves the conjuncts pushable to the parquet scan; the survivor
        # side needs the explicit NULL collapse (NOT over three-valued
        # logic would silently drop null-columned rows)
        dead = live_part.filter(match).persist()
        n_part_dead = dead.count()
        part_rows = sum(e.record_count for e in partial)
        n_dead += n_part_dead
        use_mor = (mode == "mor"
                   or (mode == "auto"
                       and 0 < n_part_dead
                       <= _MOR_MAX_FRACTION * part_rows))
        if n_part_dead == 0:
            pass  # residue empty: only the whole-file drops commit
        elif use_mor:
            staged = stage_dataframe(table, dead.select(*MERGE_KEYS),
                                     num_files=1,
                                     sort_cols=list(MERGE_KEYS),
                                     content="deletes")
        else:
            removed |= {e.path for e in partial}
            survivors = live_part.filter(
                ~F.coalesce(match, F.lit(False)))
            num_files = max(1, round(sum(e.file_size_bytes
                                         for e in partial) / target_bytes))
            bounds = range_bounds_from_entries(partial, num_files,
                                               "conv_id",
                                               turn_col="turn_idx")
            staged = stage_dataframe(table, survivors, num_files=num_files,
                                     range_cols=list(MERGE_KEYS),
                                     sort_cols=list(MERGE_KEYS),
                                     bounds=bounds)
            # survivors were copied under a fresh sequence number: a delete
            # file landing concurrently must conflict (it could shadow a
            # copied row) — same validateNoNewDeleteFiles rule as MERGE
            expected_dels = {d.path for d in delete_entries}
        dead.unpersist()
        ckpt.record(TaskRecord(
            pass_id, "delete", "rewrite",
            input_files=sorted({e.path for e in affected}),
            output_files=[e.path for e in staged],
            rows=sum(e.record_count for e in staged),
            bytes=sum(e.file_size_bytes for e in staged),
            committed=False,
            extra={"mor": use_mor, "removed": sorted(removed),
                   "deleted_rows": n_dead,
                   **({"deletes": sorted(expected_dels)}
                      if expected_dels is not None else {})}))
    else:
        use_mor = False
        ckpt.record(TaskRecord(
            pass_id, "delete", "rewrite",
            input_files=sorted(fullset), output_files=[],
            committed=False,
            extra={"mor": False, "removed": sorted(removed),
                   "deleted_rows": n_dead}))

    if not removed and not staged:
        ckpt.finalize({"noop": True})
        return None
    from .format import CommitConflictError
    try:
        new_snap = table.commit(
            "delete", added=staged, removed_paths=removed,
            summary={"pass_id": pass_id, "deleted_rows": n_dead,
                     **({"mor": True} if use_mor else {})},
            expected_delete_paths=expected_dels, branch=branch)
    except CommitConflictError:
        ckpt.abandon({"conflict": "inputs replaced by concurrent commit"})
        raise
    ckpt.finalize({"snapshot_id": new_snap.snapshot_id})
    return new_snap


def impute_merge(spark: SparkSession, table: Table,
                 pass_id: str | None = None,
                 cand_idx: DataFrame | None = None,
                 target_bytes: int = 128 * 1024 * 1024,
                 stats_out: dict | None = None,
                 curve: str | None = None) -> Snapshot:
    """The flagship maintenance stage: scan → candidate index → planned
    updates → MERGE. One wide shuffle (conv windows), one index
    aggregation, one probe join, one rewrite — copy-on-write for the
    normal ~1% full-table worklist (fused with clustering when ``curve``
    is set); a TARGETED sparse worklist (missing cells confined to a few
    conversations) auto-selects merge-on-read and commits O(worklist)
    bytes instead.

    ``stats_out`` (optional dict) receives the hot-conversation skew report
    (engine.skew.hot_keys) computed from the already-persisted context frame
    — a narrow agg over cached sig-rows instead of a second full table
    scan."""
    t_setup = time.time()
    df = scan(spark, table)
    # fused-clustering prep (metadata-only): output file count + ts bounds
    # from the manifests; the curve KEY rides the context pass below so the
    # quantile bounds later read the warm cache, not a fresh table scan
    curve_prep: dict = {}
    extra_ctx_cols = None
    if curve is not None:
        from .format import ts_bounds_micros
        from .layout import curve_key
        entries = table.manifest_entries()
        in_bytes = sum(e.file_size_bytes for e in entries)
        n_out = max(1, round(in_bytes / target_bytes))
        if in_bytes > (1 << 20):
            n_out = max(n_out, 16)
        ts_b = ts_bounds_micros(entries)
        curve_prep = {"n_out": n_out, "ts_b": ts_b,
                      "rows_total": sum(e.record_count for e in entries)}
        extra_ctx_cols = {"__ckey": curve_key(curve, ts_bounds=ts_b)}
    # ONE materialization of the lean conv-window pipeline, shared by the
    # index build and the update plan (Catalyst has no cross-branch subtree
    # reuse; without this the windows run 2-6×). MEMORY_AND_DISK: at real
    # scale the context spills instead of recomputing.
    from pyspark import StorageLevel
    ctx = _with_context(df, extra=extra_ctx_cols).persist(
        StorageLevel.MEMORY_AND_DISK)
    work = worklist(ctx).persist()
    if cand_idx is None:
        # merge-pass index: rank-1 only (k=1 — double partial agg, no window
        # sort); the widest agg and the probe join carry an 8-byte long key
        cand_idx = build_candidate_index(df, k=1, ctx=ctx)
    # cand_idx is deliberately NOT persisted: it has exactly one consumer
    # (the rank-1 probe join inside the persisted probed-worklist frame),
    # and the in-memory columnar cache build for a multi-million-row
    # string-heavy frame costs more than the aggregation itself.
    # Eager fill of the shared ctx/work caches in dependency order (one
    # sequential job) before the big combined action.
    _tmark("impute.setup", t_setup)
    t0 = time.time()
    n_work = work.count()
    _tmark("impute.ctx_work_fill", t0)
    inner_caches: list = []
    updates = plan_impute_updates(df, cand_idx, ctx=ctx, work=work,
                                  work_rows=n_work,
                                  _cache_out=inner_caches)
    update_map = {"role": "upd_role", "tool": "upd_tool", "text": "upd_text"}
    src = updates.select("conv_id", "turn_idx",
                         "upd_role", "upd_tool", "upd_text").persist()
    inner_caches.append(src)
    t0 = time.time()
    # ONE materializing agg gives the conv-domain predicates (file pruning:
    # a sparse/targeted worklist — few conversations — must not trigger an
    # O(table) rewrite; the uniform bench mask spans every file, where the
    # derivation costs one tiny job over the just-cached source), the row
    # count (broadcast row gate) and the string payload (broadcast byte
    # gate), all piggybacked on the cache fill.
    preds, n_src, src_bytes = _source_predicates(
        src, byte_cols=["upd_role", "upd_tool", "upd_text"])
    _tmark("impute.src_materialize", t0)
    if curve is not None:
        entries_all = table.manifest_entries()
        if len(prune_files(entries_all, preds)) < len(entries_all):
            # targeted worklist (pruning actually drops files): fused
            # clustering is a FULL-table rewrite concept — fall back to the
            # keyed range rewrite of the affected files only and leave
            # layout migration to the standalone cluster() cadence
            curve = None
    hot_future = pool = None
    if stats_out is not None:
        # the source pipeline is materialized (ctx cache warm) — OVERLAP the
        # skew report with the rewrite: both are Spark jobs, the scheduler
        # interleaves their tasks instead of the report being serial
        # wall-clock after the pass
        from concurrent.futures import ThreadPoolExecutor
        from .skew import hot_keys
        pool = ThreadPoolExecutor(max_workers=1)
        hot_future = pool.submit(lambda: hot_keys(ctx).collect())
    curve_kw: dict = {}
    if curve is not None:
        # fused clustering (see merge_into): curve bounds from the WARM ctx
        # cache (the key rode the context pass) — neither a table scan nor
        # a recompute of the merge join; valid because the merge never
        # touches the curve dimensions. Shared seeded-sample quantile helper
        # (engine.layout), same code path as the standalone cluster()
        # cadence so both stay GK-sketch-free.
        n_out, ts_b = curve_prep["n_out"], curve_prep["ts_b"]
        t0 = time.time()
        from .layout import sample_quantile_bounds
        cb = sample_quantile_bounds(ctx, "__ckey", n_out,
                                    curve_prep["rows_total"])
        _tmark("impute.curve_bounds", t0)
        curve_kw = {"curve": curve, "curve_bounds_list": cb,
                    "ts_bounds": ts_b, "num_files": n_out}
    t0 = time.time()
    snap = merge_into(spark, table, src, update_map, pass_id=pass_id,
                      target_bytes=target_bytes,
                      predicates=preds, source_rows=n_src,
                      source_bytes=src_bytes, **curve_kw)
    t0 = _tmark("impute.merge_into_total", t0)
    if hot_future is not None:
        hot = hot_future.result()
        _tmark("impute.hot_keys_wait", t0)
        pool.shutdown()
        stats_out["hot_conversations"] = len(hot)
        stats_out["hot_max_turns"] = max((r["hot_count"] for r in hot),
                                         default=0)
    for frame in (work, ctx, *inner_caches):
        frame.unpersist()
    return snap


def evaluate_impute(imputed: DataFrame, worklist: DataFrame,
                    updates: DataFrame | None = None) -> dict:
    """Exact-match accuracy per column (reference protocol:
    ``codes/evaluate/total_evaluate.py:94`` categorical exact match), plus
    scenario buckets when ``updates`` (with src_* provenance) is given —
    the s1/s2/s3 search-covered / estimation / neither buckets of
    ``total_evaluate.py:159-174``."""
    melted = imputed.select(
        "conv_id", "turn_idx",
        F.explode(F.map_from_arrays(
            F.array(F.lit("role"), F.lit("tool"), F.lit("text")),
            F.array(F.col("role"), F.col("tool"), F.col("text")),
        )).alias("column_name", "val"))
    j = worklist.join(melted, ["conv_id", "turn_idx", "column_name"], "left")
    if updates is not None:
        src = updates.select(
            "conv_id", "turn_idx",
            F.explode(F.map_from_arrays(
                F.array(F.lit("role"), F.lit("tool"), F.lit("text")),
                F.array(F.col("src_role"), F.col("src_tool"),
                        F.col("src_text")),
            )).alias("column_name", "src"))
        j = j.join(src, ["conv_id", "turn_idx", "column_name"], "left")
        j = j.withColumn("src", F.coalesce(F.col("src"), F.lit("none")))
    else:
        j = j.withColumn("src", F.lit("all"))
    agg = (j.groupBy("column_name", "src")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.when(F.col("val") == F.col("gt_val"), 1)
                      .otherwise(0)).alias("hits")))
    out: dict = {}
    for r in agg.collect():
        col = out.setdefault(r["column_name"], {"n": 0, "hits": 0,
                                                "buckets": {}})
        col["n"] += r["n"]
        col["hits"] += r["hits"]
        col["buckets"][r["src"]] = {"n": r["n"],
                                    "acc": r["hits"] / r["n"]}
    for col in out.values():
        col["acc"] = col.pop("hits") / col["n"]
    return out
