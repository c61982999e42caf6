"""Merge-on-read equality deletes (VERDICT r3 task #1, Iceberg-v2 shape):
a sparse MERGE commits O(worklist) bytes — a small insert file plus an
equality-delete file — instead of rewriting whole data files; scans apply
the deletes via one anti-join, byte-identical to the copy-on-write result;
compaction / clustering / rewrite_deletes fold the backlog back into data
files. Reference anchor for the cell-grain update semantics:
``codes/estimation/row_acquisitor.py:1087-1089`` (ground-truth lookup join).
"""

from pyspark.sql import functions as F

from engine.format import Table
from engine.maintain import (cluster, compact, rewrite_deletes,
                             run_maintenance, sweep_orphans)
from engine.merge import merge_into
from engine.scan import incremental_scan, scan, scan_stats
from engine.synth import generate_transcripts
from engine.write import append

from .conftest import sorted_rows


def _setup(spark, root, convs=60, files=6):
    df = generate_transcripts(spark, num_convs=convs)
    t = Table.create(root)
    append(t, df, num_files=files, range_cols=["conv_id", "turn_idx"],
           sort_cols=["conv_id", "turn_idx"])
    return t, df


def _sparse_source(spark, t, n=5, tag="late-edit"):
    return (scan(spark, t).select("conv_id", "turn_idx")
            .orderBy("conv_id", "turn_idx").limit(n)
            .withColumn("upd_text", F.lit(tag)))


def test_mor_commits_worklist_bytes_and_matches_cow(spark, tmp_table_root,
                                                    tmp_path):
    """The headline invariant: a <0.1%-row merge in MoR mode commits bytes
    proportional to the WORKLIST (not the affected files), removes no data
    file, and its scan output is row-identical to the CoW path on a clone."""
    t, df = _setup(spark, tmp_table_root)
    t2, _ = _setup(spark, str(tmp_path / "cow_tbl"))
    # clone guarantees identical content (same deterministic synth seed)
    assert sorted_rows(scan(spark, t2)) == sorted_rows(scan(spark, t))
    table_bytes = scan_stats(t)["bytes"]

    src = _sparse_source(spark, t)
    snap = merge_into(spark, t, src, {"text": "upd_text"},
                      pass_id="mor1", mode="mor")
    assert snap.summary.get("mor") is True
    assert snap.summary["removed_files"] == 0
    # staged bytes bound: insert + delete files carry ~5 rows, not 6 files
    added = t.manifest_entries(snap, content="all")
    new = [e for e in added if e.sequence_number == snap.snapshot_id]
    staged_bytes = sum(e.file_size_bytes for e in new)
    assert staged_bytes < table_bytes * 0.25, (staged_bytes, table_bytes)
    assert sum(e.record_count for e in new if e.content == "data") == 5
    assert sum(e.record_count for e in new if e.content == "deletes") == 5

    src2 = _sparse_source(spark, t2)
    merge_into(spark, t2, src2, {"text": "upd_text"},
               pass_id="cow1", mode="cow")
    got, want = sorted_rows(scan(spark, t)), sorted_rows(scan(spark, t2))
    assert got == want
    assert scan(spark, t).filter("text = 'late-edit'").count() == 5


def test_mor_snapshot_isolation_and_incremental_scan(spark, tmp_table_root):
    t, df = _setup(spark, tmp_table_root)
    pre = t.current_snapshot().snapshot_id
    before = sorted_rows(scan(spark, t))
    merge_into(spark, t, _sparse_source(spark, t), {"text": "upd_text"},
               pass_id="mor1", mode="mor")
    # pinned old snapshot is untouched by the delete files
    assert sorted_rows(scan(spark, t, snapshot_id=pre)) == before
    # incremental scan sees exactly the new INSERT rows (data content only,
    # never delete-file rows)
    inc = incremental_scan(spark, t, from_snapshot_id=pre)
    assert inc.count() == 5
    assert inc.filter("text = 'late-edit'").count() == 5
    st = scan_stats(t)
    assert st["delete_files"] == 1 and st["delete_rows"] == 5


def test_mor_stacked_generations_last_wins(spark, tmp_table_root):
    """Two sparse merges touching the SAME keys: each generation's delete
    shadows every earlier version; the latest update wins, exactly once."""
    t, df = _setup(spark, tmp_table_root)
    n_total = scan(spark, t).count()
    merge_into(spark, t, _sparse_source(spark, t, tag="gen1"),
               {"text": "upd_text"}, pass_id="g1", mode="mor")
    merge_into(spark, t, _sparse_source(spark, t, tag="gen2"),
               {"text": "upd_text"}, pass_id="g2", mode="mor")
    out = scan(spark, t)
    assert out.count() == n_total  # no duplicates, no losses
    assert out.filter("text = 'gen2'").count() == 5
    assert out.filter("text = 'gen1'").count() == 0
    # keys stay unique
    assert out.groupBy("conv_id", "turn_idx").count() \
              .filter("count > 1").count() == 0


def test_mor_auto_mode_picks_strategy_by_sparsity(spark, tmp_table_root):
    """auto → MoR for a tiny worklist, CoW for a bulk worklist."""
    t, df = _setup(spark, tmp_table_root, convs=100, files=8)
    sparse = _sparse_source(spark, t, n=1)
    s1 = merge_into(spark, t, sparse, {"text": "upd_text"}, pass_id="a1")
    assert s1.summary.get("mor") is True
    bulk = (scan(spark, t).select("conv_id", "turn_idx")
            .withColumn("upd_text", F.lit("bulk")))
    s2 = merge_into(spark, t, bulk, {"text": "upd_text"}, pass_id="a2")
    assert s2.summary.get("mor") is None
    assert s2.summary["removed_files"] > 0
    out = scan(spark, t)
    assert out.filter("text = 'bulk'").count() == out.count()


def test_compact_folds_deletes_without_resurrection(spark, tmp_table_root):
    """Compaction rewrites small files with deletes APPLIED (a compacted
    file takes a new sequence number — an unapplied delete would stop
    shadowing its rows). Scan output is unchanged across the compaction."""
    t, df = _setup(spark, tmp_table_root, files=8)
    merge_into(spark, t, _sparse_source(spark, t), {"text": "upd_text"},
               pass_id="m1", mode="mor")
    want = sorted_rows(scan(spark, t))
    snap = compact(spark, t, target_bytes=1 << 30, pass_id="c1")
    assert snap is not None
    assert sorted_rows(scan(spark, t)) == want
    assert scan(spark, t).filter("text = 'late-edit'").count() == 5


def test_rewrite_deletes_retires_backlog(spark, tmp_table_root):
    """rewrite_deletes folds every shadowed file and retires ALL delete
    files; the scan is unchanged and subsequent scans are anti-join-free."""
    t, df = _setup(spark, tmp_table_root)
    for i in range(3):
        merge_into(spark, t, _sparse_source(spark, t, tag=f"gen{i}"),
                   {"text": "upd_text"}, pass_id=f"m{i}", mode="mor")
    want = sorted_rows(scan(spark, t))
    assert scan_stats(t)["delete_files"] == 3
    snap = rewrite_deletes(spark, t, pass_id="rw1")
    assert snap is not None and snap.operation == "rewrite-deletes"
    assert "delete_files" not in scan_stats(t)
    assert sorted_rows(scan(spark, t)) == want
    # idempotent: nothing left to fold
    assert rewrite_deletes(spark, t, pass_id="rw2") is None
    # resume path: same pass_id is a committed no-op
    assert rewrite_deletes(spark, t, pass_id="rw1").snapshot_id \
        == t.current_snapshot().snapshot_id


def test_cluster_folds_deletes(spark, tmp_table_root):
    t, df = _setup(spark, tmp_table_root)
    merge_into(spark, t, _sparse_source(spark, t), {"text": "upd_text"},
               pass_id="m1", mode="mor")
    want = sorted_rows(scan(spark, t))
    cluster(spark, t, "zorder", target_bytes=1 << 20, pass_id="cl1")
    assert "delete_files" not in scan_stats(t)
    assert sorted_rows(scan(spark, t)) == want


def test_full_cow_rewrite_retires_deletes(spark, tmp_table_root):
    """A CoW merge whose pruning covers the WHOLE table folds and retires
    the delete backlog in its own commit (the fused maintenance shape)."""
    t, df = _setup(spark, tmp_table_root)
    merge_into(spark, t, _sparse_source(spark, t), {"text": "upd_text"},
               pass_id="m1", mode="mor")
    want_edit = scan(spark, t).filter("text = 'late-edit'").count()
    bulk = (scan(spark, t).select("conv_id", "turn_idx")
            .withColumn("upd_role", F.lit(None).cast("string")))
    merge_into(spark, t, bulk, {"role": "upd_role"}, pass_id="m2",
               mode="cow")
    assert "delete_files" not in scan_stats(t)
    assert scan(spark, t).filter("text = 'late-edit'").count() == want_edit


def test_maintenance_pass_over_mor_backlog(spark, tmp_table_root):
    """run_maintenance(separate_compaction=True) over a table with a MoR
    backlog, exercising the round-5 cadence POLICY: a tiny backlog (below
    ``delete_backlog_fraction``) is FOLDED but not major-compacted on the
    first pass; after compaction replaces every shadowed file, the next
    pass retires it via the metadata-free branch. Forcing fraction=0.0
    reproduces the old always-major behavior."""
    from engine.synth import inject_missing
    df = generate_transcripts(spark, num_convs=60)
    injected, wl = inject_missing(df)
    t = Table.create(tmp_table_root)
    append(t, injected, num_files=6, range_cols=["conv_id", "turn_idx"])
    merge_into(spark, t, _sparse_source(spark, t), {"text": "upd_text"},
               pass_id="m0", mode="mor")
    out = run_maintenance(spark, t, target_bytes=1 << 20,
                          separate_compaction=True, keep_last=1,
                          grace_seconds=0.0)
    assert "rewrite_deletes_s" in out
    res = scan(spark, t)
    assert res.filter("role is null or text is null").count() == 0
    assert res.filter("text = 'late-edit'").count() == 5
    # the 5-row backlog is way below the 2% threshold: folded to ≤1 file,
    # not yet major-compacted (unless compaction already made retirement
    # free, in which case it is already gone — both are policy-correct)
    assert scan_stats(t).get("delete_files", 0) <= 1
    # second pass: compaction replaced the shadowed files, so retirement
    # is metadata-free and fires regardless of the threshold
    run_maintenance(spark, t, target_bytes=1 << 20,
                    separate_compaction=True, keep_last=1,
                    grace_seconds=0.0)
    assert "delete_files" not in scan_stats(t)
    assert scan(spark, t).filter("text = 'late-edit'").count() == 5
    sweep_orphans(spark, t, grace_seconds=0.0)
    import os
    live = {e.path for e in t.manifest_entries(content="all")}
    on_disk = {os.path.join("data", n) for n in os.listdir(t.data_dir)}
    assert on_disk == live


def test_maintenance_backlog_threshold_forces_major(spark, tmp_table_root):
    """A backlog ABOVE delete_backlog_fraction triggers the major
    compaction in the same pass; fraction=0.0 forces it for any backlog."""
    t, df = _setup(spark, tmp_table_root)
    # ~30% of rows late-edited → far above the 2% default threshold
    n = int(df.count() * 0.3)
    merge_into(spark, t, _sparse_source(spark, t, n=n, tag="bulk-edit"),
               {"text": "upd_text"}, pass_id="th0", mode="mor")
    run_maintenance(spark, t, target_bytes=1 << 20,
                    separate_compaction=True, keep_last=1,
                    grace_seconds=0.0)
    assert "delete_files" not in scan_stats(t)
    assert scan(spark, t).filter("text = 'bulk-edit'").count() == n

    # tiny backlog + fraction=0.0 → also retired in one pass
    merge_into(spark, t, _sparse_source(spark, t, n=2, tag="tiny"),
               {"text": "upd_text"}, pass_id="th1", mode="mor")
    run_maintenance(spark, t, target_bytes=1 << 20,
                    separate_compaction=True, keep_last=1,
                    grace_seconds=0.0, delete_backlog_fraction=0.0)
    assert "delete_files" not in scan_stats(t)
    assert scan(spark, t).filter("text = 'tiny'").count() == 2


def test_mor_scan_predicate_pruning_still_correct(spark, tmp_table_root):
    """Predicate-pruned scans apply only the overlapping deletes and still
    return exactly the right rows."""
    from engine.scan import Predicate
    t, df = _setup(spark, tmp_table_root)
    src = _sparse_source(spark, t)
    keys = [(r["conv_id"], r["turn_idx"]) for r in
            src.select("conv_id", "turn_idx").collect()]
    merge_into(spark, t, src, {"text": "upd_text"},
               pass_id="m1", mode="mor")
    conv = keys[0][0]
    out = scan(spark, t, predicates=[Predicate("conv_id", "eq", conv)]) \
        .filter(F.col("conv_id") == conv)
    hit = out.filter("text = 'late-edit'").count()
    want = sum(1 for c, _ in keys if c == conv)
    assert hit == want
    assert out.groupBy("conv_id", "turn_idx").count() \
              .filter("count > 1").count() == 0


def test_mor_cow_equivalence_under_random_op_sequence(spark, tmp_table_root,
                                                      tmp_path):
    """Randomized (seeded) equivalence fuzz: the SAME sequence of sparse
    merges applied to twin tables — one forced merge-on-read, one forced
    copy-on-write — interleaved with maintenance ops on the MoR side only
    (compact / rewrite_deletes / cluster, which fold the backlog), must
    keep the two tables row-identical at every step. This pins the
    sequence-number semantics (stacked generations, folding, retirement)
    against the trivially-correct CoW reference implementation."""
    import random

    rng = random.Random(7)
    t_mor, df = _setup(spark, tmp_table_root, convs=40, files=5)
    t_cow, _ = _setup(spark, str(tmp_path / "twin"), convs=40, files=5)

    def sparse_src(step: int):
        # deterministic pseudo-random key subset via hash bucketing
        bucket = rng.randrange(37)
        return (scan(spark, t_cow)
                .filter(F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(199))
                        == bucket)
                .select("conv_id", "turn_idx")
                .withColumn("upd_text", F.lit(f"fuzz-{step}"))
                .withColumn("upd_role", F.when(F.lit(step % 2 == 0),
                                               F.lit(f"r{step}"))))

    from engine.maintain import compact_deletes
    from engine.merge import delete_where
    from engine.scan import Predicate

    for step in range(6):
        src = sparse_src(step).persist()
        merge_into(spark, t_mor, src, {"text": "upd_text",
                                       "role": "upd_role"},
                   pass_id=f"fz-m{step}", mode="mor")
        merge_into(spark, t_cow, src, {"text": "upd_text",
                                       "role": "upd_role"},
                   pass_id=f"fz-c{step}", mode="cow")
        src.unpersist()
        if rng.random() < 0.4:
            # the SAME logical row-level delete, MoR tombstone vs CoW
            # survivor rewrite — delete_where joins the equivalence fuzz
            preds = [Predicate("conv_id", "eq",
                               f"conv-{rng.randrange(40):08d}"),
                     Predicate("turn_idx", "le", rng.randrange(2, 9))]
            delete_where(spark, t_mor, preds, pass_id=f"fz-dm{step}",
                         mode="mor")
            delete_where(spark, t_cow, preds, pass_id=f"fz-dc{step}",
                         mode="cow")
        maint = rng.random()
        if maint < 0.3:
            compact(spark, t_mor, target_bytes=1 << 30,
                    pass_id=f"fz-cp{step}")
        elif maint < 0.5:
            rewrite_deletes(spark, t_mor, pass_id=f"fz-rd{step}")
        elif maint < 0.6:
            cluster(spark, t_mor, "zorder", target_bytes=1 << 20,
                    pass_id=f"fz-cl{step}")
        elif maint < 0.75:
            compact_deletes(spark, t_mor, pass_id=f"fz-fd{step}")
        got = sorted_rows(scan(spark, t_mor))
        want = sorted_rows(scan(spark, t_cow))
        assert got == want, f"diverged at step {step}"
    # final fold retires whatever backlog remains; still identical
    rewrite_deletes(spark, t_mor, pass_id="fz-final")
    assert sorted_rows(scan(spark, t_mor)) == sorted_rows(scan(spark, t_cow))


def test_compact_handles_group_fully_deleted(spark, tmp_table_root):
    """Adversarial fold case: a compaction group whose rows are ALL
    shadowed by equality deletes. On this Spark version the empty group
    partition still writes a (0-row) file, so the positional part↔group
    alignment holds and the pass completes; rows are neither lost nor
    resurrected, and rewrite_deletes then retires the inert backlog.
    (compact() additionally carries a defensive replan path for engines
    that skip empty partition files — the alignment guard.)"""
    df = generate_transcripts(spark, num_convs=40)
    t = Table.create(tmp_table_root)
    # two tiny files (the compaction group) + the rest of the table
    tiny = df.filter("conv_id in ('conv-00000010', 'conv-00000011')")
    rest = df.filter("conv_id not in ('conv-00000010', 'conv-00000011')")
    append(t, rest, num_files=1)
    append(t, tiny, num_files=2, range_cols=["conv_id", "turn_idx"])
    # MoR-update EVERY row of the tiny files with an INCOMPRESSIBLE large
    # payload: their old versions are fully shadowed and the replacement
    # insert file lands well above the small-file threshold (so the
    # planned group is exactly the two dead files)
    big_text = F.concat_ws("", *[
        F.md5(F.concat_ws(":", "conv_id", "turn_idx", F.lit(str(i))))
        for i in range(64)])
    src = (tiny.select("conv_id", "turn_idx")
           .withColumn("upd_text", big_text))
    merge_into(spark, t, src, {"text": "upd_text"}, pass_id="mv",
               mode="mor")
    want = sorted_rows(scan(spark, t))
    n_tiny = tiny.count()
    assert scan(spark, t).filter("length(text) > 1000").count() == n_tiny

    tiny_sizes = sorted(e.file_size_bytes for e in t.manifest_entries())
    tb = 2 * (tiny_sizes[1] + 1)  # small = the two shadowed files only
    planned = [e.file_size_bytes for e in t.manifest_entries()
               if e.file_size_bytes < tb // 2]
    assert len(planned) == 2, (planned, tiny_sizes)
    snap = compact(spark, t, target_bytes=tb, pass_id="cr1")
    assert snap is not None and snap.summary["added_rows"] == 0
    assert sorted_rows(scan(spark, t)) == want
    # the delete's victims are gone; the major compaction rewrites the
    # (conservatively) conv-overlapping files and retires the delete file
    rw = rewrite_deletes(spark, t, pass_id="cr2")
    assert rw is not None
    assert "delete_files" not in scan_stats(t)
    assert sorted_rows(scan(spark, t)) == want


def test_cow_merge_applies_out_of_domain_deletes(spark, tmp_table_root):
    """Code-review regression (r4): a CoW merge must apply the deletes that
    overlap its AFFECTED FILES, not just the ones inside its own source key
    domain — the rewrite copies whole files under a fresh sequence number,
    so an out-of-domain delete left unapplied would resurrect its row."""
    df = generate_transcripts(spark, num_convs=10)
    t = Table.create(tmp_table_root)
    append(t, df, num_files=1)  # ONE file spanning every conversation

    # MoR-edit one key in conv-...05
    k5 = (scan(spark, t).filter("conv_id = 'conv-00000005'")
          .select("conv_id", "turn_idx").orderBy("turn_idx").limit(1)
          .withColumn("upd_text", F.lit("edit-5")))
    merge_into(spark, t, k5, {"text": "upd_text"}, pass_id="m5",
               mode="mor")
    n_total = scan(spark, t).count()

    # CoW merge targeting a DIFFERENT conversation: its predicates (IN
    # {conv-09}) do not cover the delete's key range, but the rewrite
    # touches the whole file
    k9 = (scan(spark, t).filter("conv_id = 'conv-00000009'")
          .select("conv_id", "turn_idx").orderBy("turn_idx").limit(1)
          .withColumn("upd_text", F.lit("edit-9")))
    merge_into(spark, t, k9, {"text": "upd_text"}, pass_id="m9",
               mode="cow")

    out = scan(spark, t)
    assert out.count() == n_total  # the shadowed c5 row did NOT resurrect
    assert out.groupBy("conv_id", "turn_idx").count() \
              .filter("count > 1").count() == 0
    assert out.filter("text = 'edit-5'").count() == 1
    assert out.filter("text = 'edit-9'").count() == 1


def test_rewrite_race_with_new_delete_conflicts(spark, tmp_table_root,
                                                monkeypatch):
    """Code-review regression (r4, validateNoNewDeleteFiles): a MoR merge
    committing a NEW delete file while a compaction is staging must make
    the compaction's commit conflict — its staged output copied the newly
    shadowed row under a fresh sequence number. compact() then replans
    against the fresh snapshot and the final state is exact."""
    import engine.maintain as maint_mod
    from engine.maintain import compact

    df = generate_transcripts(spark, num_convs=20)
    t = Table.create(tmp_table_root)
    append(t, df, num_files=4, range_cols=["conv_id", "turn_idx"])

    real_stage = maint_mod.stage_dataframe
    fired = []

    def stage_then_mor_lands(table, sdf, *a, **kw):
        staged = real_stage(table, sdf, *a, **kw)
        if not fired:
            fired.append(True)
            monkeypatch.setattr(maint_mod, "stage_dataframe", real_stage)
            src = (scan(spark, t).select("conv_id", "turn_idx")
                   .orderBy("conv_id", "turn_idx").limit(2)
                   .withColumn("upd_text", F.lit("raced-edit")))
            merge_into(spark, t, src, {"text": "upd_text"},
                       pass_id="race-mor", mode="mor")
        return staged

    monkeypatch.setattr(maint_mod, "stage_dataframe", stage_then_mor_lands)
    compact(spark, t, target_bytes=1 << 30, pass_id="race-cp")

    out = scan(spark, t)
    assert out.filter("text = 'raced-edit'").count() == 2  # edit survived
    assert out.count() == df.count()  # no resurrection, no loss
    assert out.groupBy("conv_id", "turn_idx").count() \
              .filter("count > 1").count() == 0


def test_rewrite_deletes_resume_sees_new_delete_as_conflict(
        spark, tmp_table_root):
    """Code-review regression (r4): rewrite_deletes crashes after staging;
    a NEW MoR delete lands before the resume. The resume replays the
    RECORDED removal/delete sets, so the commit must CONFLICT (the staged
    output never applied the new delete) instead of retiring it unapplied;
    a fresh pass then folds everything."""
    import pytest

    from engine.format import CommitConflictError

    t, df = _setup(spark, tmp_table_root)
    merge_into(spark, t, _sparse_source(spark, t, tag="gen0"),
               {"text": "upd_text"}, pass_id="m0", mode="mor")

    real_commit = Table.commit

    def exploding_commit(self, *a, **k):
        raise RuntimeError("simulated crash before snapshot swap")

    Table.commit = exploding_commit
    try:
        try:
            rewrite_deletes(spark, t, pass_id="rwc")
        except RuntimeError:
            pass
    finally:
        Table.commit = real_commit

    # a new sparse merge lands between crash and resume
    merge_into(spark, t, _sparse_source(spark, t, tag="gen1"),
               {"text": "upd_text"}, pass_id="m1", mode="mor")
    want = sorted_rows(scan(spark, t))

    with pytest.raises(CommitConflictError):
        rewrite_deletes(spark, t, pass_id="rwc")
    assert sorted_rows(scan(spark, t)) == want  # nothing committed

    snap = rewrite_deletes(spark, t, pass_id="rwc-fresh")
    assert snap is not None
    assert "delete_files" not in scan_stats(t)
    assert sorted_rows(scan(spark, t)) == want


def test_mor_serializable_conflicts_on_overlapping_merge(spark,
                                                         tmp_table_root,
                                                         monkeypatch):
    """ADVICE r4 #3: under the default snapshot isolation two concurrent
    MoR merges over the same key both commit and the later sequence number
    silently wins. ``isolation='serializable'`` gives the loser a signal:
    a delete file committed concurrently whose conv range overlaps this
    merge's staged delete makes the commit CONFLICT instead."""
    import pytest

    import engine.merge as merge_mod
    from engine.format import CommitConflictError

    t, df = _setup(spark, tmp_table_root)
    want_rows = scan(spark, t).count()

    real_stage = merge_mod.stage_dataframe
    fired = []

    def stage_then_rival_lands(table, sdf, *a, **kw):
        staged = real_stage(table, sdf, *a, **kw)
        if not fired:
            fired.append(True)
            # rival merge on the SAME key commits while we're staging
            merge_into(spark, t, _sparse_source(spark, t, tag="rival"),
                       {"text": "upd_text"}, pass_id="rival", mode="mor")
        return staged

    monkeypatch.setattr(merge_mod, "stage_dataframe", stage_then_rival_lands)
    with pytest.raises(CommitConflictError):
        merge_into(spark, t, _sparse_source(spark, t, tag="loser"),
                   {"text": "upd_text"}, pass_id="loser", mode="mor",
                   isolation="serializable")
    monkeypatch.setattr(merge_mod, "stage_dataframe", real_stage)

    # the rival's edit survives; the loser committed nothing
    out = scan(spark, t)
    assert out.filter("text = 'rival'").count() == 5
    assert out.filter("text = 'loser'").count() == 0
    assert out.count() == want_rows
    # the loser's staged files were abandoned → sweepable
    assert sweep_orphans(spark, t, grace_seconds=0.0)
    # a replay from the fresh snapshot succeeds (no concurrent delete now)
    merge_into(spark, t, _sparse_source(spark, t, tag="loser"),
               {"text": "upd_text"}, pass_id="loser-replay", mode="mor",
               isolation="serializable")
    assert scan(spark, t).filter("text = 'loser'").count() == 5


def test_mor_serializable_single_writer_commits_clean(spark,
                                                      tmp_table_root):
    """Serializable must not false-conflict: with no concurrent writer the
    mode is byte-equivalent to the default."""
    t, df = _setup(spark, tmp_table_root)
    snap = merge_into(spark, t, _sparse_source(spark, t),
                      {"text": "upd_text"}, pass_id="ser1", mode="mor",
                      isolation="serializable")
    assert snap.summary.get("mor") is True
    assert scan(spark, t).filter("text = 'late-edit'").count() == 5
    # stacked serializable generations also compose (each plans against
    # the snapshot holding the previous generation's delete file)
    merge_into(spark, t, _sparse_source(spark, t, tag="gen2"),
               {"text": "upd_text"}, pass_id="ser2", mode="mor",
               isolation="serializable")
    assert scan(spark, t).filter("text = 'gen2'").count() == 5


def test_mor_no_match_is_clean_noop(spark, tmp_table_root):
    """ADVICE r4 #2: a sparse merge whose keys match nothing must not
    commit zero-row data files — the snapshot is a clean no-op and the
    staged empties are removed from disk."""
    import os

    t, df = _setup(spark, tmp_table_root)
    entries_before = {e.path for e in t.manifest_entries(content="all")}
    want = sorted_rows(scan(spark, t))

    src = (spark.createDataFrame(
        [("conv-zz-nope", 0), ("conv-zz-nope", 1)],
        "conv_id string, turn_idx int")
        .withColumn("upd_text", F.lit("ghost")))
    snap = merge_into(spark, t, src, {"text": "upd_text"},
                      pass_id="ghost", mode="mor")
    after = t.manifest_entries(snap, content="all")
    assert {e.path for e in after} == entries_before  # no new entries
    assert all(e.record_count > 0 for e in after)
    assert sorted_rows(scan(spark, t)) == want
    # no zero-row parquet litter left in data/
    for name in os.listdir(t.data_dir):
        assert os.path.join("data", name) in entries_before, name


def test_compact_replan_respects_retries(spark, tmp_table_root,
                                         monkeypatch):
    """ADVICE r4 #1: the fully-shadowed-group recovery must be bounded by
    ``retries`` — if folding the backlog never succeeds (simulated no-op
    rewrite_deletes + an engine that drops empty partition files), compact
    raises instead of recursing forever."""
    import pytest

    import engine.maintain as maint_mod

    df = generate_transcripts(spark, num_convs=40)
    t = Table.create(tmp_table_root)
    tiny = df.filter("conv_id in ('conv-00000010', 'conv-00000011')")
    rest = df.filter("conv_id not in ('conv-00000010', 'conv-00000011')")
    append(t, rest, num_files=1)
    append(t, tiny, num_files=2, range_cols=["conv_id", "turn_idx"])
    big_text = F.concat_ws("", *[
        F.md5(F.concat_ws(":", "conv_id", "turn_idx", F.lit(str(i))))
        for i in range(64)])
    src = (tiny.select("conv_id", "turn_idx")
           .withColumn("upd_text", big_text))
    merge_into(spark, t, src, {"text": "upd_text"}, pass_id="mv",
               mode="mor")
    want = sorted_rows(scan(spark, t))

    tiny_sizes = sorted(e.file_size_bytes for e in t.manifest_entries())
    tb = 2 * (tiny_sizes[1] + 1)

    real_stage = maint_mod.stage_dataframe

    def stage_dropping_empties(table, sdf, *a, **kw):
        staged = real_stage(table, sdf, *a, **kw)
        return [e for e in staged if e.record_count > 0]

    calls = []
    monkeypatch.setattr(maint_mod, "stage_dataframe",
                        stage_dropping_empties)
    monkeypatch.setattr(maint_mod, "rewrite_deletes",
                        lambda *a, **k: calls.append(1))
    with pytest.raises(RuntimeError, match="retries exhausted"):
        compact(spark, t, target_bytes=tb, pass_id="rg", retries=2)
    assert len(calls) == 2  # one fold attempt per retry, then stop
    monkeypatch.setattr(maint_mod, "stage_dataframe", real_stage)
    assert sorted_rows(scan(spark, t)) == want  # nothing committed


def test_compact_deletes_folds_backlog_to_one_file(spark, tmp_table_root):
    """VERDICT r4 task #2: N sparse merges → compact_deletes → ONE delete
    file; scan output byte-identical; each generation's replacement row
    survives (the row-level __delete_seq preserves the original
    applies-to-strictly-smaller-seq window — the folded FILE's higher
    sequence must not wrongly shadow the MoR insert files)."""
    from engine.maintain import compact_deletes

    t, df = _setup(spark, tmp_table_root)
    for i in range(4):
        src = (scan(spark, t).select("conv_id", "turn_idx")
               .orderBy("conv_id", "turn_idx")
               .offset(i * 3).limit(3)
               .withColumn("upd_text", F.lit(f"gen{i}")))
        merge_into(spark, t, src, {"text": "upd_text"},
                   pass_id=f"cd-m{i}", mode="mor")
    want = sorted_rows(scan(spark, t))
    assert scan_stats(t)["delete_files"] == 4

    snap = compact_deletes(spark, t, pass_id="cd-fold")
    assert snap is not None and snap.operation == "compact-deletes"
    st = scan_stats(t)
    assert st["delete_files"] == 1
    assert sorted_rows(scan(spark, t)) == want
    for i in range(4):
        assert scan(spark, t).filter(f"text = 'gen{i}'").count() == 3
    # second fold is a no-op (backlog already one file)
    assert compact_deletes(spark, t, pass_id="cd-fold2") is None


def test_compact_deletes_stacked_last_wins_and_mixed_backlog(
        spark, tmp_table_root):
    """Stacked generations on the SAME keys keep last-wins through the
    fold, and a raw merge AFTER the fold composes with the folded file
    (mixed backlog: the fixed delete read schema null-fills
    ``__delete_seq`` in the raw file, which coalesces to its file-level
    seq)."""
    from engine.maintain import compact_deletes, rewrite_deletes

    t, df = _setup(spark, tmp_table_root)
    merge_into(spark, t, _sparse_source(spark, t, tag="g1"),
               {"text": "upd_text"}, pass_id="s1", mode="mor")
    merge_into(spark, t, _sparse_source(spark, t, tag="g2"),
               {"text": "upd_text"}, pass_id="s2", mode="mor")
    compact_deletes(spark, t, pass_id="sf")
    out = scan(spark, t)
    assert out.filter("text = 'g2'").count() == 5  # last wins
    assert out.filter("text = 'g1'").count() == 0
    assert out.count() == df.count()

    # raw merge lands on top of the folded file
    merge_into(spark, t, _sparse_source(spark, t, tag="g3"),
               {"text": "upd_text"}, pass_id="s3", mode="mor")
    out = scan(spark, t)
    assert out.filter("text = 'g3'").count() == 5
    assert out.count() == df.count()
    assert scan_stats(t)["delete_files"] == 2
    # fold-of-fold: the mixed backlog folds again
    compact_deletes(spark, t, pass_id="sf2")
    assert scan_stats(t)["delete_files"] == 1
    out = scan(spark, t)
    assert out.filter("text = 'g3'").count() == 5
    assert out.count() == df.count()
    # the major compaction retires the folded backlog cleanly
    rewrite_deletes(spark, t, pass_id="srd")
    assert "delete_files" not in scan_stats(t)
    assert scan(spark, t).filter("text = 'g3'").count() == 5


def test_compact_folds_applied_after_delete_fold(spark, tmp_table_root):
    """Bin-pack compaction over a FOLDED delete backlog: the compacted
    output must apply the folded deletes with their row-level sequences
    (the apply path reads __delete_seq through delete_rows_with_seq)."""
    from engine.maintain import compact_deletes

    t, df = _setup(spark, tmp_table_root, files=8)
    merge_into(spark, t, _sparse_source(spark, t, tag="fc"),
               {"text": "upd_text"}, pass_id="fc1", mode="mor")
    merge_into(spark, t, _sparse_source(spark, t, n=9, tag="fc2"),
               {"text": "upd_text"}, pass_id="fc2", mode="mor")
    compact_deletes(spark, t, pass_id="fcf")
    want = sorted_rows(scan(spark, t))
    snap = compact(spark, t, target_bytes=1 << 30, pass_id="fcc")
    assert snap is not None
    assert sorted_rows(scan(spark, t)) == want
    assert scan(spark, t).filter("text = 'fc2'").count() == 9


def test_serializable_conflicts_on_concurrent_cow_rewrite(spark,
                                                          tmp_table_root,
                                                          monkeypatch):
    """Review fix (r5): serializable isolation must also catch a
    concurrent COPY-ON-WRITE commit (which adds no delete file but
    REPLACES the files this MoR merge planned against) — otherwise the
    MoR merge's stale-derived insert wins by sequence number and the CoW
    merge's update silently reverts."""
    import pytest

    import engine.merge as merge_mod
    from engine.format import CommitConflictError

    t, df = _setup(spark, tmp_table_root)

    real_stage = merge_mod.stage_dataframe
    fired = []

    def stage_then_cow_lands(table, sdf, *a, **kw):
        staged = real_stage(table, sdf, *a, **kw)
        if not fired:
            fired.append(True)
            # concurrent CoW merge replaces the planned files (no delete
            # file committed)
            merge_into(spark, t, _sparse_source(spark, t, tag="cow-won"),
                       {"text": "upd_text"}, pass_id="cw", mode="cow")
        return staged

    monkeypatch.setattr(merge_mod, "stage_dataframe", stage_then_cow_lands)
    with pytest.raises(CommitConflictError):
        merge_into(spark, t, _sparse_source(spark, t, tag="mor-lost"),
                   {"text": "upd_text"}, pass_id="ml", mode="mor",
                   isolation="serializable")
    monkeypatch.setattr(merge_mod, "stage_dataframe", real_stage)

    out = scan(spark, t)
    assert out.filter("text = 'cow-won'").count() == 5
    assert out.filter("text = 'mor-lost'").count() == 0
    assert out.count() == df.count()


def test_folded_backlog_does_not_shadow_newer_appends(spark,
                                                      tmp_table_root):
    """Review fix (r5): shadow-ability uses the row-level sequence
    ceiling. A data file committed AFTER the last real delete generation
    but BEFORE the fold must not be treated as shadowable by the folded
    file's (late) file sequence — rewrite_deletes leaves it untouched."""
    from engine.maintain import compact_deletes

    t, df = _setup(spark, tmp_table_root, files=2)     # base: seq 1
    merge_into(spark, t, _sparse_source(spark, t, tag="g"),  # seq 2
               {"text": "upd_text"}, pass_id="sq-m", mode="mor")
    # same CONV RANGE (so conv_overlap is true) but disjoint keys
    late = (generate_transcripts(spark, num_convs=60)
            .withColumn("turn_idx", F.col("turn_idx") + 1000)
            .withColumn("text", F.concat(F.lit("late-"), F.col("text"))))
    append(t, late, num_files=1)                       # seq 3
    compact_deletes(spark, t, pass_id="sq-f")          # fold: seq 4
    appended = [e.path for e in t.manifest_entries()
                if e.sequence_number == 3]
    want = sorted_rows(scan(spark, t))

    rw = rewrite_deletes(spark, t, pass_id="sq-rw")
    assert rw is not None
    live = {e.path for e in t.manifest_entries()}
    # the seq-3 append survives untouched: no delete ROW (seq ≤ 2) can
    # shadow it, even though the folded FILE carries seq 4
    assert set(appended) <= live
    assert "delete_files" not in scan_stats(t)
    assert sorted_rows(scan(spark, t)) == want
