"""The one commit protocol (``engine.checkpoint.run_rewrite``) under crashes:
every checkpointed rewrite path is killed before its snapshot swap and
between its commit and its finalize record; a rerun with the same pass_id
must converge to the uninterrupted result without a second snapshot."""

import pytest
from pyspark.sql import functions as F

from engine.checkpoint import CheckpointLog
from engine.format import Table
from engine.maintain import cluster, compact, compact_deletes, rewrite_deletes
from engine.merge import delete_where, impute_merge, merge_into
from engine.scan import Predicate, scan, scan_stats
from engine.synth import generate_transcripts, inject_missing
from engine.write import append

from .conftest import sorted_rows


def _table(spark, root, convs=30, files=8, masked=False):
    df = generate_transcripts(spark, num_convs=convs)
    if masked:
        df, _ = inject_missing(df)
    t = Table.create(root)
    append(t, df, num_files=files, range_cols=["conv_id", "turn_idx"],
           sort_cols=["conv_id", "turn_idx"])
    return t


def _mor_edit(spark, t, tag, n=5):
    src = (scan(spark, t).select("conv_id", "turn_idx")
           .orderBy("conv_id", "turn_idx").limit(n)
           .withColumn("upd_text", F.lit(tag)))
    merge_into(spark, t, src, {"text": "upd_text"}, pass_id=f"pre-{tag}",
               mode="mor")


def _with_backlog(generations):
    def setup(spark, root):
        t = _table(spark, root)
        for g in range(generations):
            _mor_edit(spark, t, f"gen{g}")
        return t
    return setup


def _edit_source(spark):
    return (spark.createDataFrame(
        [("conv-00000001", 0), ("conv-00000002", 1)],
        "conv_id string, turn_idx int")
        .withColumn("upd_text", F.lit("edited")))


# path → (table setup, the rewrite under test, its snapshot operation)
PATHS = {
    "merge-cow": (lambda spark, root: _table(spark, root, convs=40,
                                             masked=True),
                  lambda spark, t, pid: impute_merge(spark, t, pass_id=pid),
                  "merge"),
    "merge-mor": (_table,
                  lambda spark, t, pid: merge_into(
                      spark, t, _edit_source(spark), {"text": "upd_text"},
                      pass_id=pid, mode="mor"),
                  "merge"),
    "delete-cow": (_table,
                   lambda spark, t, pid: delete_where(
                       spark, t, [Predicate("turn_idx", "le", 1)],
                       pass_id=pid, mode="cow"),
                   "delete"),
    "delete-mor": (_table,
                   lambda spark, t, pid: delete_where(
                       spark, t, [Predicate("turn_idx", "le", 1)],
                       pass_id=pid, mode="mor"),
                   "delete"),
    "compact": (lambda spark, root: _table(spark, root, files=16),
                lambda spark, t, pid: compact(spark, t, target_bytes=1 << 20,
                                              pass_id=pid),
                "compact"),
    "compact-deletes": (_with_backlog(2),
                        lambda spark, t, pid: compact_deletes(
                            spark, t, pass_id=pid),
                        "compact-deletes"),
    "rewrite-deletes": (_with_backlog(1),
                        lambda spark, t, pid: rewrite_deletes(
                            spark, t, pass_id=pid),
                        "rewrite-deletes"),
    "cluster": (_table,
                lambda spark, t, pid: cluster(spark, t, "zorder",
                                              target_bytes=1 << 18,
                                              pass_id=pid),
                "cluster-zorder"),
}


@pytest.mark.parametrize("crash", ["commit", "finalize"])
@pytest.mark.parametrize("path", list(PATHS))
def test_crash_resume_matches_uninterrupted(spark, tmp_path, monkeypatch,
                                            path, crash):
    """``commit``: the snapshot swap raises — the rerun commits the
    recorded request without restaging. ``finalize``: the commit lands but
    the finalize record is lost — the rerun adopts that snapshot instead
    of committing a second one. Either way the rows equal a twin table
    that ran the same pass uninterrupted."""
    setup, run, operation = PATHS[path]
    t = setup(spark, str(tmp_path / "crashed"))
    twin = setup(spark, str(tmp_path / "twin"))
    n_before = len(t.snapshots())
    calls = {"n": 0}

    def explode(*a, **k):
        calls["n"] += 1
        raise RuntimeError(f"simulated crash at {crash}")

    if crash == "commit":
        monkeypatch.setattr(Table, "commit", explode)
    else:
        monkeypatch.setattr(CheckpointLog, "finalize", explode)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run(spark, t, "crashy")
    monkeypatch.undo()
    assert calls["n"] == 1
    assert len(t.snapshots()) == n_before + (crash == "finalize")
    committed = t.current_snapshot()

    snap = run(spark, t, "crashy")
    assert snap.operation == operation
    assert len(t.snapshots()) == n_before + 1  # no second commit
    if crash == "finalize":
        assert snap.snapshot_id == committed.snapshot_id  # adopted
    run(spark, twin, "clean")
    assert sorted_rows(scan(spark, t)) == sorted_rows(scan(spark, twin))
    if path == "rewrite-deletes":
        assert "delete_files" not in scan_stats(t)
    # the pass is finalized: one more rerun is a no-op
    assert run(spark, t, "crashy").snapshot_id == snap.snapshot_id
    assert len(t.snapshots()) == n_before + 1


def test_adoption_requires_the_same_operation(spark, tmp_table_root):
    """Pass ids are caller-chosen: a cluster pass reusing a compaction's
    pass_id must cluster the table, not adopt the compaction's snapshot as
    its own crashed commit."""
    t = _table(spark, tmp_table_root, files=16)
    compact(spark, t, target_bytes=1 << 20, pass_id="x")
    snap = cluster(spark, t, "zorder", target_bytes=1 << 18, pass_id="x")
    assert snap.operation == "cluster-zorder"
    assert [s.operation for s in t.snapshots()] == [
        "append", "compact", "cluster-zorder"]
