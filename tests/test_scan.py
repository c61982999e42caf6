"""Manifest-stats file pruning: never wrong, actually prunes."""

from pyspark.sql import functions as F

from engine.format import Table
from engine.scan import Predicate, prune_files, scan
from engine.synth import generate_transcripts
from engine.write import append

from .conftest import sorted_rows


def _table(spark, root):
    df = generate_transcripts(spark, num_convs=60)
    t = Table.create(root)
    append(t, df, num_files=8, range_cols=["conv_id", "turn_idx"],
           sort_cols=["conv_id", "turn_idx"])
    return t, df


def test_pruned_scan_equals_filtered_full_scan(spark, tmp_table_root):
    t, df = _table(spark, tmp_table_root)
    target = "conv-00000007"
    pruned = scan(spark, t, predicates=[Predicate("conv_id", "eq", target)])
    got = sorted_rows(pruned.filter(F.col("conv_id") == target))
    want = sorted_rows(df.filter(F.col("conv_id") == target))
    assert got == want and len(want) > 0


def test_pruning_reduces_file_count(spark, tmp_table_root):
    t, _ = _table(spark, tmp_table_root)
    entries = t.manifest_entries()
    kept = prune_files(entries, [Predicate("conv_id", "eq", "conv-00000007")])
    assert 0 < len(kept) < len(entries)


def test_in_predicate(spark, tmp_table_root):
    t, df = _table(spark, tmp_table_root)
    keys = ["conv-00000001", "conv-00000055"]
    pruned = scan(spark, t, predicates=[Predicate("conv_id", "in", keys)])
    got = pruned.filter(F.col("conv_id").isin(keys)).count()
    assert got == df.filter(F.col("conv_id").isin(keys)).count()


def test_range_predicates_conservative(spark, tmp_table_root):
    t, df = _table(spark, tmp_table_root)
    preds = [Predicate("turn_idx", "ge", 5), Predicate("turn_idx", "le", 6)]
    pruned = scan(spark, t, predicates=preds)
    got = pruned.filter("turn_idx between 5 and 6").count()
    assert got == df.filter("turn_idx between 5 and 6").count()


def test_column_projection(spark, tmp_table_root):
    t, _ = _table(spark, tmp_table_root)
    df = scan(spark, t, columns=["conv_id", "turn_idx"])
    assert df.columns == ["conv_id", "turn_idx"]


def test_incremental_scan_returns_only_new_rows(spark, tmp_table_root):
    from engine.scan import incremental_scan
    t, df = _table(spark, tmp_table_root)
    s1 = t.current_snapshot().snapshot_id
    extra = generate_transcripts(spark, num_convs=70).filter(
        "conv_id >= 'conv-00000060'")
    append(t, extra, num_files=2)
    inc = incremental_scan(spark, t, from_snapshot_id=s1)
    assert sorted_rows(inc) == sorted_rows(extra)
    # empty diff between identical snapshots
    s2 = t.current_snapshot().snapshot_id
    assert incremental_scan(spark, t, s2, s2).count() == 0


def test_synth_is_partition_independent(spark):
    a = generate_transcripts(spark, num_convs=25)
    b = generate_transcripts(spark, num_convs=25).repartition(13)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_time_travel_as_of_timestamp(spark, tmp_table_root):
    """FOR TIMESTAMP AS OF: scans pin the latest snapshot committed at or
    before the given time — including across a merge-on-read commit, whose
    delete files must not leak backwards in time."""
    import pytest
    from pyspark.sql import functions as F

    from engine.merge import merge_into

    df = generate_transcripts(spark, num_convs=20)
    t = Table.create(tmp_table_root)
    append(t, df, num_files=2, range_cols=["conv_id", "turn_idx"])
    s1 = t.current_snapshot()
    rows_v1 = sorted([tuple(r) for r in scan(spark, t).collect()])

    src = (scan(spark, t).select("conv_id", "turn_idx")
           .orderBy("conv_id", "turn_idx").limit(3)
           .withColumn("upd_text", F.lit("edited")))
    merge_into(spark, t, src, {"text": "upd_text"}, pass_id="tt1",
               mode="mor")
    s2 = t.current_snapshot()

    assert sorted([tuple(r) for r in
                   scan(spark, t, as_of_ms=s1.timestamp_ms).collect()]) \
        == rows_v1
    at_s2 = scan(spark, t, as_of_ms=s2.timestamp_ms)
    assert at_s2.filter("text = 'edited'").count() == 3
    with pytest.raises(KeyError):
        t.snapshot_as_of(s1.timestamp_ms - 10_000)
    with pytest.raises(ValueError):
        scan(spark, t, snapshot_id=s1.snapshot_id,
             as_of_ms=s1.timestamp_ms)


def test_changes_between_row_level_cdc(spark, tmp_table_root):
    """Row-level CDC (Iceberg changelog / Delta CDF analog): a sparse MoR
    merge diffs to exactly its updated rows; an append diffs to inserts;
    pure layout changes (compaction) diff to ZERO rows; and the sparse diff
    never scans unchanged-and-unshadowed files."""
    from pyspark.sql import functions as F

    from engine.maintain import compact
    from engine.merge import merge_into
    from engine.scan import changes_between

    df = generate_transcripts(spark, num_convs=40)
    t = Table.create(tmp_table_root)
    append(t, df, num_files=4, range_cols=["conv_id", "turn_idx"],
           sort_cols=["conv_id", "turn_idx"])
    s1 = t.current_snapshot().snapshot_id

    src = (scan(spark, t).select("conv_id", "turn_idx")
           .orderBy("conv_id", "turn_idx").limit(3)
           .withColumn("upd_text", F.lit("edited")))
    merge_into(spark, t, src, {"text": "upd_text"}, pass_id="cdc1",
               mode="mor")
    s2 = t.current_snapshot().snapshot_id
    ch = changes_between(spark, t, s1, s2)
    rows = ch.collect()
    assert len(rows) == 3
    assert all(r["_change"] == "update" and r["text"] == "edited"
               for r in rows)

    # append → inserts only
    extra = (generate_transcripts(spark, num_convs=2)
             .withColumn("conv_id", F.concat(F.lit("zz-"),
                                             F.col("conv_id"))))
    n_extra = extra.count()
    append(t, extra, num_files=1)
    s3 = t.current_snapshot().snapshot_id
    ch2 = changes_between(spark, t, s2, s3)
    assert ch2.count() == n_extra
    assert ch2.filter("_change <> 'insert'").count() == 0

    # pure layout change → empty diff
    compact(spark, t, target_bytes=1 << 30, pass_id="cdc-c")
    s4 = t.current_snapshot().snapshot_id
    assert changes_between(spark, t, s3, s4).count() == 0
    # cumulative: s1 → current covers both the update and the insert
    cum = changes_between(spark, t, s1, s4)
    assert cum.filter("_change = 'update'").count() == 3
    assert cum.filter("_change = 'insert'").count() == n_extra


def test_manifest_list_pruning_skips_whole_manifests(spark, tmp_table_root):
    """Two-level scan planning (VERDICT r5 task #1): after
    ``rewrite_manifests`` regroups entries into conv-sorted manifests,
    a conv-predicate scan must open ONLY the manifests whose summary
    range overlaps the predicate — counted via ``Table.manifest_opens`` —
    with output identical to the unpruned scan."""
    from engine.maintain import rewrite_manifests

    df = generate_transcripts(spark, num_convs=120)
    t = Table.create(tmp_table_root)
    append(t, df, num_files=24, range_cols=["conv_id", "turn_idx"],
           sort_cols=["conv_id", "turn_idx"])
    rewrite_manifests(t, entries_per_manifest=4)  # 6 conv-banded manifests
    snap = t.current_snapshot()
    n_manifests = len(snap.manifests)
    assert n_manifests >= 5
    assert set(snap.manifest_meta) == set(snap.manifests)
    for md in snap.manifest_meta.values():
        assert "conv_id" in md["ranges"]

    target = "conv-00000042"
    preds = [Predicate("conv_id", "eq", target)]
    t.manifest_opens = 0
    pruned = scan(spark, t, predicates=preds).filter(
        F.col("conv_id") == target)
    opens_pruned = t.manifest_opens
    rows = sorted_rows(pruned, cols=("conv_id", "turn_idx", "text"))
    assert opens_pruned < n_manifests, (opens_pruned, n_manifests)
    assert opens_pruned <= 2  # one conv lives in 1 band (2 if on a cut)

    t.manifest_opens = 0
    full = scan(spark, t).filter(F.col("conv_id") == target)
    assert t.manifest_opens == n_manifests  # the unpredicated scan opens all
    assert rows == sorted_rows(full, cols=("conv_id", "turn_idx", "text"))
    assert len(rows) > 0

    # IN-predicates across two bands open at most the overlapping bands
    preds_in = [Predicate("conv_id", "in",
                          sorted(["conv-00000003", "conv-00000117"]))]
    t.manifest_opens = 0
    two = scan(spark, t, predicates=preds_in).filter(
        F.col("conv_id").isin("conv-00000003", "conv-00000117"))
    got = sorted_rows(two, cols=("conv_id", "turn_idx"))
    assert t.manifest_opens <= 4
    want = sorted_rows(
        scan(spark, t).filter(F.col("conv_id").isin(
            "conv-00000003", "conv-00000117")), cols=("conv_id", "turn_idx"))
    assert got == want


def test_manifest_list_pruning_mor_and_legacy(spark, tmp_table_root):
    """Manifest-list pruning composes with merge-on-read (delete manifests
    skipped for data reads and pruned by predicate for delete reads) and
    degrades safely for legacy snapshots without summaries (opens all)."""
    from engine.maintain import rewrite_manifests
    from engine.merge import merge_into

    df = generate_transcripts(spark, num_convs=60)
    t = Table.create(tmp_table_root)
    append(t, df, num_files=12, range_cols=["conv_id", "turn_idx"],
           sort_cols=["conv_id", "turn_idx"])
    rewrite_manifests(t, entries_per_manifest=3)
    # sparse MoR merge on one conversation → adds a delete+insert manifest
    src = (scan(spark, t).filter("conv_id = 'conv-00000010'")
           .select("conv_id", "turn_idx").orderBy("turn_idx").limit(2)
           .withColumn("upd_text", F.lit("edited")))
    merge_into(spark, t, src, {"text": "upd_text"}, pass_id="mlm",
               mode="mor")
    snap = t.current_snapshot()

    # a scan far from the merge's conv range must not open the delete
    # manifest (its conv range excludes the predicate)
    preds = [Predicate("conv_id", "eq", "conv-00000055")]
    out = scan(spark, t, predicates=preds)
    assert out.filter("text = 'edited'").count() == 0
    # the merged row is still served correctly through the pruned path
    hit = scan(spark, t, predicates=[
        Predicate("conv_id", "eq", "conv-00000010")])
    assert hit.filter("text = 'edited'").count() == 2

    # legacy degradation: strip the summaries — everything still works,
    # every manifest is opened (the pre-upgrade behavior)
    meta = t.load_metadata()
    for s in meta["snapshots"]:
        s.pop("manifest_meta", None)
    meta["version"] += 1
    t._write_version(meta["version"], meta)
    t2 = Table(tmp_table_root)
    t2.manifest_opens = 0
    legacy = scan(spark, t2, predicates=preds)
    assert sorted_rows(legacy, cols=("conv_id", "turn_idx", "text")) == \
        sorted_rows(out, cols=("conv_id", "turn_idx", "text"))
    # without summaries both planning passes (data + deletes) open every
    # manifest — the exact pre-upgrade cost the summaries remove
    assert t2.manifest_opens == 2 * len(t2.current_snapshot().manifests)


def test_changes_between_preimages(spark, tmp_table_root):
    """CDC pre-images (VERDICT r5 task #5): with include_preimages=True,
    every update carries an 'update_preimage' row with the OLD values next
    to the 'update' postimage, and delete rows carry the old payload
    instead of nulls — for both MoR and CoW merge paths. Default output is
    unchanged, and a replay ignoring preimages converges identically."""
    from engine.merge import delete_where, merge_into
    from engine.scan import changes_between

    df = generate_transcripts(spark, num_convs=20)
    t = Table.create(tmp_table_root)
    append(t, df, num_files=2, range_cols=["conv_id", "turn_idx"])
    s0 = t.current_snapshot().snapshot_id

    def _edit(pid, mode, tag):
        src = (scan(spark, t).filter("conv_id = 'conv-00000003'")
               .select("conv_id", "turn_idx").orderBy("turn_idx").limit(2)
               .withColumn("upd_text", F.lit(tag)))
        merge_into(spark, t, src, {"text": "upd_text"}, pass_id=pid,
                   mode=mode)

    _edit("cdc-mor", "mor", "edit-mor")
    s1 = t.current_snapshot().snapshot_id
    _edit("cdc-cow", "cow", "edit-cow")
    s2 = t.current_snapshot().snapshot_id

    for frm, to, tag in ((s0, s1, "edit-mor"), (s1, s2, "edit-cow")):
        diff = changes_between(spark, t, frm, to, include_preimages=True)
        rows = diff.collect()
        pre = [r for r in rows if r["_change"] == "update_preimage"]
        post = [r for r in rows if r["_change"] == "update"]
        assert len(pre) == len(post) == 2, (tag, rows)
        # preimage carries the OLD text, postimage the new; keys pair up
        assert {(r["conv_id"], r["turn_idx"]) for r in pre} == \
            {(r["conv_id"], r["turn_idx"]) for r in post}
        assert all(r["text"] == tag for r in post)
        assert all(r["text"] != tag and r["text"] is not None for r in pre)
        # the default shape is untouched (no preimages)
        d0 = changes_between(spark, t, frm, to)
        assert d0.filter("_change = 'update_preimage'").count() == 0
        assert d0.filter("_change = 'update'").count() == 2

    # deletes: old payload filled under the flag, null without
    from engine.scan import Predicate
    delete_where(spark, t, [Predicate("conv_id", "eq", "conv-00000007")],
                 pass_id="cdc-del")
    s3 = t.current_snapshot().snapshot_id
    d = changes_between(spark, t, s2, s3, include_preimages=True)
    dels = d.filter("_change = 'delete'")
    n_del = dels.count()
    assert n_del > 0
    assert dels.filter("text is null").count() == 0
    plain = changes_between(spark, t, s2, s3)
    assert plain.filter("_change = 'delete' and text is not null") \
                .count() == 0
    assert plain.filter("_change = 'delete'").count() == n_del

    # replay ignoring preimages converges to the live table
    replay = changes_between(spark, t, s0, s3, include_preimages=True)
    applied = (scan(spark, t, snapshot_id=s0)
               .join(replay.filter("_change in ('update','delete')")
                     .select("conv_id", "turn_idx"),
                     ["conv_id", "turn_idx"], "left_anti")
               .unionByName(
                   replay.filter("_change in ('insert','update')")
                   .drop("_change")))
    assert sorted_rows(applied, cols=("conv_id", "turn_idx", "text")) == \
        sorted_rows(scan(spark, t), cols=("conv_id", "turn_idx", "text"))


def test_manifest_list_shadow_pruning_skips_fresh_manifests(
        spark, tmp_table_root):
    """rewrite_deletes planning must not OPEN data manifests whose min_seq
    is at/above the backlog's max delete sequence (nothing in them is
    shadowable) — the del_max_seq manifest-list summary supplies the
    threshold without consulting a delete manifest."""
    from engine.maintain import rewrite_manifests, rewrite_deletes
    from engine.merge import merge_into

    df = generate_transcripts(spark, num_convs=30)
    t = Table.create(tmp_table_root)
    append(t, df, num_files=4, range_cols=["conv_id", "turn_idx"])
    # a sparse MoR merge -> one equality-delete file (seq = its snapshot)
    src = (scan(spark, t).select("conv_id", "turn_idx")
           .orderBy("conv_id", "turn_idx").limit(2)
           .withColumn("upd_text", F.lit("sp")))
    merge_into(spark, t, src, {"text": "upd_text"}, pass_id="sp-m",
               mode="mor")
    del_seq = t.current_snapshot().snapshot_id
    # APPEND-ONLY commits after the delete: their files carry newer seqs
    extra = (generate_transcripts(spark, num_convs=5)
             .withColumn("conv_id",
                         F.concat(F.lit("zz-"), F.col("conv_id"))))
    for _ in range(2):
        append(t, extra, num_files=2, range_cols=["conv_id", "turn_idx"])
    # one manifest per entry so the skip is visible in open counts
    rewrite_manifests(t, entries_per_manifest=1)
    snap = t.current_snapshot()
    fresh = sum(1 for mf in snap.manifests
                if (snap.manifest_meta.get(mf) or {}).get("data", 0)
                and snap.manifest_meta[mf]["min_seq"] >= del_seq)
    assert fresh >= 4  # the two post-delete appends
    want = sorted_rows(scan(spark, t))

    t2 = Table(t.root)
    t2.manifest_opens = 0
    snap2 = rewrite_deletes(spark, t2, pass_id="sp-rw")
    assert snap2 is not None
    total = len(snap.manifests)
    # the deletes read opens delete manifests only; the data read skips
    # every fresh manifest — strictly fewer opens than two full walks
    assert t2.manifest_opens <= 2 * total - fresh, (
        t2.manifest_opens, total, fresh)
    assert sorted_rows(scan(spark, t)) == want


def test_scan_shapes_launch_no_spark_job(spark, tmp_table_root):
    """Every table read passes an explicit schema to Spark, so building a
    scan's frame launches no job (no footer-inference job), for plain,
    point, empty, merge-on-read (both halves of the old/new delete split),
    time-travel, tag and branch reads — and each frame's schema equals a
    footer-inferring read's."""
    from engine.merge import merge_into
    from engine.scan import delete_min_seq

    from .conftest import inferred_scan_schema, spark_jobs

    t, df = _table(spark, tmp_table_root)
    s1 = t.current_snapshot()
    t.create_tag("v1", s1.snapshot_id)
    t.create_branch("audit")
    extra = (generate_transcripts(spark, num_convs=3)
             .withColumn("conv_id", F.concat(F.lit("b-"), F.col("conv_id"))))
    append(t, extra, num_files=1, branch="audit")
    src = (scan(spark, t).select("conv_id", "turn_idx")
           .orderBy("conv_id", "turn_idx").limit(3)
           .withColumn("upd_text", F.lit("edited")))
    merge_into(spark, t, src, {"text": "upd_text"}, pass_id="nj1",
               mode="mor")
    head = t.current_snapshot()
    dels = t.manifest_entries(head, content="deletes")
    min_del = min(delete_min_seq(d) for d in dels)
    seqs = {e.sequence_number for e in t.manifest_entries(head)}
    assert min(seqs) < min_del <= max(seqs)  # both halves of the split

    live = t.load_metadata()
    hit = Predicate("conv_id", "eq", "conv-00000000")
    miss = Predicate("conv_id", "eq", "zzz")
    shapes = {
        "head-mor": (lambda: scan(spark, t), head),
        "point-mor": (lambda: scan(spark, t, predicates=[hit]), head),
        "empty": (lambda: scan(spark, t, predicates=[miss]), head),
        "snapshot_id": (lambda: scan(spark, t, snapshot_id=s1.snapshot_id),
                        s1),
        "as_of": (lambda: scan(spark, t, as_of_ms=s1.timestamp_ms), s1),
        "tag": (lambda: scan(spark, t, ref="v1"), s1),
        "branch": (lambda: scan(spark, t, ref="audit"),
                   t.ref_snapshot("audit")),
    }
    for name, (read, snap) in shapes.items():
        out, jobs = spark_jobs(spark, read)
        assert jobs == 0, (name, jobs)
        assert out.schema == inferred_scan_schema(spark, t, snap, live), name
    assert scan(spark, t, ref="audit").count() == df.count() + extra.count()
    assert scan(spark, t).filter("text = 'edited'").count() == 3
    assert scan(spark, t, predicates=[miss]).count() == 0


def test_point_read_runs_only_the_count_jobs(spark, tmp_table_root):
    """A conv_id point read costs exactly the jobs of its count: the scan
    adds none (re-counting the same frame launches the same jobs)."""
    from .conftest import spark_jobs

    t, df = _table(spark, tmp_table_root)
    p = Predicate("conv_id", "eq", "conv-00000007")
    n, total = spark_jobs(
        spark, lambda: scan(spark, t, predicates=[p])
        .filter(p.to_column()).count())
    frame = scan(spark, t, predicates=[p]).filter(p.to_column())
    again, count_only = spark_jobs(spark, frame.count)
    assert n == again == df.filter(p.to_column()).count() > 0
    assert total == count_only > 0
