"""Additive schema evolution (VERDICT r4 task #4): add_column is
metadata-only; old files are reconciled at scan (explicit read schema + typed
null fill, no stats → no pruning); MERGE and appends write the new column.
Reference anchor: ragged per-table headers tolerated by
``codes/classification/create_feats_labels.py:70-88``."""

import pytest
from pyspark.sql import functions as F

from engine.format import Table
from engine.merge import merge_into
from engine.scan import Predicate, scan
from engine.synth import generate_transcripts
from engine.write import append

from .conftest import sorted_rows


def _setup(spark, root, convs=40, files=4):
    df = generate_transcripts(spark, num_convs=convs)
    t = Table.create(root)
    append(t, df, num_files=files, range_cols=["conv_id", "turn_idx"],
           sort_cols=["conv_id", "turn_idx"])
    return t, df


def test_add_column_is_metadata_only_and_scan_null_fills(spark,
                                                         tmp_table_root):
    t, df = _setup(spark, tmp_table_root)
    files_before = {e.path for e in t.manifest_entries(content="all")}
    sid_before = t.current_snapshot().snapshot_id

    t.add_column("quality", "double")

    # metadata-only: no data file touched, no snapshot committed
    assert {e.path for e in t.manifest_entries(content="all")} == files_before
    assert t.current_snapshot().snapshot_id == sid_before
    assert [a["name"] for a in t.schema_adds()] == ["quality"]

    out = scan(spark, t)
    assert "quality" in out.columns
    assert dict(out.dtypes)["quality"] == "double"
    assert out.filter("quality is not null").count() == 0
    assert out.count() == df.count()

    # duplicate and physically-existing names are rejected
    with pytest.raises(ValueError):
        t.add_column("quality", "string")
    with pytest.raises(ValueError):
        t.add_column("text", "string")


def test_merge_writes_added_column_old_and_new_unified(spark,
                                                       tmp_table_root):
    """append → add_column → MERGE writes the new column → scan shows old
    rows as nulls and merged rows valued, across both CoW and MoR."""
    t, df = _setup(spark, tmp_table_root)
    t.add_column("quality", "double")
    total = df.count()

    keys = (scan(spark, t).select("conv_id", "turn_idx")
            .orderBy("conv_id", "turn_idx").limit(5))
    src = keys.withColumn("upd_quality", F.lit(0.75))
    merge_into(spark, t, src, {"quality": "upd_quality"},
               pass_id="sq-mor", mode="mor")
    out = scan(spark, t)
    assert out.count() == total
    assert out.filter("quality = 0.75").count() == 5
    assert out.filter("quality is null").count() == total - 5

    # CoW over the mixed table (pre-add base files + post-add insert file)
    keys2 = (scan(spark, t).select("conv_id", "turn_idx")
             .orderBy(F.desc("conv_id"), F.desc("turn_idx")).limit(7))
    src2 = keys2.withColumn("upd_quality", F.lit(0.25))
    merge_into(spark, t, src2, {"quality": "upd_quality"},
               pass_id="sq-cow", mode="cow")
    out = scan(spark, t)
    assert out.count() == total
    assert out.filter("quality = 0.75").count() == 5
    assert out.filter("quality = 0.25").count() == 7


def test_compact_preserves_added_column_across_mixed_group(spark,
                                                           tmp_table_root):
    """A bin-pack group mixing pre-add and post-add files must keep the
    evolved column (one explicit read schema for the whole compaction)."""
    from engine.maintain import compact

    t, df = _setup(spark, tmp_table_root, files=3)
    t.add_column("lang", "string")
    extra = (generate_transcripts(spark, num_convs=10)
             .withColumn("conv_id", F.concat(F.lit("zz-"), F.col("conv_id")))
             .withColumn("lang", F.lit("en")))
    append(t, extra, num_files=2)
    n_extra = extra.count()
    want = sorted_rows(scan(spark, t))

    snap = compact(spark, t, target_bytes=1 << 30, pass_id="sq-cp")
    assert snap is not None
    out = scan(spark, t)
    assert sorted_rows(out) == want
    assert out.filter("lang = 'en'").count() == n_extra
    assert out.filter("lang is null").count() == df.count()


def test_added_column_predicate_is_conservative_on_old_files(spark,
                                                             tmp_table_root):
    """Old files carry no stats for the added column → pruning keeps them
    (conservative), and a value predicate still evaluates row-level."""
    t, df = _setup(spark, tmp_table_root)
    t.add_column("quality", "double")
    src = (scan(spark, t).select("conv_id", "turn_idx")
           .orderBy("conv_id", "turn_idx").limit(3)
           .withColumn("upd_quality", F.lit(0.9)))
    merge_into(spark, t, src, {"quality": "upd_quality"},
               pass_id="sq-p", mode="mor")
    out = scan(spark, t, predicates=[Predicate("quality", "ge", 0.5)])
    assert out.filter("quality >= 0.5").count() == 3


def test_cdc_and_incremental_scan_after_evolution(spark, tmp_table_root):
    """changes_between across an add_column + MoR merge stays exact: both
    sides read through the reconciliation path, so the only diffs are the
    merged rows."""
    from engine.scan import changes_between, incremental_scan

    t, df = _setup(spark, tmp_table_root)
    s0 = t.current_snapshot().snapshot_id
    t.add_column("quality", "double")
    src = (scan(spark, t).select("conv_id", "turn_idx")
           .orderBy("conv_id", "turn_idx").limit(4)
           .withColumn("upd_quality", F.lit(1.0)))
    merge_into(spark, t, src, {"quality": "upd_quality"},
               pass_id="sq-cdc", mode="mor")
    ch = changes_between(spark, t, s0).collect()
    assert len(ch) == 4
    assert {r["_change"] for r in ch} == {"update"}
    assert all(r["quality"] == 1.0 for r in ch)
    inc = incremental_scan(spark, t, s0)
    assert "quality" in inc.columns
    assert inc.count() == 4


def test_add_column_rejects_statless_live_column_and_reserved(spark,
                                                              tmp_table_root):
    """ADVICE r5: a live physical column whose parquet footers carry no
    statistics (e.g. all-null) is invisible to the manifest-stats 'taken'
    check — add_column must still reject it (one representative footer
    read closes the gap). Engine-internal __-prefixed names are reserved."""
    import pytest
    from pyspark.sql import functions as F

    df = (generate_transcripts(spark, num_convs=5)
          .withColumn("ghost", F.lit(None).cast("string")))
    t = Table.create(tmp_table_root)
    append(t, df, num_files=1)
    # 'ghost' is all-null: parquet writes no min/max for it, so manifest
    # stats alone cannot see it — the footer check must
    assert "ghost" not in {k for e in t.manifest_entries()
                           for k in e.stats if "min" in e.stats[k]}
    with pytest.raises(ValueError, match="already exists"):
        t.add_column("ghost", "double")
    with pytest.raises(ValueError, match="reserved"):
        t.add_column("__internal", "string")


def test_rename_column_metadata_only_maps_old_data(spark, tmp_table_root):
    """Column-id evolution (VERDICT r5 task #4): rename is metadata-only —
    the scan shows the NEW name carrying the OLD files' data; mixed
    pre/post-rename files coalesce; writes after the rename use the new
    name; compaction physically migrates."""
    import os

    import pyarrow.parquet as pq

    from engine.maintain import compact

    t, df = _setup(spark, tmp_table_root, convs=20, files=2)
    t.add_column("quality", "double")
    # era 2: files that physically carry 'quality'
    b2 = (generate_transcripts(spark, num_convs=4)
          .withColumn("conv_id", F.concat(F.lit("q-"), F.col("conv_id")))
          .withColumn("quality", F.lit(0.5)))
    append(t, b2, num_files=1)
    files_before = {e.path for e in t.manifest_entries(content="all")}

    t.rename_column("quality", "q_score")
    # metadata-only: same files, no new snapshot
    assert {e.path
            for e in t.manifest_entries(content="all")} == files_before
    out = scan(spark, t)
    assert "q_score" in out.columns and "quality" not in out.columns
    assert out.filter("q_score = 0.5").count() == b2.count()
    assert out.filter("q_score is null").count() == df.count()

    # era 3: writes under the NEW name — three physical eras coexist
    b3 = (generate_transcripts(spark, num_convs=3)
          .withColumn("conv_id", F.concat(F.lit("r-"), F.col("conv_id")))
          .withColumn("q_score", F.lit(0.9)))
    append(t, b3, num_files=1)
    out = scan(spark, t)
    assert out.filter("q_score = 0.9").count() == b3.count()
    assert out.filter("q_score = 0.5").count() == b2.count()
    want = sorted_rows(out, cols=("conv_id", "turn_idx", "q_score"))

    # compaction over all three eras: byte-identical output, and the
    # rewritten files physically carry 'q_score' (migration rode along)
    snap = compact(spark, t, target_bytes=1 << 30, pass_id="evo-cmp")
    assert snap is not None
    assert sorted_rows(scan(spark, t),
                       cols=("conv_id", "turn_idx", "q_score")) == want
    for e in t.manifest_entries():
        if e.sequence_number == snap.snapshot_id:
            names = pq.ParquetFile(
                os.path.join(t.root, e.path)).schema_arrow.names
            assert "q_score" in names and "quality" not in names

    # guard rails: core columns are fixed; historical names never reused
    with pytest.raises(ValueError, match="fixed"):
        t.rename_column("conv_id", "conversation")
    with pytest.raises(ValueError, match="never reused"):
        t.rename_column("q_score", "quality")
    with pytest.raises(ValueError, match="already exists"):
        t.add_column("quality", "string")


def test_drop_column_hides_then_compaction_sheds(spark, tmp_table_root):
    """drop_column hides the id from every scan immediately (metadata
    only); the next compaction physically sheds the bytes. MERGE and CDC
    on the evolved table are unaffected."""
    import os

    import pyarrow.parquet as pq

    from engine.maintain import compact
    from engine.scan import changes_between

    t, df = _setup(spark, tmp_table_root, convs=15, files=2)
    t.add_column("tmp_label", "string")
    b2 = (generate_transcripts(spark, num_convs=3)
          .withColumn("conv_id", F.concat(F.lit("l-"), F.col("conv_id")))
          .withColumn("tmp_label", F.lit("x")))
    append(t, b2, num_files=1)
    assert scan(spark, t).filter("tmp_label = 'x'").count() == b2.count()

    t.drop_column("tmp_label")
    out = scan(spark, t)
    assert "tmp_label" not in out.columns
    base = sorted_rows(out, cols=("conv_id", "turn_idx", "text"))

    # MERGE on the evolved table (mixed files, dropped column present
    # physically in one era) — CDC shows exactly the merged rows
    s0 = t.current_snapshot().snapshot_id
    src = (scan(spark, t).select("conv_id", "turn_idx")
           .orderBy("conv_id", "turn_idx").limit(2)
           .withColumn("upd_text", F.lit("evolved-edit")))
    merge_into(spark, t, src, {"text": "upd_text"}, pass_id="evo-m",
               mode="cow")
    diff = changes_between(spark, t, s0)
    assert "tmp_label" not in diff.columns
    assert diff.filter("_change = 'update'").count() == 2
    assert diff.filter("_change in ('insert','delete')").count() == 0

    snap = compact(spark, t, target_bytes=1 << 30, pass_id="evo-cmp2")
    assert snap is not None
    for e in t.manifest_entries():
        if e.sequence_number == snap.snapshot_id:
            names = pq.ParquetFile(
                os.path.join(t.root, e.path)).schema_arrow.names
            assert "tmp_label" not in names
    got = sorted_rows(scan(spark, t), cols=("conv_id", "turn_idx", "text"))
    assert len(got) == len(base)
    with pytest.raises(KeyError):
        t.drop_column("tmp_label")   # already dropped
    with pytest.raises(ValueError, match="already exists"):
        t.add_column("tmp_label", "double")  # name stays reserved


def test_widen_column_metadata_only_upcasts_old_files(spark,
                                                      tmp_table_root):
    """Type widening (the 'widen' leg of VERDICT r5 task #4): int→bigint /
    float→double are metadata-only — old narrow files upcast at scan via
    the registry-derived explicit read schema (plain mergeSchema refuses
    mixed-width footers), values beyond the narrow range land after the
    widen, MERGE works across eras, compaction migrates physically, and
    widen composes with rename."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from engine.maintain import compact

    t, df = _setup(spark, tmp_table_root, convs=20, files=2)
    t.add_column("score", "int")
    b2 = (generate_transcripts(spark, num_convs=4)
          .withColumn("conv_id", F.concat(F.lit("w-"), F.col("conv_id")))
          .withColumn("score", F.lit(7).cast("int")))
    append(t, b2, num_files=1)
    files_before = {e.path for e in t.manifest_entries(content="all")}
    sid_before = t.current_snapshot().snapshot_id

    t.widen_column("score", "bigint")
    # metadata-only: no file touched, no snapshot committed
    assert {e.path
            for e in t.manifest_entries(content="all")} == files_before
    assert t.current_snapshot().snapshot_id == sid_before
    out = scan(spark, t)
    assert dict(out.dtypes)["score"] == "bigint"
    assert out.filter("score = 7").count() == b2.count()
    assert out.filter("score is null").count() == df.count()

    # era 3: values only the WIDE type can carry
    big = 5_000_000_000
    b3 = (generate_transcripts(spark, num_convs=3)
          .withColumn("conv_id", F.concat(F.lit("x-"), F.col("conv_id")))
          .withColumn("score", F.lit(big).cast("bigint")))
    append(t, b3, num_files=1)
    out = scan(spark, t)
    assert out.filter(f"score = {big}").count() == b3.count()
    assert out.filter("score = 7").count() == b2.count()

    # MERGE over mixed narrow/wide eras (MoR: insert file is wide)
    src = (scan(spark, t).filter("score = 7")
           .select("conv_id", "turn_idx").orderBy("conv_id", "turn_idx")
           .limit(2).withColumn("upd_score", F.lit(big + 1)))
    merge_into(spark, t, src, {"score": "upd_score"}, pass_id="wd-m",
               mode="mor")
    out = scan(spark, t)
    assert out.filter(f"score = {big + 1}").count() == 2
    assert out.filter("score = 7").count() == b2.count() - 2
    want = sorted_rows(out, cols=("conv_id", "turn_idx", "score"))

    # compaction migrates the physical type as it rewrites
    snap = compact(spark, t, target_bytes=1 << 30, pass_id="wd-cmp")
    assert snap is not None
    assert sorted_rows(scan(spark, t),
                       cols=("conv_id", "turn_idx", "score")) == want
    for e in t.manifest_entries():
        if e.sequence_number == snap.snapshot_id:
            sch = pq.ParquetFile(
                os.path.join(t.root, e.path)).schema_arrow
            assert pa.types.is_int64(sch.field("score").type)

    # guard rails: no narrowing, no core columns; idempotent re-widen
    with pytest.raises(ValueError, match="widen"):
        t.widen_column("score", "int")
    with pytest.raises(ValueError, match="fixed"):
        t.widen_column("turn_idx", "bigint")
    t.widen_column("score", "bigint")  # no-op

    # composes with rename: new name, wide type, same values
    t.rename_column("score", "score64")
    out = scan(spark, t)
    assert dict(out.dtypes)["score64"] == "bigint"
    assert sorted_rows(out, cols=("conv_id", "turn_idx", "score64")) == want


def test_widen_before_first_append_keeps_core_columns(spark,
                                                      tmp_table_root):
    """Registry bootstrap on a table with NO data file must seed the fixed
    transcript schema (review finding): add + widen before the first
    append, then scan must still carry every core column at the right
    types — not just the added one."""
    t = Table.create(tmp_table_root)
    t.add_column("score", "int")
    t.widen_column("score", "bigint")
    names = {c["names"][-1] for c in t.schema_cols()
             if not c.get("dropped")}
    assert {"conv_id", "turn_idx", "ts", "role", "text", "tool",
            "score"} <= names

    df = (generate_transcripts(spark, num_convs=5)
          .withColumn("score", F.lit(1).cast("int")))
    append(t, df, num_files=1)
    out = scan(spark, t)
    assert set(out.columns) >= {"conv_id", "turn_idx", "ts", "role",
                                "text", "tool", "score"}
    d = dict(out.dtypes)
    assert d["score"] == "bigint" and d["turn_idx"] == "int"
    assert d["ts"] == "timestamp"
    assert out.count() == df.count()
    assert out.filter("text is null").count() == 0


def test_time_travel_and_tag_reads_use_pinned_schema(spark,
                                                     tmp_table_root):
    """Iceberg's branch-vs-tag schema rule: snapshots pin the evolution
    registry at commit time; time-travel and TAG reads resolve columns
    with the snapshot's own schema (a later rename/drop does not rewrite
    history), while BRANCH and head reads follow the table's current
    schema. changes_between stays on the current schema so its two sides
    align across a rename."""
    from engine.scan import changes_between

    t, df = _setup(spark, tmp_table_root, convs=10, files=1)
    t.add_column("quality", "double")
    b2 = (generate_transcripts(spark, num_convs=2)
          .withColumn("conv_id", F.concat(F.lit("q-"), F.col("conv_id")))
          .withColumn("quality", F.lit(0.5)))
    append(t, b2, num_files=1)
    s_preren = t.current_snapshot().snapshot_id
    t.create_tag("audited", s_preren)
    t.create_branch("work")

    t.rename_column("quality", "q_score")
    extra = (generate_transcripts(spark, num_convs=2)
             .withColumn("conv_id", F.concat(F.lit("r-"), F.col("conv_id")))
             .withColumn("q_score", F.lit(0.9)))
    append(t, extra, num_files=1)
    s_prerdrop = t.current_snapshot().snapshot_id

    # time travel to the pre-rename snapshot: the OLD name, with data
    tt = scan(spark, t, snapshot_id=s_preren)
    assert "quality" in tt.columns and "q_score" not in tt.columns
    assert tt.filter("quality = 0.5").count() == b2.count()
    # the tag pins the same schema; the branch follows the current one
    tg = scan(spark, t, ref="audited")
    assert "quality" in tg.columns and "q_score" not in tg.columns
    br = scan(spark, t, ref="work")
    assert "q_score" in br.columns and "quality" not in br.columns
    # explicit opt-out: today's schema onto the historical read
    cur = scan(spark, t, snapshot_id=s_preren, schema="current")
    assert "q_score" in cur.columns
    assert cur.filter("q_score = 0.5").count() == b2.count()

    # drop: the pre-drop snapshot still shows the column under its
    # then-current name; head hides it
    t.drop_column("q_score")
    head = scan(spark, t)
    assert "q_score" not in head.columns and "quality" not in head.columns
    back = scan(spark, t, snapshot_id=s_prerdrop)
    assert "q_score" in back.columns
    assert back.filter("q_score = 0.9").count() == extra.count()

    # CDC across the rename era: both sides on the current schema, only
    # the appended rows surface
    d = changes_between(spark, t, s_preren, s_prerdrop)
    assert d.filter("_change = 'insert'").count() == extra.count()
    assert d.filter("_change != 'insert'").count() == 0


def test_pinned_schema_random_ddl_history(spark, tmp_table_root):
    """Randomized DDL/commit interleaving: after every commit on an evolved
    table, the snapshot must replay its then-visible column set (and the
    then-current type of a later-widened column) under time travel forever,
    no matter what renames/drops/widens happen afterwards."""
    import random

    rng = random.Random(66)
    t, df = _setup(spark, tmp_table_root, convs=6, files=1)
    base_cols = set(df.columns)
    live: dict[str, str] = {}      # current visible ext name -> type
    next_id = [0]
    expected: dict[int, dict[str, str]] = {}  # sid -> {name: type}

    def commit():
        append(t, df, num_files=1)
        expected[t.current_snapshot().snapshot_id] = dict(live)

    t.add_column("ext0", "int")
    live["ext0"] = "int"
    next_id[0] = 1
    commit()
    for _ in range(14):
        ops = ["add", "commit"]
        if live:
            ops += ["rename", "drop"]
        if any(ty == "int" for ty in live.values()):
            ops.append("widen")
        op = rng.choice(ops)
        if op == "add":
            name = f"ext{next_id[0]}"
            next_id[0] += 1
            ty = rng.choice(["int", "double", "string"])
            t.add_column(name, ty)
            live[name] = ty
        elif op == "rename":
            old = rng.choice(sorted(live))
            new = f"{old}_r{next_id[0]}"
            next_id[0] += 1
            t.rename_column(old, new)
            live[new] = live.pop(old)
        elif op == "drop":
            name = rng.choice(sorted(live))
            t.drop_column(name)
            del live[name]
        elif op == "widen":
            name = rng.choice(sorted(n for n, ty in live.items()
                                     if ty == "int"))
            t.widen_column(name, "bigint")
            live[name] = "bigint"
        else:
            commit()
    commit()

    assert len(expected) >= 3
    for sid, cols in expected.items():
        out = scan(spark, t, snapshot_id=sid)
        assert set(out.columns) == base_cols | set(cols), (sid, cols)
        d = dict(out.dtypes)
        for name, ty in cols.items():
            assert d[name] == ty, (sid, name, d[name], ty)
    # and the head follows the CURRENT registry
    head = scan(spark, t)
    assert set(head.columns) == base_cols | set(live)


def test_mor_merge_applies_update_after_rename(spark, tmp_table_root):
    """Review regression: _stage_mor read the live view via a pinned-schema
    time-travel scan, so after a rename the update_map (keyed by the
    CURRENT name) matched nothing and the merge silently committed
    unchanged values. The MoR path must use the current schema."""
    t, df = _setup(spark, tmp_table_root, convs=10, files=1)
    t.add_column("quality", "double")
    b2 = (generate_transcripts(spark, num_convs=2)
          .withColumn("conv_id", F.concat(F.lit("q-"), F.col("conv_id")))
          .withColumn("quality", F.lit(0.5)))
    append(t, b2, num_files=1)
    t.rename_column("quality", "q_score")

    src = (scan(spark, t).filter("q_score = 0.5")
           .select("conv_id", "turn_idx").orderBy("conv_id", "turn_idx")
           .limit(3).withColumn("upd_q", F.lit(0.9)))
    merge_into(spark, t, src, {"q_score": "upd_q"}, pass_id="ren-mor",
               mode="mor")
    out = scan(spark, t)
    assert out.filter("q_score = 0.9").count() == 3
    assert out.filter("q_score = 0.5").count() == b2.count() - 3


def test_rewrite_manifests_preserves_schema_pin(spark, tmp_table_root):
    """Review regression: rewrite_manifests built its snapshot without
    schema_state, silently dropping the pin — a tag cut at that head then
    followed later renames instead of the pinned schema."""
    from engine.maintain import rewrite_manifests

    t, df = _setup(spark, tmp_table_root, convs=10, files=3)
    t.add_column("quality", "double")
    append(t, generate_transcripts(spark, num_convs=2)
           .withColumn("conv_id", F.concat(F.lit("q-"), F.col("conv_id")))
           .withColumn("quality", F.lit(0.5)), num_files=1)
    rewrite_manifests(t, entries_per_manifest=2)
    assert t.current_snapshot().schema_state is not None
    t.create_tag("audited", t.current_snapshot().snapshot_id)
    t.rename_column("quality", "q_score")
    tg = scan(spark, t, ref="audited")
    assert "quality" in tg.columns and "q_score" not in tg.columns


def test_arrow_sql_type_timestamps_match_spark_inference(spark, tmp_path):
    """The footer type mapping agrees with Spark's own parquet inference:
    a tz-less parquet timestamp is ``timestamp_ntz``, a UTC-adjusted one
    ``timestamp``, a legacy INT96 one ``timestamp``; nested types map to
    the same Spark types."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from engine.format import _arrow_sql_type, _quote, footer_types

    assert _arrow_sql_type(pa.timestamp("us")) == "timestamp_ntz"
    assert _arrow_sql_type(pa.timestamp("us", tz="UTC")) == "timestamp"
    when = dt.datetime(2024, 1, 2, 3, 4, 5)
    tbl = pa.table({
        "ntz": pa.array([when], pa.timestamp("us")),
        "ltz": pa.array([when], pa.timestamp("us", tz="UTC")),
        "tags": pa.array([["a", "b"]], pa.list_(pa.string())),
        "kv": pa.array([{"n": 1, "s": "x"}],
                       pa.struct([("n", pa.int32()), ("s", pa.string())])),
        "m": pa.array([[("k", 1.5)]], pa.map_(pa.string(), pa.float64())),
    })
    plain = str(tmp_path / "plain.parquet")
    pq.write_table(tbl, plain)
    legacy = str(tmp_path / "int96.parquet")
    pq.write_table(tbl.select(["ntz"]), legacy,
                   use_deprecated_int96_timestamps=True)
    for path in (plain, legacy):
        inferred = spark.read.parquet(path)
        types = footer_types(path)
        assert list(types) == inferred.columns
        ddl = ", ".join(f"{_quote(n)} {t}" for n, t in types.items())
        assert spark.read.schema(ddl).parquet(path).schema \
            == inferred.schema, path
    assert footer_types(plain)["ntz"] == "timestamp_ntz"
    assert footer_types(plain)["ltz"] == "timestamp"
    assert footer_types(legacy)["ntz"] == "timestamp"


def test_evolved_scans_launch_no_spark_job(spark, tmp_table_root):
    """add (incl. a ``timestamp_ntz`` column) / rename / drop / widen:
    every scan shape reads with an explicit schema (no Spark job while
    building the frame), and its names, order and types equal a
    footer-inferring read's. The widened shape is checked against the
    registry's types, since a schema-merging read refuses mixed widths."""
    from engine.maintain import compact

    from .conftest import inferred_scan_schema, spark_jobs

    t, df = _setup(spark, tmp_table_root, convs=20, files=2)

    def check(name, read, snap=None, meta=None):
        out, jobs = spark_jobs(spark, read)
        assert jobs == 0, (name, jobs)
        snap = snap or t.current_snapshot()
        want = inferred_scan_schema(spark, t, snap,
                                    meta or t.load_metadata())
        assert out.schema == want, (name, out.schema, want)
        return out

    # add without a registry: a MoR merge writes the column on 3 keys
    t.add_column("quality", "double")
    check("add-nofile", lambda: scan(spark, t))
    src = (scan(spark, t).select("conv_id", "turn_idx")
           .orderBy("conv_id", "turn_idx").limit(3)
           .withColumn("upd", F.lit(0.5)))
    merge_into(spark, t, src, {"quality": "upd"}, pass_id="ev-m",
               mode="mor")
    check("add-mor", lambda: scan(spark, t))
    t.add_column("seen_at", "timestamp_ntz")
    b2 = (generate_transcripts(spark, num_convs=3)
          .withColumn("conv_id", F.concat(F.lit("n-"), F.col("conv_id")))
          .withColumn("quality", F.lit(0.25))
          .withColumn("seen_at",
                      F.to_timestamp_ntz(F.lit("2024-01-02 03:04:05"))))
    append(t, b2, num_files=1)
    new_conv = Predicate("conv_id", "ge", "n-")
    out = check("add-point-new", lambda: scan(spark, t,
                                              predicates=[new_conv]))
    assert dict(out.dtypes)["seen_at"] == "timestamp_ntz"
    # after compaction every file's footer carries the ntz column
    compact(spark, t, target_bytes=1 << 30, pass_id="ev-c")
    out = check("add-compacted", lambda: scan(spark, t))
    assert dict(out.dtypes)["seen_at"] == "timestamp_ntz"
    assert out.filter("seen_at is not null").count() == b2.count()
    pre = t.current_snapshot()
    t.create_tag("pre", pre.snapshot_id)

    # rename bootstraps the registry; the tag keeps the pinned schema
    t.rename_column("quality", "q_score")
    b3 = (generate_transcripts(spark, num_convs=2)
          .withColumn("conv_id", F.concat(F.lit("r-"), F.col("conv_id")))
          .withColumn("seen_at",
                      F.to_timestamp_ntz(F.lit("2024-02-03 04:05:06")))
          .withColumn("q_score", F.lit(0.75)))
    append(t, b3, num_files=1)
    out = check("rename-head", lambda: scan(spark, t))
    assert out.filter("q_score = 0.75").count() == b3.count()
    check("rename-tag", lambda: scan(spark, t, ref="pre"), pre,
          pre.schema_state)
    check("rename-time-travel",
          lambda: scan(spark, t, snapshot_id=pre.snapshot_id), pre,
          pre.schema_state)
    check("rename-point",
          lambda: scan(spark, t, predicates=[new_conv]))

    # drop: the id's names are not read at all
    t.drop_column("seen_at")
    out = check("drop-head", lambda: scan(spark, t))
    assert "seen_at" not in out.columns

    # widen: narrow and wide files under one bigint read type
    t.add_column("score", "int")
    b4 = (generate_transcripts(spark, num_convs=2)
          .withColumn("conv_id", F.concat(F.lit("w-"), F.col("conv_id")))
          .withColumn("q_score", F.lit(1.0))
          .withColumn("score", F.lit(7).cast("int")))
    append(t, b4, num_files=1)
    t.widen_column("score", "bigint")
    b5 = (generate_transcripts(spark, num_convs=2)
          .withColumn("conv_id", F.concat(F.lit("x-"), F.col("conv_id")))
          .withColumn("q_score", F.lit(2.0))
          .withColumn("score", F.lit(5_000_000_000)))
    append(t, b5, num_files=1)
    out, jobs = spark_jobs(spark, lambda: scan(spark, t))
    assert jobs == 0
    assert out.dtypes == [
        ("conv_id", "string"), ("turn_idx", "int"), ("role", "string"),
        ("text", "string"), ("tool", "string"), ("ts", "timestamp"),
        ("score", "bigint"), ("q_score", "double")]
    assert out.filter("score = 7").count() == b4.count()
    assert out.filter("score = 5000000000").count() == b5.count()
    assert out.count() == df.count() + b2.count() + b3.count() \
        + b4.count() + b5.count()
