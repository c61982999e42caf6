"""MERGE-impute invariants (the BASELINE.json correctness gate):
non-injected cells untouched, deterministic imputation, checkpoint resume."""

import pytest
from pyspark.sql import functions as F

from engine.format import Table
from engine.merge import evaluate_impute, impute_merge, merge_into
from engine.scan import scan
from engine.synth import generate_transcripts, inject_missing
from engine.write import append

from .conftest import sorted_rows


def _setup(spark, root, convs=80):
    df = generate_transcripts(spark, num_convs=convs)
    injected, wl = inject_missing(df)
    t = Table.create(root)
    append(t, injected, num_files=8, range_cols=["conv_id", "turn_idx"],
           sort_cols=["conv_id", "turn_idx"])
    return t, df, injected, wl


def test_impute_fills_all_missing(spark, tmp_table_root):
    t, df, injected, wl = _setup(spark, tmp_table_root)
    impute_merge(spark, t, pass_id="p1")
    out = scan(spark, t)
    assert out.filter("role is null or text is null").count() == 0
    assert out.filter("role = 'tool' and tool is null").count() == 0


def test_impute_preserves_non_injected_cells(spark, tmp_table_root):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering for
    every cell that was NOT injected — the reference invariant."""
    t, df, injected, wl = _setup(spark, tmp_table_root)
    impute_merge(spark, t, pass_id="p1")
    out = scan(spark, t)
    injected_keys = wl.select("conv_id", "turn_idx").distinct()
    got = sorted_rows(out.join(injected_keys, ["conv_id", "turn_idx"],
                               "left_anti"))
    want = sorted_rows(df.join(injected_keys, ["conv_id", "turn_idx"],
                               "left_anti"))
    assert got == want


def test_impute_accuracy(spark, tmp_table_root):
    t, df, injected, wl = _setup(spark, tmp_table_root)
    impute_merge(spark, t, pass_id="p1")
    acc = evaluate_impute(scan(spark, t), wl)
    assert acc["role"]["acc"] >= 0.95
    assert acc["tool"]["acc"] >= 0.9
    assert acc["text"]["acc"] >= 0.9


def test_impute_scenario_buckets(spark, tmp_table_root):
    """Per-bucket accuracy (index vs estimate), FIXTURES.md §6 — the recast
    of total_evaluate.py's s1/s2/s3 scenario split."""
    from engine.index import build_candidate_index
    from engine.merge import plan_impute_updates
    t, df, injected, wl = _setup(spark, tmp_table_root)
    impute_merge(spark, t, pass_id="p1")
    cand = build_candidate_index(injected)
    updates = plan_impute_updates(injected, cand)
    acc = evaluate_impute(scan(spark, t), wl, updates=updates)
    assert set(acc) == {"role", "tool", "text"}
    for col, stats in acc.items():
        assert stats["buckets"], col
        # index-path accuracy must dominate estimate-path accuracy
        b = stats["buckets"]
        if "index" in b and "estimate" in b and b["estimate"]["n"] >= 3:
            assert b["index"]["acc"] >= b["estimate"]["acc"]


def test_impute_row_and_key_counts_stable(spark, tmp_table_root):
    t, df, injected, wl = _setup(spark, tmp_table_root)
    before = scan(spark, t).count()
    impute_merge(spark, t, pass_id="p1")
    out = scan(spark, t)
    assert out.count() == before
    assert out.select("conv_id", "turn_idx").distinct().count() == before


def test_impute_deterministic_across_parallelism(spark, tmp_table_root):
    """Same input → byte-identical imputed table at different shuffle
    parallelism (the N-vs-4N invariant, scaled to a config toggle)."""
    t1, *_ = _setup(spark, tmp_table_root + "-a")
    impute_merge(spark, t1, pass_id="p1")
    ref = sorted_rows(scan(spark, t1))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        t2, *_ = _setup(spark, tmp_table_root + "-b")
        impute_merge(spark, t2, pass_id="p1")
        assert sorted_rows(scan(spark, t2)) == ref
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_merge_rerun_same_pass_is_noop(spark, tmp_table_root):
    t, *_ = _setup(spark, tmp_table_root, convs=20)
    s1 = impute_merge(spark, t, pass_id="once")
    s2 = impute_merge(spark, t, pass_id="once")
    assert s2.snapshot_id == s1.snapshot_id


def test_generic_merge_update(spark, tmp_table_root):
    t, df, *_ = _setup(spark, tmp_table_root, convs=20)
    src = (df.filter("conv_id = 'conv-00000003' and turn_idx < 2")
           .select("conv_id", "turn_idx",
                   F.lit("EDITED").alias("new_text")))
    merge_into(spark, t, src, {"text": "new_text"}, pass_id="edit")
    out = scan(spark, t)
    assert out.filter("text = 'EDITED'").count() == 2
    # untouched rows of the same conversation keep their text
    keep = out.filter("conv_id = 'conv-00000003' and turn_idx >= 2")
    orig = df.filter("conv_id = 'conv-00000003' and turn_idx >= 2")
    assert sorted_rows(keep) == sorted_rows(orig)


def test_merge_prunes_unaffected_files(spark, tmp_table_root):
    """CoW must rewrite only files whose stats intersect the source keys."""
    t, df, *_ = _setup(spark, tmp_table_root, convs=60)
    before = {e.path for e in t.manifest_entries()}
    src = (df.filter("conv_id = 'conv-00000000' and turn_idx = 0")
           .select("conv_id", "turn_idx", F.lit("X").alias("new_text")))
    merge_into(spark, t, src, {"text": "new_text"}, pass_id="tiny")
    after = {e.path for e in t.manifest_entries()}
    assert len(before & after) > 0  # most files carried over untouched


def test_resume_after_commit_before_finalize_does_not_duplicate(
        spark, tmp_table_root):
    """Crash in the window between snapshot commit and checkpoint finalize:
    the rerun must ADOPT the committed snapshot, not re-commit the staged
    files (which would double-reference them → duplicate rows on scan)."""
    t, df, injected, wl = _setup(spark, tmp_table_root, convs=30)
    before_rows = scan(spark, t).count()
    real_finalize = __import__("engine.checkpoint",
                               fromlist=["CheckpointLog"]).CheckpointLog
    orig = real_finalize.finalize
    calls = {"n": 0}

    def exploding_finalize(self, extra=None):
        calls["n"] += 1
        raise RuntimeError("simulated crash after commit, before finalize")

    real_finalize.finalize = exploding_finalize
    try:
        try:
            impute_merge(spark, t, pass_id="half")
        except RuntimeError:
            pass
    finally:
        real_finalize.finalize = orig
    assert calls["n"] >= 1
    committed = t.current_snapshot()
    assert committed.summary.get("pass_id") == "half-rewrite" or \
        committed.summary.get("pass_id") == "half"
    # rerun with the same pass id: adopts, no new snapshot, no row dup
    snap = impute_merge(spark, t, pass_id="half")
    assert snap.snapshot_id == committed.snapshot_id
    out = scan(spark, t)
    assert out.count() == before_rows
    assert out.select("conv_id", "turn_idx").distinct().count() == before_rows


def test_impute_targeted_worklist_prunes_rewrite(spark, tmp_table_root):
    """A sparse worklist (missing cells in ONE conversation) must not
    trigger an O(table) rewrite. Conv-domain predicates prune the pass to
    the affected files — and since the worklist is a tiny fraction of even
    those, the auto merge mode goes MERGE-ON-READ: zero data files
    rewritten, O(worklist) bytes committed (insert + equality delete) —
    even when the caller asked for fused clustering (which only applies to
    full-table passes and falls back here)."""
    from pyspark.sql import functions as F
    df = generate_transcripts(spark, num_convs=40)
    victim = df.select("conv_id").distinct().orderBy("conv_id").first()[0]
    injected = df.withColumn(
        "role", F.when((F.col("conv_id") == victim) & (F.col("turn_idx") == 1),
                       F.lit(None)).otherwise(F.col("role")))
    t = Table.create(tmp_table_root)
    append(t, injected, num_files=8, range_cols=["conv_id", "turn_idx"],
           sort_cols=["conv_id", "turn_idx"])
    from engine.scan import Predicate, prune_files
    entries = t.manifest_entries()
    affected = {e.path for e in
                prune_files(entries, [Predicate("conv_id", "in", [victim])])}
    before = {e.path for e in entries}
    table_bytes = sum(e.file_size_bytes for e in entries)
    assert len(affected) < len(before)  # pruning has something to save
    snap = impute_merge(spark, t, pass_id="sparse1", curve="zorder")
    after = {e.path for e in t.manifest_entries()}
    removed = before - after
    assert snap.summary.get("mor") is True
    assert removed == set(), \
        f"sparse merge rewrote {len(removed)} data files; expected MoR"
    new = [e for e in t.manifest_entries(content="all")
           if e.sequence_number == snap.snapshot_id]
    assert sum(e.file_size_bytes for e in new) < table_bytes * 0.2
    assert scan(spark, t).filter("role is null").count() == 0


def test_merge_broadcast_gate_respects_byte_estimate(spark, tmp_table_root,
                                                     monkeypatch):
    """The auto broadcast gate must refuse a source whose ROW count is small
    but whose string payload is large (2M long-text rows can be multiple
    GB): with BROADCAST_MAX_BYTES patched below the source's octet sum, the
    rewrite is planned without a forced broadcast."""
    import engine.merge as m
    t, df, injected, wl = _setup(spark, tmp_table_root, convs=10)
    src = injected.select(
        "conv_id", "turn_idx",
        F.lit(None).cast("string").alias("upd_role"),
        F.lit(None).cast("string").alias("upd_tool"),
        F.concat(F.lit("x" * 64), F.col("conv_id")).alias("upd_text"))
    chosen: list = []
    real = m.build_rewrite

    def spy(tgt, source, update_map, broadcast_source):
        chosen.append(broadcast_source)
        return real(tgt, source, update_map, broadcast_source)

    monkeypatch.setattr(m, "build_rewrite", spy)
    monkeypatch.setattr(m, "BROADCAST_MAX_BYTES", 16)
    m.merge_into(spark, t, src,
                 {"role": "upd_role", "tool": "upd_tool", "text": "upd_text"},
                 pass_id="bgate1")
    assert chosen == [False]
    # and with a roomy byte cap the same shape broadcasts
    monkeypatch.setattr(m, "BROADCAST_MAX_BYTES", 1 << 30)
    m.merge_into(spark, t, src,
                 {"role": "upd_role", "tool": "upd_tool", "text": "upd_text"},
                 pass_id="bgate2")
    assert chosen == [False, True]


def test_sparse_prune_empty_frame_keeps_columns(spark):
    """0-row input → null ratios → keep every column (no TypeError)."""
    from engine.estimate import sparse_prune
    df = generate_transcripts(spark, num_convs=2).filter("turn_idx < 0")
    out = sparse_prune(df, min_non_null=0.2)
    assert out.columns == df.columns
    assert out.count() == 0


def test_plan_impute_updates_rejects_string_keyed_index(spark):
    """An index whose key is not a long (e.g. a string-keyed Parquet index
    written by an older ``python -m engine index``) must raise, not turn
    every cell into an 'estimate'."""
    from engine.merge import plan_impute_updates
    df, _ = inject_missing(generate_transcripts(spark, num_convs=5))
    stale = spark.createDataFrame(
        [("text", "3§^§$", "hello", 2.0, 1)],
        "column_name string, key string, candidate string, score double, "
        "rank int")
    with pytest.raises(ValueError, match="key bigint"):
        plan_impute_updates(df, stale)


def test_topk_index_rank1_matches_k1_index(spark, tmp_path):
    """The offline top-k index (``row_number`` path, as ``python -m engine
    index`` writes it) round-trips through Parquet, its rank-1 rows are the
    k=1 index, and either index plans the same updates."""
    from engine.index import build_candidate_index
    from engine.merge import plan_impute_updates
    df = generate_transcripts(spark, num_convs=30)
    injected, _ = inject_missing(df)
    out = str(tmp_path / "index")
    build_candidate_index(injected).write.parquet(out)
    topk = spark.read.parquet(out)
    k1 = build_candidate_index(injected, k=1)
    assert topk.filter("rank > 3").count() == 0
    assert topk.filter("rank > 1").count() > 0
    cols = ("key", "candidate", "score", "rank")
    assert (sorted_rows(topk.filter("rank = 1").select(*cols), cols)
            == sorted_rows(k1.select(*cols), cols))
    assert (sorted_rows(plan_impute_updates(injected, topk))
            == sorted_rows(plan_impute_updates(injected, k1)))


def test_scored_pairs_sig_hash_is_hash_aggregate_no_concat(spark):
    """The component-hashed explode (long text sig, keys hashed straight
    from the context components) must stay a partial+final HashAggregate
    over a long key and must NOT build composite key strings (no concat_ws
    in the plan) — the narrow-key invariant."""
    from engine.index import _scored_pairs, _with_context
    from tests.test_plans import plan_of
    pairs = _scored_pairs(
        _with_context(generate_transcripts(spark, num_convs=5)))
    assert dict(pairs.dtypes)["key"] == "bigint"
    p = plan_of(pairs)
    assert "HashAggregate" in p
    assert "SortAggregate" not in p
    assert "concat_ws" not in p
