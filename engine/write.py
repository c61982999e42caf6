"""Copy-on-write data-file writer: stage → stat → commit.

Replaces the reference's bare ``to_csv`` sinks
(``codes/utils/inject_missing_values.py:69,77``) with immutable Parquet files
registered in a manifest under an atomic snapshot commit.

Range layout without sampling: ``repartitionByRange`` runs a separate
sampling job that COMPUTES THE PARENT PLAN TWICE — fatal when the parent is
the merge join. When the caller already knows the key distribution (manifest
stats of the files being rewritten), ``bounds=`` partitions with a
driver-derived boundary list instead: a binary-search CASE expression maps
each row to a partition id (pure codegen, log₂(files) comparisons/row), and a
precomputed representative value per partition makes Spark's hash partitioner
place it exactly (pmod(murmur3(rep), n) == pid by construction). One pass,
no sampling, deterministic at every parallelism level. At ~10⁶ output files
the CASE expression would outgrow codegen — there the planner would split
the rewrite into per-manifest jobs long before (each bounded in files), so
the boundary list stays small per job.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .format import DataFile, Snapshot, Table


def _murmur3_32(v: int, seed: int = 42) -> int:
    """Spark's Murmur3_x86_32.hashLong (Catalyst HashExpression seed=42),
    reimplemented so partition representatives can be solved driver-side
    without a Spark job. Verified against F.hash in tests/test_write.py."""
    mask = 0xFFFFFFFF

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & mask

    h1 = seed & mask
    v &= 0xFFFFFFFFFFFFFFFF
    for block in (v & mask, (v >> 32) & mask):
        k1 = (block * 0xCC9E2D51) & mask
        k1 = rotl(k1, 15)
        k1 = (k1 * 0x1B873593) & mask
        h1 ^= k1
        h1 = rotl(h1, 13)
        h1 = (h1 * 5 + 0xE6546B64) & mask
    h1 ^= 8  # byte length of a long
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & mask
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & mask
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def partition_reps(num_buckets: int) -> list[int]:
    """reps[j] = smallest long whose Spark hash-partition over num_buckets
    is j. Driver-side O(n log n) expected probes."""
    reps: list[int | None] = [None] * num_buckets
    found, i = 0, 0
    while found < num_buckets:
        j = _murmur3_32(i) % num_buckets
        if reps[j] is None:
            reps[j] = i
            found += 1
        i += 1
    return reps  # type: ignore[return-value]


def bucket_expr(col: Column | list[Column], bounds: list) -> Column:
    """Partition id in [0, len(bounds)] for a sorted boundary list: a
    balanced CASE tree (binary search, pure codegen). pid p holds rows with
    bounds[p-1] <= row < bounds[p].

    A boundary is either a scalar (compared against the first column) or a
    composite ``(conv, turn)`` tuple compared lexicographically against the
    first TWO columns — how an oversized single-conversation run is split
    across partitions (the hot-conversation straggler bound)."""
    cols = list(col) if isinstance(col, (list, tuple)) else [col]

    def lt(b) -> Column:
        if isinstance(b, tuple):
            bc, bt = b
            return ((cols[0] < F.lit(bc))
                    | ((cols[0] == F.lit(bc)) & (cols[1] < F.lit(bt))))
        return cols[0] < F.lit(b)

    def build(lo: int, hi: int) -> Column:
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(lt(bounds[mid]), build(lo, mid)) \
                .otherwise(build(mid + 1, hi))
    return build(0, len(bounds))


def range_bounds_from_entries(entries: list[DataFile], num_files: int,
                              col: str = "conv_id",
                              turn_col: str | None = None) -> list | None:
    """Row-balanced range boundaries for ``col`` derived from manifest
    min/max stats — O(files) driver work, no data read, deterministic at
    every parallelism level. Returns None if any file lacks stats (caller
    falls back to sampling).

    With ``turn_col`` (VERDICT r4 task #3): a single conversation bigger
    than the per-file row target — which conv-only boundaries would land
    whole in ONE shuffle partition / oversized output file, the straggler —
    is split by COMPOSITE ``(conv, turn)`` boundaries. The intra-
    conversation cut points come from the manifest too: a single-conv file
    is cut at turn positions interpolated from its turn min/max stats
    (turn_idx is dense per conversation, per the table schema), and a run
    of same-conv files is cut at the continuation point (a pure file's own
    turn min; a mixed file's predecessor turn max + 1). No data is read;
    scalar boundaries are emitted everywhere the conv key alone suffices —
    for layouts with no oversized conversation and no sub-half-target
    piece, the composite output equals the turn-free form (the composite
    mode additionally suppresses sliver pieces below half a target)."""
    if num_files <= 1:
        return []
    stats = []
    for e in entries:
        st = e.stats.get(col) or {}
        if st.get("min") is None:
            return None
        tst = (e.stats.get(turn_col) or {}) if turn_col else {}
        stats.append((str(st["min"]), str(st.get("max") or st["min"]),
                      tst.get("min"), tst.get("max"), e.record_count))
    stats.sort(key=lambda s: (s[0], s[2] if s[2] is not None else 0))
    total = sum(s[4] for s in stats)
    if total == 0:
        return []
    per = total / num_files

    def _key(b) -> tuple:
        return (b[0], b[1]) if isinstance(b, tuple) else (b, float("-inf"))

    bounds: list = []
    cum = 0
    # sliver guard (composite mode only; the turn-free mode keeps the
    # plain cut-at-file-start semantics — note the nearest-target slack
    # below applies to BOTH modes, so the two forms emit identical cut
    # sets only when no piece falls below half a target): when mixed
    # files force the walk to fall
    # behind the row targets — cuts can only land at file starts or inside
    # PURE single-conv files — the stale targets must be SKIPPED, not
    # chased: chasing them emitted degenerate cuts one turn apart
    # (max(1, round(frac<=0)) == 1), and every wasted cut slot left a ~2x
    # straggler piece elsewhere. A cut is only emitted when the piece it
    # closes holds at least half a target of rows.
    min_piece = per / 2 if turn_col else 0.0
    last_cut = 0.0  # row position (in cum terms) of the last emitted cut
    prev_tmx = None      # the immediately preceding file's turn max
    prev_file_mx = None  # ... and its conv max (continuation detection)
    for mn, mx, tmn, tmx, n in stats:
        cuttable = (turn_col is not None and mn == mx and tmn is not None
                    and tmx is not None and n > per)
        # nearest-target rule: a boundary can only land at a file START
        # (except inside pure oversized single-conv files, which the
        # internal cutter below splits exactly), so demanding cum to have
        # PASSED the target lets a file ending just short of it inflate
        # the piece to ~2x target. Cut when within half the smaller of
        # (this file, one target) of the target instead — never for
        # internally-cuttable files, where the exact cut is available.
        slack = 0.0 if cuttable else min(n, per) / 2
        if (cum >= per * (len(bounds) + 1) - slack
                and len(bounds) < num_files - 1
                and cum - last_cut >= min_piece):
            cand: str | tuple = mn
            if (turn_col and tmn is not None
                    and prev_file_mx is not None and prev_file_mx >= mn):
                # the conversation continues across the file break (a run of
                # same-conv files): a conv-only boundary here would split
                # NOTHING (or mid-conv, wrongly) — cut at the continuation
                # point instead. For a PURE continuation file its turn-min
                # is that point exactly; for a MIXED file the turn-min is
                # polluted by its other conversations (their turns restart
                # at 0), so the previous file's turn-max + 1 — where the
                # carrying conversation must resume, files being
                # (conv, turn)-sorted — is the honest stats-only estimate.
                # Continuation is judged against the IMMEDIATE predecessor
                # only: a cumulative max would claim a continuation (and a
                # garbage turn estimate) across files whose key ranges
                # OVERLAP (a sampling-written layout can interleave) —
                # there the plain conv cut is the only sound choice.
                cont = (int(tmn) if mn == mx or prev_tmx is None
                        else int(prev_tmx) + 1)
                cand = (mn, cont)
            if not bounds or _key(cand) > _key(bounds[-1]):
                bounds.append(cand)
                last_cut = cum
        if cuttable:
            # oversized single-conversation file: internal composite cuts at
            # interpolated turn positions (turn_idx is dense per
            # conversation, so interpolation over [tmn, tmx] is near-exact)
            k = len(bounds) + 1
            while per * k < cum + n and len(bounds) < num_files - 1:
                target = per * k
                if target <= cum or target - last_cut < min_piece:
                    k += 1  # stale or sliver-sized target: skip, don't cut
                    continue
                frac = (target - cum) / n
                turn = int(tmn) + max(
                    1, int(round(frac * (int(tmx) - int(tmn) + 1))))
                cand = (mn, turn)
                if bounds and _key(cand) <= _key(bounds[-1]):
                    k += 1  # interpolation collided with the last cut
                    continue
                bounds.append(cand)
                last_cut = target
                k = len(bounds) + 1
        cum += n
        prev_tmx = tmx
        prev_file_mx = mx
    return bounds


def output_file_count(in_bytes: int, target_bytes: int) -> int:
    """Files a full rewrite of ``in_bytes`` writes: ~target-sized, but at
    least 16 above 1 MiB so a small table never collapses to a one-task
    sort. A function of DATA SIZE only, never of core count or scan
    partitioning: the layout must be identical at every parallelism level,
    or N-vs-4N comparisons (and cross-run determinism) are meaningless."""
    n = max(1, round(in_bytes / target_bytes))
    return max(n, 16) if in_bytes > (1 << 20) else n


def stage_dataframe(table: Table, df: DataFrame,
                    num_files: int | None = None,
                    range_cols: list[str] | None = None,
                    sort_cols: list[str] | None = None,
                    bounds: list | None = None,
                    content: str = "data") -> list[DataFile]:
    """Write ``df`` to a staging dir, move the parts into data/, return
    manifest entries (NOT yet committed — callers compose commits, which is
    what makes multi-step maintenance passes resumable).

    Layout control: contiguous key ranges per file → tight per-file min/max
    stats → effective scan pruning. At 100 TB this is the difference between
    touching 40 files and 400 000 for a single-conversation query. With
    ``bounds`` (see module docstring) the range exchange needs no sampling
    pass; without it, ``repartitionByRange`` samples (computing the parent
    plan a second time — acceptable only when the parent is a cheap scan).
    """
    if num_files and range_cols and bounds is not None:
        nb = len(bounds) + 1
        if bounds:
            pid = bucket_expr([F.col(c) for c in range_cols], bounds)
            reps = partition_reps(nb)
            rep = F.element_at(
                F.array(*[F.lit(r).cast("long") for r in reps]), pid + 1)
            df = df.repartition(nb, rep)
        else:
            df = df.coalesce(1)
    elif num_files and range_cols:
        df = df.repartitionByRange(num_files, *range_cols)
    elif num_files:
        df = df.repartition(num_files)
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    staging = os.path.join(table.root, ".staging", uuid.uuid4().hex)
    import time as _time
    from .merge import _tmark
    t0 = _time.time()
    df.write.mode("overwrite").parquet(staging)
    t0 = _tmark("write.parquet_job", t0)
    # sort by the PARSED part index, not lexicographically: Spark zero-pads
    # to %05d, so at ≥100k shuffle partitions "part-100000" would sort before
    # "part-99999" and break callers that map part position → plan position
    # (compact()'s part↔group checkpoint alignment)
    parts = sorted(glob.glob(os.path.join(staging, "part-*.parquet")),
                   key=lambda p: int(os.path.basename(p).split("-")[1]))
    entries = table.register_staged_files(parts, content=content)
    _tmark("write.register_stats", t0)
    shutil.rmtree(staging, ignore_errors=True)
    return entries


def restat_staged(table: Table, rel_path: str) -> DataFile:
    """Rebuild a manifest entry for an already-staged file (checkpoint
    resume paths): re-read the parquet footer and infer the content kind
    from the ``delete-``/``part-`` name ``Table.register_staged_files``
    assigned — the ONE place that naming convention is interpreted."""
    from .format import collect_parquet_stats
    rows, size, stats = collect_parquet_stats(
        os.path.join(table.root, rel_path))
    content = ("deletes" if os.path.basename(rel_path).startswith("delete-")
               else "data")
    return DataFile(rel_path, rows, size, stats, content=content)


def enforce_constraints(spark, table: Table, staged: list[DataFile],
                        on_violation=None, keys_df=None) -> None:
    """CHECK-constraint gate for freshly staged files (Delta-style write
    boundary): read back ONLY the staged data files (columnar, no lineage
    recompute — the batch's DAG never runs twice) and probe each
    registered constraint with a limit-1 violation scan. On the first
    violating row: run ``on_violation`` (checkpoint abandon for merges),
    unlink the staged files, raise ``ConstraintViolation`` with the
    offending row — nothing commits. Zero cost when no constraint is
    registered (the common case and the benched maintenance path).

    ``keys_df``: restrict the probe to these (conv_id, turn_idx) keys —
    the CoW merge passes its source keys so only rows the merge actually
    CHANGED are gated. Without it, a copy-on-write rewrite would re-judge
    every legacy row it carries, and one pre-constraint violator would
    permanently brick maintenance on its file (add_constraint documents
    no retro-validation; ``check_constraints`` is the audit for that)."""
    from pyspark.sql import functions as F

    from .format import ConstraintViolation
    cons = table.constraints()
    data = [e for e in staged if e.content == "data" and e.record_count]
    if not cons or not data:
        return
    from .scan import _read_entries
    df = _read_entries(spark, table, None, data)
    if keys_df is not None:
        # join side left to AQE: a backlog merge's key set can be huge —
        # forcing a broadcast here has the same failure mode the ingest
        # split avoids
        from .scan import MERGE_KEYS
        df = df.join(keys_df.select(*MERGE_KEYS),
                     list(MERGE_KEYS), "left_semi")
    for name, expr in cons.items():
        bad = (df.filter(~F.coalesce(F.expr(expr), F.lit(False)))
               .limit(1).collect())
        if bad:
            if on_violation is not None:
                on_violation(name, expr)
            for e in staged:
                try:
                    os.remove(os.path.join(table.root, e.path))
                except OSError:
                    pass
            raise ConstraintViolation(
                f"constraint {name!r} ({expr}) violated by staged row "
                f"{bad[0].asDict()} — staged files discarded, nothing "
                "committed")


def check_constraints(spark, table: Table) -> dict[str, int]:
    """Audit the CURRENT table data against the registered constraints
    (``add_constraint`` does not retro-validate): violation count per
    constraint over a live scan."""
    from pyspark.sql import functions as F

    from .scan import scan
    cons = table.constraints()
    if not cons:
        return {}
    df = scan(spark, table)
    aggs = [F.sum((~F.coalesce(F.expr(expr), F.lit(False))).cast("long"))
            .alias(name) for name, expr in cons.items()]
    row = df.agg(*aggs).first()
    return {name: int(row[name] or 0) for name in cons}


def append(table: Table, df: DataFrame,
           num_files: int | None = None,
           range_cols: list[str] | None = None,
           sort_cols: list[str] | None = None,
           summary: dict | None = None,
           bounds: list | None = None,
           branch: str | None = None) -> Snapshot:
    """``branch``: land the append on a named branch head instead of main
    (write-audit-publish: ingest to an audit branch, quality-check via
    ``scan(ref=...)``, publish with ``Table.fast_forward``)."""
    entries = stage_dataframe(table, df, num_files, range_cols, sort_cols,
                              bounds=bounds)
    enforce_constraints(df.sparkSession, table, entries)
    return table.commit("append", added=entries, summary=summary,
                        branch=branch)
