"""Snapshot-pinned scans with manifest-stats file pruning.

Reference analog: the hand-rolled min/max range filter that drops external
rows outside the query column's [min, max]
(``codes/estimation/row_acquisitor.py:705-712, 1097-1099``) and the domain
``isin`` filter (``row_acquisitor.py:721-723``).  Here both become *file-level*
pruning against the manifest's per-file min/max stats, executed on the driver
over O(files) metadata before Spark plans the scan — then repeated row-level by
Catalyst/Parquet for free (predicate pushdown into row-group stats).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .format import (DataFile, Snapshot, Table, _quote, footer_types,
                     resolve_schema_types)

# broadcast the (small) equality-delete set up to this many bytes; past it
# the anti-join falls back to a shuffle join (AQE picks the side) — at
# 100 TB an un-compacted month of deletes must not be forced driver-side
_DELETE_BROADCAST_MAX_BYTES = 64 * 1024 * 1024
MERGE_KEYS = ("conv_id", "turn_idx")
# column materialized by compact_deletes: a folded delete row's ORIGINAL
# sequence number (the folded FILE carries the fold commit's sequence, which
# must not change which data files the row shadows)
_DELETE_SEQ_COL = "__delete_seq"
# fixed read schema of the merge keys (the fixed transcript types): staged
# merge-on-read inserts read back for their keys, and equality-delete files
# (plus ``__delete_seq``, which null-fills in raw merge-written ones)
KEY_SCHEMA = "conv_id string, turn_idx int"


def _read_schema(meta: dict, paths: list[str]) -> str:
    """The explicit read schema (a Spark DDL string) of a read of the table
    data files ``paths`` under the schema registry ``meta``.

    With a column-id registry (``schema_cols``): every live id under each
    of its historical names, at the id's type (``resolve_schema_types``:
    registry type, fixed transcript type, ``schema_adds`` record, then the
    footers of ``paths``; an id none of them carries is left out, as a
    footer-merging read would). Without one (absent, or ``[]`` in a
    pinned ``schema_state``): the footer of ``paths[0]`` without ``__``
    columns, then every ``schema_adds`` column it lacks."""
    cols = meta.get("schema_cols") or []
    adds = meta.get("schema_adds") or []
    if cols:
        types = resolve_schema_types(cols, adds, paths)
        fields = [(n, types[c["id"]]) for c in cols
                  if c["id"] in types for n in c["names"]]
    else:
        fields = [(n, t) for n, t in footer_types(paths[0]).items()
                  if not n.startswith("__")]
        have = {n for n, _ in fields}
        fields += [(a["name"], a["type"]) for a in adds
                   if a["name"] not in have]
    return ", ".join(f"{_quote(n)} {t}" for n, t in fields)


def _table_reader(spark: SparkSession, table: Table, meta: dict | None,
                  paths: list[str]):
    """The parquet reader for the table data files ``paths``: always
    ``spark.read.schema(...)`` with the explicit schema ``_read_schema``
    derives from the table's own metadata, so no read pays Spark's
    footer-inference job. The same schema serves an evolved table: a name
    absent from a file (a pre-add file, a pre- or post-rename file)
    null-fills, a dropped id's names are simply not read, and a narrow
    physical column is upcast in place to its widened type (a
    footer-merging read refuses mixed widths). ``reconcile_schema`` then
    maps historical names to current ones."""
    # callers on the scan path pass the already-loaded metadata: one scan
    # otherwise re-parses the full table metadata (snapshot log +
    # manifest-list summaries) once per reader
    if meta is None:
        meta = table.load_metadata()
    return spark.read.schema(_read_schema(meta, paths))


def _read_entries(spark: SparkSession, table: Table, meta: dict | None,
                  entries: list[DataFile]) -> DataFrame:
    """The raw (pre-reconciliation) read of these data files, through
    ``_table_reader``."""
    paths = [os.path.join(table.root, e.path) for e in entries]
    return _table_reader(spark, table, meta, paths).parquet(*paths)


def reconcile_schema(table: Table, df: DataFrame,
                     meta: dict | None = None) -> DataFrame:
    """Schema evolution, read side (column-id mapping + additive fill):

    1. rename/drop registry (``Table.schema_cols``): every historical
       physical name maps to its column id's CURRENT name — a single old
       name is renamed in place, several names (the explicit read schema
       carries every historical name, each null where a file lacks it)
       coalesce newest-first, and dropped ids disappear from the output;
    2. additive evolution (``Table.schema_adds``): every registered added
       column exists on the way out — typed nulls when the frame lacks
       it. An add that was later renamed fills under its current
       name; an add that was later dropped is not filled."""
    if meta is None:
        meta = table.load_metadata()   # one metadata read serves both passes
    cols = meta.get("schema_cols", [])
    adds = meta.get("schema_adds", [])
    for c in cols:
        names = c["names"]
        present = [n for n in names if n in df.columns]
        if c.get("dropped"):
            if present:
                df = df.drop(*present)
            continue
        cur = names[-1]
        if present and present != [cur]:
            if len(present) == 1:
                df = df.withColumnRenamed(present[0], cur)
            else:
                expr = F.coalesce(*[F.col(n) for n in reversed(present)])
                df = (df.withColumn("__evo_tmp", expr).drop(*present)
                      .withColumnRenamed("__evo_tmp", cur))
        # widened ids: belt-and-braces cast for readers that bypassed the
        # explicit wide schema (e.g. a frame assembled before the widen);
        # a no-op when the reader already delivered the wide type
        if c.get("widened") and cur in df.columns \
                and df.schema[cur].dataType.simpleString() != c["type"]:
            df = df.withColumn(cur, F.col(cur).cast(c["type"]))
    # resolve an add's CURRENT name through the registry (renames/drops of
    # added columns)
    by_hist = {n: c for c in cols for n in c["names"]}
    for a in adds:
        c = by_hist.get(a["name"])
        if c is not None and c.get("dropped"):
            continue
        cur = c["names"][-1] if c is not None else a["name"]
        if cur not in df.columns:
            # the registry type wins: an added-then-widened column must
            # null-fill at the WIDE type or unions type-clash
            fill_t = (c or {}).get("type") or a["type"]
            df = df.withColumn(cur, F.lit(None).cast(fill_t))
    return df


# historical name kept for back-compat with pre-rename call sites
reconcile_added_columns = reconcile_schema


def conv_overlap(a: DataFile, b: DataFile) -> bool:
    """Conservative conv_id range overlap from manifest stats (missing
    stats → True)."""
    sa, sb = a.stats.get("conv_id") or {}, b.stats.get("conv_id") or {}
    if None in (sa.get("min"), sa.get("max"), sb.get("min"), sb.get("max")):
        return True
    return not (str(sa["max"]) < str(sb["min"])
                or str(sa["min"]) > str(sb["max"]))


def delete_min_seq(d: DataFile) -> int:
    """The smallest sequence number any delete ROW in this file can carry:
    a file written by ``compact_deletes`` materializes each row's original
    sequence in a ``__delete_seq`` column (its manifest min is authoritative
    — the file's own sequence number is the FOLD commit's, which is later
    than every row it carries); a raw merge-written delete file's rows all
    share the file's sequence number. Used by the scan fast-path split
    (data files older than EVERY delete row take the seq-free anti-join)."""
    st = (d.stats or {}).get(_DELETE_SEQ_COL) or {}
    mn = st.get("min")
    return int(mn) if mn is not None else d.sequence_number


def delete_max_seq(d: DataFile) -> int:
    """The LARGEST sequence number any delete row in this file can carry —
    the shadow-ability bound: a data file with sequence >= this can never
    be shadowed by any row in ``d``. For a folded file this is the
    ``__delete_seq`` manifest max (strictly below the fold commit's file
    sequence — using the file sequence would mark every pre-fold data file
    shadowable forever); missing stats fall back to the file sequence,
    which over-selects (safe: extra rewrite work, never resurrection)."""
    st = (d.stats or {}).get(_DELETE_SEQ_COL) or {}
    mx = st.get("max")
    return int(mx) if mx is not None else d.sequence_number


def shadowable(e: DataFile, d: DataFile) -> bool:
    """Can ANY delete row in ``d`` shadow rows of data file ``e``?
    Row-level sequence ceiling (``delete_max_seq`` — a delete row applies
    only to strictly older data) + conservative conv-range overlap. The
    single definition every shadow-ability consumer (rewrite_deletes, the
    cadence policy, CoW-merge delete selection, CDC extra-file inclusion,
    delete_where) shares — the r5 fold fix had to touch five copies."""
    return e.sequence_number < delete_max_seq(d) and conv_overlap(e, d)


def delete_rows_with_seq(spark: SparkSession, table: Table,
                         delete_entries: list[DataFile]) -> DataFrame:
    """The merge keys + effective sequence of every equality-delete row:
    the materialized ``__delete_seq`` column when the file was written by
    ``compact_deletes``, else the file's own sequence number (broadcast
    basename→seq map joined on ``input_file_name()`` — no per-file plan).
    One fixed read schema serves every backlog: a raw merge-written file
    lacks ``__delete_seq``, which null-fills and falls back to the
    file-level sequence."""
    dseq_rows = [(os.path.basename(e.path), e.sequence_number)
                 for e in delete_entries]
    dseq_map = F.broadcast(spark.createDataFrame(
        dseq_rows, "__mor_b string, __mor_fseq long"))
    raw = (spark.read.schema(f"{KEY_SCHEMA}, {_DELETE_SEQ_COL} long")
           .parquet(*[os.path.join(table.root, e.path)
                      for e in delete_entries])
           .withColumn("__mor_b", F.element_at(
               F.split(F.input_file_name(), "/"), -1))
           .join(dseq_map, "__mor_b"))
    seq = F.coalesce(F.col(_DELETE_SEQ_COL), F.col("__mor_fseq"))
    return raw.select(*MERGE_KEYS, seq.alias(_DELETE_SEQ_COL))


def read_with_deletes(spark: SparkSession, table: Table,
                      data_entries: list[DataFile],
                      delete_entries: list[DataFile],
                      meta: dict | None = None) -> DataFrame:
    """Delete-applied read of ``data_entries``, split by sequence number:

    files OLDER than every delete row (the overwhelming bulk — the base
    table) need no per-row sequence tagging at all, because every delete
    applies to them unconditionally → ONE plain broadcast anti-join on the
    merge keys (hash probe on two columns, no input_file_name() string
    work). Only files at-or-after the oldest delete's sequence (the tiny
    MoR insert files of later generations) take the seq-aware path of
    ``apply_equality_deletes``. Measured: the split cuts the scan-time
    delete overhead ~4× on a 1.4M-row table with a 3-generation backlog."""
    if meta is None:
        meta = table.load_metadata()
    if not delete_entries:
        return reconcile_added_columns(
            table, _read_entries(spark, table, meta, data_entries), meta)
    min_del = min(delete_min_seq(d) for d in delete_entries)
    old = [e for e in data_entries if e.sequence_number < min_del]
    new = [e for e in data_entries if e.sequence_number >= min_del]
    parts = []
    if old:
        df_old = _read_entries(spark, table, meta, old)
        dels = (delete_rows_with_seq(spark, table, delete_entries)
                .select(*MERGE_KEYS))
        if sum(d.file_size_bytes for d in delete_entries) \
                <= _DELETE_BROADCAST_MAX_BYTES:
            dels = F.broadcast(dels)
        parts.append(df_old.join(dels, list(MERGE_KEYS), "left_anti"))
    if new:
        df_new = _read_entries(spark, table, meta, new)
        parts.append(apply_equality_deletes(spark, table, df_new, new,
                                            delete_entries))
    out = parts[0]
    for p in parts[1:]:
        # post-evolution inserts may carry a column the pre-add base lacks
        out = out.unionByName(p, allowMissingColumns=True)
    return reconcile_added_columns(table, out, meta)


def apply_equality_deletes(spark: SparkSession, table: Table, df: DataFrame,
                           data_entries: list[DataFile],
                           delete_entries: list[DataFile],
                           base_col: str | None = None) -> DataFrame:
    """Merge-on-read: drop rows of ``df`` matched by an equality-delete file
    with a LARGER sequence number than the row's source data file.

    One hash anti-join, no per-file plans: every row is tagged with its data
    file's sequence number via a broadcast basename→seq map joined on
    ``input_file_name()`` (the same zero-cost routing trick as compaction),
    the delete rows carry their own file's seq the same way, and the
    anti-join condition is (keys equal AND data_seq < delete_seq) — an
    equi-join on the merge keys with a residual filter, so it hash-joins.
    Delete files are tiny relative to data (O(late updates)); they broadcast
    under ``_DELETE_BROADCAST_MAX_BYTES`` (manifest byte stats, no job).

    ``base_col``: name of an existing basename column on ``df`` (e.g.
    compaction's routing key) — when None, one is derived and dropped."""
    if not delete_entries or not data_entries:
        return df
    drop_base = base_col is None
    if base_col is None:
        base_col = "__mor_base"
        df = df.withColumn(base_col, F.element_at(
            F.split(F.input_file_name(), "/"), -1))
    seq_rows = [(os.path.basename(e.path), e.sequence_number)
                for e in data_entries]
    seq_map = F.broadcast(spark.createDataFrame(
        seq_rows, "__mor_b string, __mor_seq long"))
    df = df.join(seq_map, df[base_col] == F.col("__mor_b"), "left") \
           .drop("__mor_b")
    dels = (delete_rows_with_seq(spark, table, delete_entries)
            .select(*[F.col(k).alias(f"__mor_{k}") for k in MERGE_KEYS],
                    F.col(_DELETE_SEQ_COL).alias("__mor_dseq")))
    if sum(e.file_size_bytes for e in delete_entries) \
            <= _DELETE_BROADCAST_MAX_BYTES:
        dels = F.broadcast(dels)
    cond = (F.col("__mor_seq") < F.col("__mor_dseq"))
    for k in MERGE_KEYS:
        cond = cond & (df[k] == F.col(f"__mor_{k}"))
    out = df.join(dels, cond, "left_anti").drop("__mor_seq")
    if drop_base:
        out = out.drop(base_col)
    return out


@dataclass(frozen=True)
class Predicate:
    """Minimal pruning predicate language: =, <, <=, >, >=, in, notnull.
    ``in`` values must be a SORTED list (bisect-based planning)."""
    column: str
    op: str          # 'eq' | 'lt' | 'le' | 'gt' | 'ge' | 'in' | 'notnull'
    value: Any = None

    def to_column(self) -> "F.Column":
        """Row-level Spark expression for this predicate (the same
        semantics the file-level pruning approximates): NULL-valued rows
        never match (SQL three-valued logic collapses to False at the
        filter)."""
        c = F.col(self.column)
        if self.op == "notnull":
            return c.isNotNull()
        if self.op == "in":
            return c.isin(list(self.value))
        ops = {"eq": c.__eq__, "lt": c.__lt__, "le": c.__le__,
               "gt": c.__gt__, "ge": c.__ge__}
        return ops[self.op](F.lit(self.value))

    def matches_all(self, f: DataFile) -> bool:
        """True only when the file's stats PROVE every row matches —
        the gate for metadata-only whole-file operations (DELETE drops the
        file without reading it, Iceberg's partition-predicate delete).
        Conservative in the safe direction: False whenever unprovable
        (missing stats, possible nulls, truncated string bounds make
        min==max unprovable for long values)."""
        st = f.stats.get(self.column)
        if not st:
            return False
        if st.get("null_count") != 0:
            return False  # a NULL row matches no predicate
        if self.op == "notnull":
            return True
        mn, mx = st.get("min"), st.get("max")
        if mn is None or mx is None:
            return False
        v = self.value
        try:
            if self.op == "eq":
                return mn == mx == v
            if self.op == "in":
                return mn == mx and mn in v
            if self.op == "lt":
                return mx < v
            if self.op == "le":
                return mx <= v
            if self.op == "gt":
                return mn > v
            if self.op == "ge":
                return mn >= v
        except TypeError:
            return False
        return False

    def might_match(self, f: DataFile) -> bool:
        """Conservative: True unless the file's stats PROVE no row matches."""
        st = f.stats.get(self.column)
        if not st:
            return True
        mn, mx = st.get("min"), st.get("max")
        v = self.value
        if self.op == "notnull":
            nulls = st.get("null_count")
            return not (nulls is not None and nulls >= f.record_count)
        if mn is None or mx is None:
            return True
        try:
            if self.op == "eq":
                return mn <= v <= mx
            if self.op == "lt":
                return mn < v
            if self.op == "le":
                return mn <= v
            if self.op == "gt":
                return mx > v
            if self.op == "ge":
                return mx >= v
            if self.op == "in":
                # planning is O(files × log keys), not O(files × keys):
                # with a sorted key list, one bisect decides whether any key
                # falls inside this file's [min, max]
                import bisect
                try:
                    i = bisect.bisect_left(v, mn)
                    return i < len(v) and v[i] <= mx
                except TypeError:
                    return any(mn <= x <= mx for x in v)
        except TypeError:
            return True  # incomparable types (e.g. str bound vs ts) → keep
        return True


def prune_files(entries: list[DataFile],
                predicates: list[Predicate] | None) -> list[DataFile]:
    if not predicates:
        return entries
    return [f for f in entries
            if all(p.might_match(f) for p in predicates)]


def scan(spark: SparkSession, table: Table,
         snapshot_id: int | None = None,
         predicates: list[Predicate] | None = None,
         columns: list[str] | None = None,
         as_of_ms: int | None = None,
         ref: str | None = None,
         schema: str = "pinned") -> DataFrame:
    """Read a pinned snapshot. File list comes ONLY from the snapshot's
    manifests (never a live directory listing), so concurrent maintenance
    commits are invisible — snapshot isolation. ``as_of_ms`` time-travels
    to the latest snapshot committed at or before that timestamp; ``ref``
    reads a named branch head or tag (mutually exclusive with the other
    two — the audit read of write-audit-publish).

    ``schema`` (Iceberg's branch-vs-tag schema rule): time-travel reads
    (``snapshot_id``/``as_of_ms``) and TAG reads resolve columns with the
    SNAPSHOT's pinned schema — a column renamed or dropped later still
    appears under its then-current name; BRANCH and head reads use the
    table's current schema. Pass ``schema='current'`` to force today's
    schema onto a historical read (what ``changes_between`` does so both
    diff sides align). Legacy snapshots without a pinned state always use
    the current schema."""
    snap: Snapshot | None
    if sum(x is not None for x in (snapshot_id, as_of_ms, ref)) > 1:
        raise ValueError("pass at most one of snapshot_id / as_of_ms / ref")
    ref_is_tag = False
    # ONE metadata parse resolves the snapshot (ref record, time travel or
    # head) AND, unless pinned, the schema registry
    live_meta = table.load_metadata()
    if ref is not None:
        r = live_meta.get("refs", {}).get(ref)
        if r is None:
            raise KeyError(f"ref {ref!r} not found")
        if r["snapshot_id"] is None:
            raise KeyError(f"ref {ref!r} has no commits yet (branch "
                           "rooted at the null snapshot)")
        snap = table.snapshot(r["snapshot_id"], meta=live_meta)
        ref_is_tag = r.get("type") == "tag"
    elif as_of_ms is not None:
        snap = table.snapshot_as_of(as_of_ms, meta=live_meta)
    elif snapshot_id is None:
        snap = table.current_snapshot(meta=live_meta)
    else:
        snap = table.snapshot(snapshot_id, meta=live_meta)
    if snap is None:
        raise ValueError("scan of empty table; append data first")
    pin = (schema == "pinned" and snap.schema_state is not None
           and (snapshot_id is not None or as_of_ms is not None
                or ref_is_tag))
    meta = snap.schema_state if pin else live_meta
    # two-level pruning: whole manifests are skipped via the snapshot's
    # manifest-list summaries (never opened), then file-level stats prune
    # within the manifests that remain
    entries = table.manifest_entries(snap, predicates=predicates)
    entries = prune_files(entries, predicates)
    if not entries:
        # empty relation with the read schema (the first file's, for a
        # table without a registry), built locally: no file is read
        all_entries = table.manifest_entries(snap)
        if not all_entries:
            raise ValueError("scan of empty table; append data first")
        df = spark.createDataFrame([], _read_schema(
            meta, [os.path.join(table.root, all_entries[0].path)]))
    else:
        # merge-on-read: apply equality-delete files (pruned by the same
        # predicates — a delete outside the predicate key range cannot
        # affect a surviving row). Tables without deletes (the steady state
        # between sparse merges and compactions) skip this entirely: zero
        # plan overhead.
        dels = table.manifest_entries(snap, content="deletes",
                                      predicates=predicates)
        if dels:
            dels = prune_files(dels, predicates)
        if dels:
            df = read_with_deletes(spark, table, entries, dels, meta)
        else:
            df = _read_entries(spark, table, meta, entries)
    df = reconcile_added_columns(table, df, meta)
    if columns:
        df = df.select(*columns)
    return df


def incremental_scan(spark: SparkSession, table: Table,
                     from_snapshot_id: int,
                     to_snapshot_id: int | None = None) -> DataFrame:
    """Rows from data files ADDED strictly after ``from_snapshot_id`` up to
    ``to_snapshot_id`` (default: current) — Iceberg-style incremental append
    scan. For append snapshots this is exactly the new rows; for
    copy-on-write merge/compact/cluster snapshots it returns the rewritten
    files, and for merge-on-read commits the new insert files (in both
    cases a superset of the changed rows — use ``changes_between`` for
    exact row-level CDC)."""
    meta = table.load_metadata()
    base = {e.path for e in table.manifest_entries(
        table.snapshot(from_snapshot_id, meta=meta))}
    target = (table.current_snapshot(meta=meta) if to_snapshot_id is None
              else table.snapshot(to_snapshot_id, meta=meta))
    new = [e for e in table.manifest_entries(target) if e.path not in base]
    if not new:
        return scan(spark, table, snapshot_id=target.snapshot_id,
                    schema="current").limit(0)
    return reconcile_added_columns(
        table, _read_entries(spark, table, meta, new), meta)


def changes_between(spark: SparkSession, table: Table,
                    from_snapshot_id: int,
                    to_snapshot_id: int | None = None,
                    include_preimages: bool = False) -> DataFrame:
    """Exact row-level CDC between two snapshots (Iceberg changelog-scan /
    Delta CDF analog): one row per changed (conv_id, turn_idx) with
    ``_change`` ∈ {'insert', 'update', 'delete'} and the NEW row values
    (null payload for deletes).

    ``include_preimages=True`` (VERDICT r5 task #5, Delta CDF's
    ``update_preimage``) additionally emits one ``'update_preimage'`` row
    per update carrying the OLD values, and fills delete rows' payload
    with the old values instead of nulls — a downstream incremental
    consumer (feature backfill, training-set diff audit) gets the old
    value without a second time-travel scan. The full-row-compare join
    already has both sides in hand, so the flag costs no extra read; a
    replay consumer stays correct by simply ignoring
    ``_change = 'update_preimage'`` rows.

    Computed as a full-row-compare anti-join of the two snapshot reads —
    correct for every commit kind (append, CoW merge, MoR merge,
    compaction, clustering): pure layout changes (compact/cluster) diff to
    ZERO rows because the row sets are identical. Cost is a shuffle join
    over the files that CHANGED between the snapshots (unchanged files are
    carried by reference and pruned from both sides before the join), so a
    sparse MoR merge diffs in O(worklist + shadowed files), not O(table).
    Row equality is by 64-bit xxhash of the full row (a change is missed
    only on a hash collision, ~2⁻⁶⁴ per changed row — the standard CDC
    trade; diff keys themselves are exact).
    """
    from_snap = table.snapshot(from_snapshot_id)
    to_snap = (table.current_snapshot() if to_snapshot_id is None
               else table.snapshot(to_snapshot_id))
    old_data = table.manifest_entries(from_snap)
    new_data = table.manifest_entries(to_snap)
    old_dels = table.manifest_entries(from_snap, content="deletes")
    new_dels = table.manifest_entries(to_snap, content="deletes")
    old_paths = {e.path for e in old_data} | {d.path for d in old_dels}
    new_paths = {e.path for e in new_data} | {d.path for d in new_dels}
    changed = old_paths ^ new_paths
    keys = list(MERGE_KEYS)

    # rows from UNCHANGED data files can still change state when a DELETE
    # file was added or removed between the snapshots — include every
    # unchanged data file such a delete may shadow (older sequence AND
    # overlapping conv_id range, from manifest stats), and include the SAME
    # set on BOTH sides so untouched rows cancel in the diff instead of
    # surfacing as phantom inserts/deletes. A targeted sparse merge's
    # delete file has a narrow key range, so the diff stays O(worklist +
    # shadowed files), not O(table).
    changed_dels = [d for d in (old_dels + new_dels) if d.path in changed]
    extra_paths = {e.path for e in old_data
                   if e.path not in changed
                   and any(shadowable(e, d) for d in changed_dels)}

    def _side(data, dels):
        picked = [e for e in data if e.path in changed
                  or e.path in extra_paths]
        if not picked:
            return None
        return read_with_deletes(spark, table, picked, dels)

    old_df = _side(old_data, old_dels)
    new_df = _side(new_data, new_dels)
    if old_df is None and new_df is None:
        empty = scan(spark, table, snapshot_id=to_snap.snapshot_id,
                     schema="current").limit(0)
        return empty.withColumn("_change", F.lit("insert")).limit(0)
    if old_df is None:
        return new_df.withColumn("_change", F.lit("insert"))
    if new_df is None:
        gone = (old_df
                .join(scan(spark, table, snapshot_id=to_snap.snapshot_id,
                           schema="current").select(*keys),
                      keys, "left_anti"))
        if not include_preimages:
            gone = gone.select(*keys)
        return gone.withColumn("_change", F.lit("delete"))
    cols = new_df.columns
    payload = [c for c in cols if c not in keys]
    old_sel = [*keys, F.xxhash64(*cols).alias("__h_old")]
    if include_preimages:
        old_sel += [F.col(c).alias(f"__old_{c}") for c in payload]
    old_k = old_df.select(*old_sel)
    new_k = new_df.select(*cols, F.xxhash64(*cols).alias("__h_new"))
    j = new_k.join(old_k, keys, "full")
    upd_cond = (F.col("__h_old").isNotNull()
                & F.col("__h_new").isNotNull()
                & (F.col("__h_old") != F.col("__h_new")))
    inserted = (j.filter(F.col("__h_old").isNull())
                .select(*cols).withColumn("_change", F.lit("insert")))
    updated = (j.filter(upd_cond)
               .select(*cols).withColumn("_change", F.lit("update")))
    if include_preimages:
        old_cols = [*[F.col(k) for k in keys],
                    *[F.col(f"__old_{c}").alias(c) for c in payload]]
        preimages = (j.filter(upd_cond)
                     .select(*old_cols).select(*cols)
                     .withColumn("_change", F.lit("update_preimage")))
        deleted = (j.filter(F.col("__h_new").isNull())
                   .select(*old_cols).select(*cols)
                   .withColumn("_change", F.lit("delete")))
        return (inserted.unionByName(preimages).unionByName(updated)
                .unionByName(deleted))
    deleted = (j.filter(F.col("__h_new").isNull())
               .select(*[F.col(k) for k in keys],
                       *[F.lit(None).cast(new_df.schema[c].dataType)
                         .alias(c) for c in cols if c not in keys])
               .select(*cols)  # reorder to the table schema
               .withColumn("_change", F.lit("delete")))
    return inserted.unionByName(updated).unionByName(deleted)


def scan_stats(table: Table, snapshot_id: int | None = None) -> dict:
    """Planning metrics: files/rows/bytes in a snapshot (driver-side, O(files))."""
    snap = (table.current_snapshot() if snapshot_id is None
            else table.snapshot(snapshot_id))
    entries = table.manifest_entries(snap)
    dels = table.manifest_entries(snap, content="deletes")
    out = {
        "files": len(entries),
        "rows": sum(e.record_count for e in entries),
        "bytes": sum(e.file_size_bytes for e in entries),
    }
    if dels:
        # merge-on-read backlog: 'rows' above counts physical data rows
        # (pre-delete); delete_rows is the equality-delete key count — an
        # upper bound on dead rows (stacked merges on one key write one
        # delete per generation). Exact live counts need a scan.
        out["delete_files"] = len(dels)
        out["delete_rows"] = sum(e.record_count for e in dels)
    return out
