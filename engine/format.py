"""From-scratch Iceberg-style table format: snapshots, manifests, atomic commit.

The reference data lake is a bare directory of CSV files with no catalog, no
transactions and no statistics (``cesid_datalake_imputation/readme.md:39-46``;
glob scan ``codes/search/construct_index.py:445-447``).  This module supplies
what that lacks, from scratch (no Iceberg runtime in the sandbox):

Layout of a table rooted at ``root``::

    root/
      data/<file>.parquet              immutable data files
      metadata/
        v<N>.metadata.json             full metadata at version N (schema,
                                       snapshot log, current snapshot id)
        manifest-<uuid>.json           data-file entries + per-file min/max
                                       column stats (the scan-pruning analog of
                                       the reference's hand-rolled range filter,
                                       codes/estimation/row_acquisitor.py:705-712)
        version-hint.text              current version N  (atomic os.replace)

Snapshot isolation: data files and metadata versions are immutable; a commit
writes new files + a new ``v<N+1>.metadata.json`` and atomically swaps the
version hint.  Readers resolve a pinned snapshot id to its manifest list and
never consult the live directory listing.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Iterable

import pyarrow.parquet as pq

# Columns worth tracking min/max for (pruning keys). Strings kept short by
# truncating bounds like Iceberg does (lower bound truncate, upper bound
# truncate + increment last char).
_MAX_BOUND_LEN = 64

# the fixed transcript schema: merge keys, clustering keys and the
# imputation targets are structural — every operator addresses them by
# name, so schema evolution (rename/drop) applies to extension columns
# only. This is the engine's honest version of the reference's fixed
# conversation-table shape (``codes/utils/inject_missing_values.py``).
_CORE_COLS = ("conv_id", "turn_idx", "ts", "role", "text", "tool")

# the fixed transcript schema's physical types (BASELINE.json input_hint) —
# the registry bootstrap's footer-free fallback
_CORE_TYPES = {"conv_id": "string", "turn_idx": "int", "ts": "timestamp",
               "role": "string", "text": "string", "tool": "string"}

# lossless type promotions (Iceberg's int->long / float->double lattice,
# plus the narrower integer steps): everything Spark 4's parquet readers
# can upcast at scan time from the narrow physical column
_WIDEN_OK = {
    "tinyint": ("smallint", "int", "bigint"),
    "smallint": ("int", "bigint"),
    "int": ("bigint",),
    "float": ("double",),
}


def _arrow_sql_type(t) -> str:
    """Spark SQL type string for a pyarrow field type — the type Spark's
    own footer inference gives the same parquet column (the physical types
    this engine writes; anything else raises)."""
    import pyarrow as pa
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"array<{_arrow_sql_type(t.value_type)}>"
    if pa.types.is_map(t):
        return (f"map<{_arrow_sql_type(t.key_type)},"
                f"{_arrow_sql_type(t.item_type)}>")
    if pa.types.is_struct(t):
        return "struct<" + ",".join(
            f"{_quote(f.name)}:{_arrow_sql_type(f.type)}" for f in t) + ">"
    if pa.types.is_int8(t):
        return "tinyint"
    if pa.types.is_int16(t):
        return "smallint"
    if pa.types.is_int32(t):
        return "int"
    if pa.types.is_int64(t):
        return "bigint"
    if pa.types.is_float32(t):
        return "float"
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_boolean(t):
        return "boolean"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_timestamp(t):
        # a UTC-adjusted parquet timestamp is Spark's instant type; a
        # tz-less (local) one is inferred as timestamp_ntz
        return "timestamp" if t.tz is not None else "timestamp_ntz"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    raise ValueError(f"unmapped physical parquet type: {t}")


def _quote(name: str) -> str:
    """A column name as a Spark DDL identifier."""
    return "`" + name.replace("`", "``") + "`"


def footer_types(path: str) -> dict[str, str]:
    """Name → Spark SQL type of a parquet file's top-level columns, in file
    order, read from its footer with pyarrow on the driver (no Spark job).
    INT96 columns (legacy Spark timestamps, which pyarrow reports tz-less)
    are ``timestamp``, as Spark reads them."""
    with pq.ParquetFile(path) as pf:
        leaves = [pf.schema.column(i) for i in range(len(pf.schema))]
        arrow = pf.schema_arrow
    int96 = {c.path for c in leaves if c.physical_type == "INT96"}
    return {f.name: "timestamp" if f.name in int96
            else _arrow_sql_type(f.type) for f in arrow}


def resolve_schema_types(cols: list[dict], adds: list[dict] | None,
                         paths: Iterable[str]) -> dict[int, str]:
    """Spark SQL type of every live column id of the registry ``cols``: its
    own ``type``, else the fixed transcript type, else its ``schema_adds``
    record (all footer-free), else the first footer among ``paths`` (opened
    lazily, in order, until every id is typed) carrying any name in its
    history. An id none of those footers carries is absent from the
    result. The fixed transcript columns cannot be renamed and an add's
    record keeps its original name, so ``names[0]`` is authoritative for
    both lookups."""
    add_types = {a["name"]: a["type"] for a in (adds or [])}
    out: dict[int, str] = {}
    need = []
    for c in cols:
        if c.get("dropped"):
            continue
        t = (c.get("type") or _CORE_TYPES.get(c["names"][0])
             or add_types.get(c["names"][0]))
        if t is not None:
            out[c["id"]] = t
        else:
            need.append(c)
    for p in paths:
        if not need:
            break
        phys = footer_types(p)
        for c in list(need):
            n = next((n for n in c["names"] if n in phys), None)
            if n is not None:
                out[c["id"]] = phys[n]
                need.remove(c)
    return out


def _schema_state_of(meta: dict) -> dict | None:
    """Deep copy of the evolution registry for snapshot pinning; None while
    the table has never evolved (the steady state pays nothing)."""
    cols, adds = meta.get("schema_cols"), meta.get("schema_adds")
    if not cols and not adds:
        return None
    return json.loads(json.dumps({"schema_cols": cols or [],
                                  "schema_adds": adds or []}))


class ConstraintViolation(RuntimeError):
    """A write produced rows violating a registered CHECK constraint. The
    staged files are discarded and nothing commits — bad data never becomes
    a snapshot (Delta-style enforcement at the write boundary)."""


class CommitConflictError(RuntimeError):
    """A commit tried to remove data files that are no longer referenced by
    the current snapshot — a concurrent pass (compaction, clustering, another
    merge) already replaced them. Committing anyway would resurrect the
    replaced files' rows through the loser's rewritten copies (duplicates on
    scan). The loser must abandon its staged output (checkpoint
    ``abandon()`` makes it sweepable) and either abort or replan from the
    fresh snapshot — the same optimistic-concurrency rule as Iceberg's
    validation of overwritten files on commit."""


def _truncate_lower(v: str) -> str:
    return v[:_MAX_BOUND_LEN]


def _truncate_upper(v: str) -> str | None:
    """Truncate-with-carry like Iceberg: walk backwards to a char that can
    be incremented (dropping maxed-out tails), skipping the surrogate range
    so the bound stays valid JSON. Returns None (= unbounded, conservative)
    when no char is incrementable."""
    if len(v) <= _MAX_BOUND_LEN:
        return v
    head = v[:_MAX_BOUND_LEN]
    for i in range(len(head) - 1, -1, -1):
        c = ord(head[i])
        if c >= 0x10FFFF:
            continue  # maxed: drop it and carry into the previous char
        nc = c + 1
        if 0xD800 <= nc <= 0xDFFF:
            nc = 0xE000  # skip the surrogate block
        return head[:i] + chr(nc)
    return None


def _jsonable(v: Any) -> Any:
    """Make a parquet stat value JSON-serializable, order-preserving."""
    if v is None or isinstance(v, (int, float, bool, str)):
        return v
    return str(v)


@dataclass
class DataFile:
    path: str                      # relative to table root
    record_count: int
    file_size_bytes: int
    stats: dict[str, dict[str, Any]] = field(default_factory=dict)
    # stats[col] = {"min": ..., "max": ..., "null_count": int}
    content: str = "data"          # 'data' | 'deletes' (Iceberg-v2 style)
    sequence_number: int = 0       # commit order; a delete file applies to
    #                                data files with STRICTLY SMALLER seq

    def to_json(self) -> dict:
        out = {
            "path": self.path,
            "record_count": self.record_count,
            "file_size_bytes": self.file_size_bytes,
            "stats": self.stats,
        }
        if self.content != "data":
            out["content"] = self.content
        if self.sequence_number:
            out["sequence_number"] = self.sequence_number
        return out

    @staticmethod
    def from_json(d: dict) -> "DataFile":
        return DataFile(d["path"], d["record_count"], d["file_size_bytes"],
                        d.get("stats", {}), d.get("content", "data"),
                        d.get("sequence_number", 0))


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    timestamp_ms: int
    operation: str                 # append / merge / compact / cluster / ...
    manifests: list[str]           # manifest file names (metadata/ relative)
    summary: dict[str, Any] = field(default_factory=dict)
    # per-manifest key-range/content summaries (the Iceberg manifest-LIST
    # level): {manifest_name: _manifest_summary(...)}. Lets scan planning
    # skip whole manifests before opening them — without this, every plan
    # JSON-parses every manifest entry on the driver, which at the 100 TB
    # design point (~800k files / ~12.5k manifests) is seconds of serial
    # planner work per scan. Absent for legacy snapshots (→ always open).
    manifest_meta: dict[str, dict] = field(default_factory=dict)
    # schema pinning (Iceberg semantics): the (schema_cols, schema_adds)
    # registry state at commit time, recorded only once the table has
    # evolved. Time-travel and TAG reads resolve columns with the
    # snapshot's own schema; BRANCH reads use the table's current schema
    # (matching Iceberg's branch-vs-tag schema rule). None for legacy
    # snapshots and un-evolved tables (scan falls back to current).
    schema_state: dict | None = None

    def to_json(self) -> dict:
        out = {
            "snapshot_id": self.snapshot_id,
            "parent_id": self.parent_id,
            "timestamp_ms": self.timestamp_ms,
            "operation": self.operation,
            "manifests": self.manifests,
            "summary": self.summary,
        }
        if self.manifest_meta:
            out["manifest_meta"] = {m: self.manifest_meta[m]
                                    for m in self.manifests
                                    if m in self.manifest_meta}
        if self.schema_state is not None:
            out["schema_state"] = self.schema_state
        return out

    @staticmethod
    def from_json(d: dict) -> "Snapshot":
        return Snapshot(d["snapshot_id"], d.get("parent_id"),
                        d["timestamp_ms"], d["operation"], d["manifests"],
                        d.get("summary", {}), d.get("manifest_meta", {}),
                        d.get("schema_state"))


# columns whose per-manifest [min, max] range is tracked at the manifest-
# list level: the clustering/merge key and the event-time column — the two
# axes every hot scan predicates on (rewrite_manifests sorts entries by
# conv_id, so the ranges are tight by construction)
_MANIFEST_RANGE_COLS = ("conv_id", "ts")


def _manifest_summary(entries: list["DataFile"]) -> dict:
    """Manifest-list-level summary of one manifest's entries, computed from
    in-memory metadata at write time (no file read): entry/content counts,
    sequence-number bounds, and per-column [min, max] ranges (only when
    EVERY entry carries stats for the column — a single stat-less entry
    makes the range unbounded, conservative). Delete entries additionally
    carry row-level ``__delete_seq`` bounds so shadow-ability questions can
    be answered without opening the manifest."""
    s: dict[str, Any] = {
        "entries": len(entries),
        "rows": sum(e.record_count for e in entries),
        "bytes": sum(e.file_size_bytes for e in entries),
        "data": sum(1 for e in entries if e.content == "data"),
        "deletes": sum(1 for e in entries if e.content == "deletes"),
    }
    if entries:
        s["min_seq"] = min(e.sequence_number for e in entries)
        s["max_seq"] = max(e.sequence_number for e in entries)
    ranges: dict[str, list] = {}
    for col in _MANIFEST_RANGE_COLS:
        lo = hi = None
        ok = True
        for e in entries:
            st = e.stats.get(col) or {}
            mn, mx = st.get("min"), st.get("max")
            if mn is None or mx is None:
                ok = False
                break
            lo = mn if lo is None or mn < lo else lo
            hi = mx if hi is None or mx > hi else hi
        if ok and lo is not None:
            ranges[col] = [lo, hi]
    if ranges:
        s["ranges"] = ranges
    dels = [e for e in entries if e.content == "deletes"]
    if dels:
        # row-level sequence bounds (mirrors engine.scan.delete_min_seq/
        # delete_max_seq: a compact_deletes-folded file materializes each
        # row's original seq in __delete_seq; raw files use the file seq)
        def _row_seq(e: "DataFile", kind: str) -> int:
            v = (e.stats.get("__delete_seq") or {}).get(kind)
            return int(v) if v is not None else e.sequence_number
        s["del_min_seq"] = min(_row_seq(e, "min") for e in dels)
        s["del_max_seq"] = max(_row_seq(e, "max") for e in dels)
    return s


def collect_parquet_stats(abs_path: str) -> tuple[int, int, dict]:
    """Per-file record count, byte size and min/max/null_count per column,
    read from the Parquet footer (cheap: no data pages touched).

    This is the engine's analog of the reference computing a column's min/max
    once and range-filtering rows against it
    (``codes/estimation/row_acquisitor.py:705-712``) — promoted from a
    hand-rolled row filter to *file-level* metadata so the scan can skip whole
    files before Spark ever reads them.
    """
    f = pq.ParquetFile(abs_path)
    md = f.metadata
    names = [md.schema.column(i).name for i in range(md.num_columns)]
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    nulls: dict[str, int] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = names[ci]
            st = col.statistics
            if st is None:
                continue
            if st.has_min_max:
                mn, mx = _jsonable(st.min), _jsonable(st.max)
                if name not in mins or (mn is not None and mn < mins[name]):
                    mins[name] = mn
                if name not in maxs or (mx is not None and mx > maxs[name]):
                    maxs[name] = mx
            if st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count
    stats = {}
    for name in names:
        entry: dict[str, Any] = {}
        if name in mins:
            mn, mx = mins[name], maxs[name]
            if isinstance(mn, str):
                mn, mx = _truncate_lower(mn), _truncate_upper(mx)
            entry["min"] = mn
            if mx is not None:  # None = no representable upper bound
                entry["max"] = mx
        if name in nulls:
            entry["null_count"] = nulls[name]
        if entry:
            stats[name] = entry
    return md.num_rows, os.path.getsize(abs_path), stats


def ts_bounds_micros(entries: list["DataFile"],
                     col: str = "ts") -> tuple[int, int] | None:
    """Global [min, max] of a timestamp column in unix micros, computed from
    manifest stats only (no data scan). Used to normalize the clustering
    curve's time dimension."""
    import datetime
    lo = hi = None
    for e in entries:
        st = e.stats.get(col)
        if not st or "min" not in st:
            continue
        for bound, is_min in ((st["min"], True), (st.get("max"), False)):
            if bound is None:
                continue
            if isinstance(bound, (int, float)):
                us = int(bound)
            else:
                s = str(bound).replace("Z", "+00:00")
                dt = datetime.datetime.fromisoformat(s)
                if dt.tzinfo is None:
                    dt = dt.replace(tzinfo=datetime.timezone.utc)
                us = int(dt.timestamp() * 1_000_000)
            if is_min:
                lo = us if lo is None else min(lo, us)
            else:
                hi = us if hi is None else max(hi, us)
    if lo is None or hi is None:
        return None
    return lo, hi


class Table:
    """Handle to one table; all state lives on disk (no in-memory catalog)."""

    def __init__(self, root: str):
        self.root = os.path.abspath(root)
        self.data_dir = os.path.join(self.root, "data")
        self.meta_dir = os.path.join(self.root, "metadata")
        # summaries of manifests written by THIS handle, pending inclusion
        # in the next commit's snapshot (manifest-list-level pruning)
        self._pending_manifest_meta: dict[str, dict] = {}
        # instrumentation: manifest files actually opened by
        # manifest_entries (tests assert two-level pruning skips opens)
        self.manifest_opens = 0

    # ------------------------------------------------------------------ setup
    @staticmethod
    def create(root: str, schema_json: list[dict] | None = None) -> "Table":
        t = Table(root)
        os.makedirs(t.data_dir, exist_ok=True)
        os.makedirs(t.meta_dir, exist_ok=True)
        meta = {
            "table_uuid": str(uuid.uuid4()),
            "format_version": 1,
            "schema": schema_json or [],
            "current_snapshot_id": None,
            "snapshots": [],
            "version": 0,
        }
        t._write_version(0, meta)
        return t

    @staticmethod
    def exists(root: str) -> bool:
        return os.path.exists(os.path.join(root, "metadata", "version-hint.text"))

    # ------------------------------------------------------- schema evolution
    def schema_cols(self) -> list[dict]:
        """Stable-column-id registry (Iceberg-style), created lazily by the
        first ``rename_column``/``drop_column``:
        ``[{"id", "names": [oldest..current], "dropped"?, "type"?}, ...]``.
        A column's id never changes; its NAME history is the ordered
        ``names`` list (current = last). Data files are name-mapped — each
        file's physical columns use whatever names were current at its
        write time — so the read path maps any historical name to the
        column id's current name (``engine.scan.reconcile_schema``).
        Reference anchor: ragged/renamed headers handled by fuzzy mapping
        (``codes/search/retrieve_relevant_tables.py:24-36``) — here the
        mapping is exact and versioned instead of fuzzy."""
        return self.load_metadata().get("schema_cols", [])

    def _bootstrap_schema_cols(self, meta: dict) -> list[dict]:
        """Materialize the id registry from the physical base schema (one
        representative footer) + registered adds. Idempotent."""
        cols = meta.get("schema_cols")
        if cols is not None:
            return cols
        entries = [e for e in self.manifest_entries(content="all")
                   if e.content == "data"]
        if entries:
            names = [n for n in pq.ParquetFile(os.path.join(
                self.root, entries[0].path)).schema_arrow.names
                if not n.startswith("__")]
        else:
            # no data file yet: the fixed transcript schema IS the base —
            # bootstrapping to adds-only here would permanently drop the
            # core columns from the registry (and, after a widen, from the
            # explicit read schema of every scan)
            names = list(_CORE_COLS)
        cols = [{"id": i + 1, "names": [n]} for i, n in enumerate(names)]
        taken = set(names)
        for a in meta.get("schema_adds", []):
            if a["name"] not in taken:
                cols.append({"id": len(cols) + 1, "names": [a["name"]],
                             "type": a["type"]})
                taken.add(a["name"])
        meta["schema_cols"] = cols
        return cols

    def _all_schema_names(self, meta: dict) -> set[str]:
        """Every name any live or historical column has EVER carried —
        none may be reused: data files are name-mapped (no parquet field
        ids), so a reused name would be ambiguous between two column ids
        at read time."""
        out = {n for c in meta.get("schema_cols", []) for n in c["names"]}
        out |= {a["name"] for a in meta.get("schema_adds", [])}
        for e in self.manifest_entries(content="all"):
            out |= set(e.stats.keys())
        entries = [e for e in self.manifest_entries(content="all")
                   if e.content == "data"]
        if entries:
            out |= set(pq.ParquetFile(os.path.join(
                self.root, entries[0].path)).schema_arrow.names)
        return out

    def rename_column(self, old: str, new: str) -> None:
        """Metadata-only column rename (VERDICT r5 task #4): the column id
        keeps its data; existing files keep the old physical name and the
        scan maps it to ``new`` (coalescing across mixed pre/post-rename
        files); compaction physically migrates as it rewrites. The core
        transcript columns (merge/cluster keys and the imputation targets)
        are fixed by design and cannot be renamed."""
        if old in _CORE_COLS:
            raise ValueError(f"column {old!r} is part of the fixed "
                             "transcript schema (merge/cluster keys, "
                             "imputation targets) and cannot be renamed")
        if new.startswith("__"):
            raise ValueError(f"column {new!r}: the __ prefix is reserved")
        lock = self._acquire_commit_lock()
        try:
            meta = self.load_metadata()
            cols = self._bootstrap_schema_cols(meta)
            if new in self._all_schema_names(meta):
                raise ValueError(
                    f"name {new!r} is (or once was) in use — names are "
                    "never reused (data files are name-mapped)")
            entry = next((c for c in cols
                          if c["names"][-1] == old and not c.get("dropped")),
                         None)
            if entry is None:
                raise KeyError(f"column {old!r} not found (or dropped)")
            entry["names"].append(new)
            meta["version"] += 1
            self._write_version(meta["version"], meta)
        finally:
            try:
                os.unlink(lock)
            except FileNotFoundError:
                pass

    def drop_column(self, name: str) -> None:
        """Metadata-only column drop: the column id is hidden from every
        scan immediately; the bytes remain in existing files until
        compaction/clustering rewrites them (physical drop rides the next
        rewrite for free). The name stays reserved forever — see
        ``_all_schema_names``."""
        if name in _CORE_COLS:
            raise ValueError(f"column {name!r} is part of the fixed "
                             "transcript schema and cannot be dropped")
        lock = self._acquire_commit_lock()
        try:
            meta = self.load_metadata()
            cols = self._bootstrap_schema_cols(meta)
            entry = next((c for c in cols
                          if c["names"][-1] == name
                          and not c.get("dropped")), None)
            if entry is None:
                raise KeyError(f"column {name!r} not found (or already "
                               "dropped)")
            entry["dropped"] = True
            meta["version"] += 1
            self._write_version(meta["version"], meta)
        finally:
            try:
                os.unlink(lock)
            except FileNotFoundError:
                pass

    def _backfill_schema_types(self, cols: list[dict],
                               adds: list[dict] | None = None) -> None:
        """Persist a Spark SQL type for every live column id that lacks one
        (base columns carry no ``type`` until the first widen needs the
        full physical schema), resolved by ``resolve_schema_types`` — the
        same resolver every scan's read schema uses — over the first 8
        data footers. A pre-first-append table has no footer; its fixed
        transcript columns and adds resolve without one. Idempotent;
        mutates ``cols`` in place (caller persists)."""
        live = [c for c in cols if not c.get("dropped")]
        if all("type" in c for c in live):
            return
        entries = [e for e in self.manifest_entries(content="all")
                   if e.content == "data"]
        types = resolve_schema_types(
            live, adds, (os.path.join(self.root, e.path)
                         for e in entries[:8]))
        need = [c["id"] for c in live if c["id"] not in types]
        if need:
            raise RuntimeError(
                "cannot resolve physical types for column id(s) "
                f"{need} from the first 8 data footers")
        for c in live:
            c["type"] = types[c["id"]]

    def widen_column(self, name: str, new_type: str) -> None:
        """Metadata-only type widening (Iceberg/Delta type promotion):
        ``tinyint→smallint→int→bigint`` and ``float→double``. No data file
        is touched: every scan already reads with an explicit schema
        (``engine.scan._table_reader``), which for a table with a registry
        carries each live id at its registry type, and Spark 4's parquet
        readers upcast a narrow physical column to the wide read type in
        place. So the widen only records the new type (and backfills the
        other ids' types once). Files written after the widen carry the
        wide type physically; compaction migrates old files as it rewrites.
        The fixed transcript columns cannot be widened (merge keys and
        cluster/imputation targets pin the core schema by design)."""
        if name in _CORE_COLS:
            raise ValueError(f"column {name!r} is part of the fixed "
                             "transcript schema and cannot be widened")
        lock = self._acquire_commit_lock()
        try:
            meta = self.load_metadata()
            cols = self._bootstrap_schema_cols(meta)
            entry = next((c for c in cols
                          if c["names"][-1] == name
                          and not c.get("dropped")), None)
            if entry is None:
                raise KeyError(f"column {name!r} not found (or dropped)")
            # the explicit read schema needs EVERY live id's type, not
            # just the widened one — backfill once, persisted below
            self._backfill_schema_types(cols, meta.get("schema_adds"))
            cur_t = entry["type"]
            if new_type == cur_t:
                return  # idempotent no-op
            if new_type not in _WIDEN_OK.get(cur_t, ()):
                raise ValueError(
                    f"cannot widen {cur_t!r} -> {new_type!r}: only lossless "
                    f"promotions are allowed ({_WIDEN_OK})")
            entry["type"] = new_type
            entry["widened"] = True
            # keep any add_column record in sync: the typed-null fill for
            # files that never carried the column must use the wide type
            for a in meta.get("schema_adds", []):
                if a["name"] in entry["names"]:
                    a["type"] = new_type
            meta["version"] += 1
            self._write_version(meta["version"], meta)
        finally:
            try:
                os.unlink(lock)
            except FileNotFoundError:
                pass

    def schema_adds(self) -> list[dict]:
        """Columns added by ``add_column`` after table creation, in add
        order: ``[{"name", "type", "added_in_version"}, ...]``. Data files
        written before an add lack the column physically; ``scan()``
        reconciles them (the explicit read schema null-fills them)."""
        return self.load_metadata().get("schema_adds", [])

    def add_column(self, name: str, dtype: str) -> None:
        """Additive schema evolution, metadata-only (VERDICT r4 task #4):
        register a new nullable column without touching any data file — the
        operation a 100 TB training-data lake hits first (e.g. a ``lang``
        or ``quality`` column from the shipped text-stats ops). The add is
        a versioned metadata record under the commit lock; existing files
        are reconciled at scan time (absent column → typed nulls, absent
        stats → no pruning, conservative), and MERGE / appends may write
        the column from then on. Reference anchor: the reference tolerates
        ragged per-table headers (``codes/classification/
        create_feats_labels.py:70-88``); here the fixed transcript schema
        is the default and evolution is explicit and logged.

        ``dtype`` is a Spark SQL type string (e.g. 'string', 'double')."""
        if name.startswith("__"):
            raise ValueError(f"column {name!r}: the __ prefix is reserved "
                             "for engine-internal columns")
        lock = self._acquire_commit_lock()
        try:
            meta = self.load_metadata()
            adds = meta.get("schema_adds", [])
            taken = {c["name"] for c in adds}
            # the physical base schema: any column a live file carries stats
            # for (manifest-derived — no footer read) ...
            data_entries = []
            for e in self.manifest_entries(content="all"):
                taken |= set(e.stats.keys())
                if e.content == "data":
                    data_entries.append(e)
            # ... plus one representative footer's full schema: a live
            # column whose footers carry no statistics (e.g. an all-null
            # or unsupported-type column) is invisible to the stats-key
            # check, and re-registering it could record a conflicting type
            if data_entries:
                taken |= set(pq.ParquetFile(os.path.join(
                    self.root, data_entries[0].path)).schema_arrow.names)
            # once the rename/drop registry exists, every historical name
            # is reserved too (a reused name would be ambiguous between
            # column ids in name-mapped files)
            cols = meta.get("schema_cols")
            if cols is not None:
                taken |= {n for c in cols for n in c["names"]}
            if name in taken:
                raise ValueError(f"column {name!r} already exists")
            v = meta["version"] + 1
            adds.append({"name": name, "type": dtype,
                         "added_in_version": v})
            meta["schema_adds"] = adds
            if cols is not None:
                cols.append({"id": max((c["id"] for c in cols), default=0)
                             + 1, "names": [name], "type": dtype})
            meta["version"] = v
            self._write_version(v, meta)
        finally:
            try:
                os.unlink(lock)
            except FileNotFoundError:
                pass

    # ------------------------------------------------------------- metadata io
    def _hint_path(self) -> str:
        return os.path.join(self.meta_dir, "version-hint.text")

    def current_version(self) -> int:
        with open(self._hint_path()) as f:
            return int(f.read().strip())

    def _meta_path(self, version: int) -> str:
        return os.path.join(self.meta_dir, f"v{version}.metadata.json")

    def load_metadata(self, version: int | None = None) -> dict:
        if version is None:
            version = self.current_version()
        with open(self._meta_path(version)) as f:
            return json.load(f)

    def _write_version(self, version: int, meta: dict) -> None:
        """Write v<N>.metadata.json then atomically swap the version hint.

        The reference has no atomic commit (plain pickle/CSV writes,
        ``generalFunctions.py:109-130``); this is the snapshot-isolation piece
        the north rule adds.  os.replace is atomic on POSIX."""
        path = self._meta_path(version)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1)
        os.replace(tmp, path)
        hint_tmp = self._hint_path() + f".tmp-{uuid.uuid4().hex}"
        with open(hint_tmp, "w") as f:
            f.write(str(version))
        os.replace(hint_tmp, self._hint_path())

    # -------------------------------------------------------------- snapshots
    def snapshots(self) -> list[Snapshot]:
        meta = self.load_metadata()
        return [Snapshot.from_json(s) for s in meta["snapshots"]]

    def current_snapshot(self, meta: dict | None = None) -> Snapshot | None:
        """The head snapshot, from ``meta`` when the caller already holds
        the parsed metadata (else one parse)."""
        if meta is None:
            meta = self.load_metadata()
        sid = meta["current_snapshot_id"]
        if sid is None:
            return None
        for s in meta["snapshots"]:
            if s["snapshot_id"] == sid:
                return Snapshot.from_json(s)
        raise ValueError(f"current snapshot {sid} missing from snapshot log")

    def snapshot(self, snapshot_id: int, meta: dict | None = None) -> Snapshot:
        if meta is None:
            meta = self.load_metadata()
        for s in meta["snapshots"]:
            if s["snapshot_id"] == snapshot_id:
                return Snapshot.from_json(s)
        raise KeyError(f"snapshot {snapshot_id} not found (expired?)")

    def current_ancestors(self, meta: dict | None = None) -> set[int]:
        """Snapshot ids on the CURRENT snapshot's parent chain — the main
        lineage. Branch commits (write-audit-publish) and rolled-over
        snapshots are in the log but not in this set."""
        if meta is None:
            meta = self.load_metadata()
        by_id = {s["snapshot_id"]: s for s in meta["snapshots"]}
        out: set[int] = set()
        node = meta["current_snapshot_id"]
        while node is not None and node in by_id and node not in out:
            out.add(node)
            node = by_id[node].get("parent_id")
        return out

    def snapshot_as_of(self, timestamp_ms: int,
                       meta: dict | None = None) -> Snapshot:
        """Time travel: the latest MAIN-LINEAGE snapshot committed at or
        before ``timestamp_ms`` (Iceberg's FOR TIMESTAMP AS OF). Restricted
        to ancestors of the current snapshot: unpublished branch commits
        (write-audit-publish) live in the same log but must never satisfy a
        main time-travel read — that would leak unaudited data — and
        rolled-over snapshots stop being "the table's state at T" the
        moment a rollback rewrites content lineage. Branch state is
        readable only via explicit ``ref=``/``snapshot_id=``. Raises
        KeyError when every retained ancestor is newer (expired history).
        ``meta``: the already-parsed metadata (else one parse)."""
        if meta is None:
            meta = self.load_metadata()
        lineage = self.current_ancestors(meta)
        best = None
        for s in map(Snapshot.from_json, meta["snapshots"]):
            if s.snapshot_id not in lineage:
                continue
            if s.timestamp_ms <= timestamp_ms and \
                    (best is None or s.timestamp_ms > best.timestamp_ms
                     or (s.timestamp_ms == best.timestamp_ms
                         and s.snapshot_id > best.snapshot_id)):
                best = s
        if best is None:
            raise KeyError(
                f"no snapshot at or before {timestamp_ms} "
                "(history expired?)")
        return best

    def manifest_entries(self, snapshot: Snapshot | None = None,
                         content: str = "data",
                         predicates: list | None = None,
                         seq_below: int | None = None) -> list[DataFile]:
        """Files referenced by a snapshot (its manifest list). ``content``
        filters by entry kind — the default 'data' keeps every pre-existing
        consumer (scan pruning, compaction planning, stats) blind to
        merge-on-read delete files; pass 'deletes' or 'all' explicitly where
        deletes matter (scan application, manifest rewrite, orphan sweep).

        Two-level planning (VERDICT r5 task #1): when the snapshot carries
        manifest-list summaries, whole manifests are skipped BEFORE being
        opened — by content kind (a data-only manifest is invisible to a
        deletes read) and by ``predicates`` (``engine.scan.Predicate``
        objects, duck-typed: a manifest whose conv_id/ts range provably
        excludes every predicate is never JSON-parsed). File-level pruning
        (``engine.scan.prune_files``) still runs on what remains; legacy
        snapshots without summaries open everything, as before."""
        if snapshot is None:
            snapshot = self.current_snapshot()
        if snapshot is None:
            return []
        out: list[DataFile] = []
        for mf in snapshot.manifests:
            md = snapshot.manifest_meta.get(mf)
            if md is not None:
                if content == "data" and not md.get("data", 1):
                    continue
                if content == "deletes" and not md.get("deletes", 0):
                    continue
                # shadow-ability skip (rewrite_deletes planning): a delete
                # row only shadows data with a STRICTLY SMALLER sequence,
                # so a manifest whose min_seq is at/above the backlog's
                # max delete seq holds no candidate — never opened
                if (seq_below is not None
                        and md.get("min_seq") is not None
                        and md["min_seq"] >= seq_below):
                    continue
                if predicates:
                    ranges = md.get("ranges") or {}
                    pseudo = DataFile(
                        path="", record_count=md.get("rows", 0),
                        file_size_bytes=0,
                        stats={c: {"min": r[0], "max": r[1]}
                               for c, r in ranges.items()})
                    if not all(p.might_match(pseudo) for p in predicates):
                        continue
            with open(os.path.join(self.meta_dir, mf)) as f:
                m = json.load(f)
            self.manifest_opens += 1
            entries = [DataFile.from_json(e) for e in m["entries"]]
            if content != "all":
                entries = [e for e in entries if e.content == content]
            out.extend(entries)
        return out

    def data_file_abspaths(self, snapshot: Snapshot | None = None) -> list[str]:
        return [os.path.join(self.root, e.path)
                for e in self.manifest_entries(snapshot)]

    # ---------------------------------------------------------------- writing
    def write_manifest(self, entries: Iterable[DataFile]) -> str:
        name = f"manifest-{uuid.uuid4().hex}.json"
        entries = list(entries)
        doc = {
            "entries": [e.to_json() for e in entries],
            "record_count": sum(e.record_count for e in entries),
            "file_size_bytes": sum(e.file_size_bytes for e in entries),
        }
        tmp = os.path.join(self.meta_dir, name + ".tmp")
        with open(tmp, "w") as f:
            json.dump(doc, f, indent=1)
        os.replace(tmp, os.path.join(self.meta_dir, name))
        # manifest-list summary, computed from the in-memory entries (free)
        # and embedded in the next snapshot that references this manifest
        self._pending_manifest_meta[name] = _manifest_summary(entries)
        return name

    def register_staged_files(self, staged_paths: list[str],
                              content: str = "data") -> list[DataFile]:
        """Move already-written parquet files into data/ and stat them.

        Footer stats are read concurrently (pyarrow parses metadata in C++
        and releases the GIL): a serial loop here was the dominant *driver*
        cost of every write at high parallelism — O(files) × ~50 ms of dead
        time that no executor count can hide."""
        from concurrent.futures import ThreadPoolExecutor

        prefix = "part" if content == "data" else "delete"

        def one(p: str) -> DataFile:
            name = f"{prefix}-{uuid.uuid4().hex}.parquet"
            dst = os.path.join(self.data_dir, name)
            # same filesystem in this sandbox; rename is atomic & cheap
            try:
                os.rename(p, dst)
            except OSError:
                shutil.move(p, dst)
            rows, size, stats = collect_parquet_stats(dst)
            return DataFile(os.path.join("data", name), rows, size, stats,
                            content=content)

        if len(staged_paths) <= 1:
            return [one(p) for p in staged_paths]
        with ThreadPoolExecutor(max_workers=min(16, len(staged_paths))) as ex:
            return list(ex.map(one, staged_paths))

    # ------------------------------------------------------------- commit lock
    def _acquire_commit_lock(self, timeout_s: float = 60.0,
                             stale_s: float = 300.0) -> str:
        """Exclusive commit lock via O_CREAT|O_EXCL (atomic on POSIX and on
        object stores with if-none-match semantics). Concurrent committers
        serialize here, then re-read the metadata inside the critical
        section — optimistic concurrency like Iceberg's commit retry, without
        which two racing commits would silently drop each other's files.
        A lock older than ``stale_s`` is treated as a crashed committer."""
        lock = os.path.join(self.meta_dir, "commit.lock")
        deadline = time.time() + timeout_s
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                return lock
            except FileExistsError:
                try:
                    if time.time() - os.path.getmtime(lock) > stale_s:
                        os.unlink(lock)
                        continue
                except FileNotFoundError:
                    continue
                if time.time() > deadline:
                    raise TimeoutError("commit lock held too long")
                time.sleep(0.05)

    def commit(self, operation: str, added: list[DataFile],
               removed_paths: set[str] | None = None,
               summary: dict | None = None,
               expected_delete_paths: set[str] | None = None,
               conflict_key_ranges: list[DataFile] | None = None,
               branch: str | None = None,
               conflict_if_removed: set[str] | None = None) -> Snapshot:
        """Create a new snapshot = (parent's files − removed) ∪ added.

        Manifests are immutable; unchanged manifests are carried over wholesale
        and only manifests touching removed files are rewritten (this is what
        makes ``rewrite_manifests`` a real maintenance op rather than a no-op).

        Concurrency: the snapshot math runs under the commit lock against a
        FRESH read of the metadata, so concurrent appends compose instead of
        losing updates. ``expected_delete_paths`` is the set of equality-
        delete files the writer KNEW about when it planned (rewrite passes
        must pass it): a live delete file outside that set means a
        concurrent merge-on-read commit shadowed rows this rewrite may have
        copied under a fresh sequence number — committing would resurrect
        them, so it conflicts instead (Iceberg's validateNoNewDeleteFiles).

        ``conflict_key_ranges`` (serializable isolation for merge-on-read
        commits, which remove nothing and so skip both checks above): a
        list of this commit's staged equality-delete files — if a
        concurrently committed delete file OUTSIDE ``expected_delete_paths``
        overlaps any of their conv_id ranges (conservative manifest-stats
        overlap), the two merges may have updated the same keys and
        last-sequence-wins would silently revert the earlier one, so this
        commit conflicts instead of committing.

        ``branch``: commit onto a named branch's head (write-audit-publish)
        instead of main — the branch ref advances, ``current_snapshot_id``
        does not.

        ``conflict_if_removed``: paths this commit does NOT remove but
        whose replacement by a concurrent commit invalidates its staging
        (serializable merge-on-read: the planning snapshot's affected data
        files — a concurrent copy-on-write rewrite of one means this
        merge's insert/delete pair was derived from replaced rows)."""
        lock = self._acquire_commit_lock()
        try:
            return self._commit_locked(operation, added, removed_paths,
                                       summary, expected_delete_paths,
                                       conflict_key_ranges, branch,
                                       conflict_if_removed)
        finally:
            try:
                os.unlink(lock)
            except FileNotFoundError:
                pass

    def _commit_locked(self, operation: str, added: list[DataFile],
                       removed_paths: set[str] | None,
                       summary: dict | None,
                       expected_delete_paths: set[str] | None = None,
                       conflict_key_ranges: list[DataFile] | None = None,
                       branch: str | None = None,
                       conflict_if_removed: set[str] | None = None
                       ) -> Snapshot:
        removed_paths = removed_paths or set()
        meta = self.load_metadata()
        if branch is not None:
            r = meta.get("refs", {}).get(branch)
            if r is None or r.get("type") != "branch":
                raise KeyError(f"branch {branch!r} not found (create_branch "
                               "first)")
            parent = (None if r["snapshot_id"] is None
                      else Snapshot.from_json(next(
                          s for s in meta["snapshots"]
                          if s["snapshot_id"] == r["snapshot_id"])))
        else:
            parent = self.current_snapshot()
        manifests: list[str] = []
        if parent is not None:
            loaded: list[tuple[str, list[dict]]] = []
            for mf in parent.manifests:
                with open(os.path.join(self.meta_dir, mf)) as f:
                    loaded.append((mf, json.load(f)["entries"]))
            # one O(entries) pass under the commit lock (the writers'
            # serialization point) serves both liveness validations below
            live = ({e["path"] for _, ents in loaded for e in ents}
                    if (removed_paths or conflict_if_removed) else set())
            if removed_paths:
                # optimistic-concurrency validation (fresh read, under the
                # lock): every file this commit replaces must still be live.
                # A missing path means a concurrent pass already rewrote it —
                # committing would silently resurrect its rows through our
                # staged copies.
                gone = removed_paths - live
                if gone:
                    raise CommitConflictError(
                        f"{operation}: {len(gone)} input file(s) were "
                        f"replaced by a concurrent commit (e.g. "
                        f"{sorted(gone)[:3]}); abandon staged output and "
                        "replan from the fresh snapshot")
            if removed_paths and expected_delete_paths is not None:
                live_dels = {e["path"] for _, ents in loaded for e in ents
                             if e.get("content", "data") == "deletes"}
                new_dels = live_dels - expected_delete_paths
                if new_dels:
                    raise CommitConflictError(
                        f"{operation}: {len(new_dels)} equality-delete "
                        "file(s) were committed concurrently against this "
                        f"rewrite's inputs (e.g. {sorted(new_dels)[:3]}); "
                        "the staged output copied rows they shadow under a "
                        "fresh sequence number — abandon and replan")
            if conflict_if_removed:
                gone = conflict_if_removed - live
                if gone:
                    raise CommitConflictError(
                        f"{operation}: serializable isolation — "
                        f"{len(gone)} file(s) this commit planned against "
                        f"were replaced concurrently (e.g. "
                        f"{sorted(gone)[:3]}); its staged rows derive "
                        "from replaced data — abandon, re-derive from the "
                        "fresh snapshot, and replay")
            if conflict_key_ranges and expected_delete_paths is not None:
                # serializable merge-on-read: conflict when a concurrent
                # commit landed a delete file whose conv_id range overlaps
                # this commit's staged deletes (conservative: missing stats
                # count as overlap — more conflicts, never a silent revert)
                def _rng(stats: dict | None) -> tuple | None:
                    s = (stats or {}).get("conv_id") or {}
                    if s.get("min") is None or s.get("max") is None:
                        return None
                    return (str(s["min"]), str(s["max"]))

                ours = [_rng(r.stats) for r in conflict_key_ranges]
                clash = []
                for _, ents in loaded:
                    for e in ents:
                        if (e.get("content", "data") != "deletes"
                                or e["path"] in expected_delete_paths):
                            continue
                        theirs = _rng(e.get("stats"))
                        if any(o is None or theirs is None
                               or not (o[1] < theirs[0] or o[0] > theirs[1])
                               for o in ours):
                            clash.append(e["path"])
                if clash:
                    raise CommitConflictError(
                        f"{operation}: serializable isolation — "
                        f"{len(clash)} equality-delete file(s) committed "
                        "concurrently overlap this merge's key range (e.g. "
                        f"{sorted(clash)[:3]}); last-sequence-wins would "
                        "silently revert one merge's updates — abandon, "
                        "re-derive the source from the fresh snapshot, and "
                        "replay")
            for mf, ents in loaded:
                paths = {e["path"] for e in ents}
                if not (paths & removed_paths):
                    manifests.append(mf)     # untouched: carry over
                else:
                    kept = [DataFile.from_json(e) for e in ents
                            if e["path"] not in removed_paths]
                    if kept:
                        manifests.append(self.write_manifest(kept))
        elif removed_paths:
            raise CommitConflictError(
                f"{operation}: commit removes {len(removed_paths)} file(s) "
                "but the table has no current snapshot")
        # GLOBAL max + 1, not parent + 1: branch heads and rollback commits
        # share one id space, and two lineages advancing from different
        # parents must never collide on a snapshot id
        sid = (max(s["snapshot_id"] for s in meta["snapshots"]) + 1
               if meta["snapshots"] else 1)
        if added:
            # data-sequence assignment (Iceberg v2): every file added by
            # this commit carries the new snapshot id as its sequence
            # number, so a delete file committed here applies exactly to
            # data files from EARLIER commits (strictly smaller seq) —
            # never to the replacement rows staged alongside it in the
            # same commit
            for e in added:
                e.sequence_number = sid
            manifests.append(self.write_manifest(added))
        # manifest-list summaries: freshly written manifests from the
        # pending map, carried-over manifests from the parent snapshot
        # (absent for legacy parents — those manifests stay summary-less
        # until a rewrite touches them, and readers just open them)
        parent_meta = parent.manifest_meta if parent else {}
        mmeta = {}
        for m in manifests:
            s = self._pending_manifest_meta.get(m) or parent_meta.get(m)
            if s is not None:
                mmeta[m] = s
        self._pending_manifest_meta.clear()
        snap = Snapshot(
            snapshot_id=sid,
            parent_id=parent.snapshot_id if parent else None,
            timestamp_ms=int(time.time() * 1000),
            operation=operation,
            manifests=manifests,
            summary={
                "added_files": len(added),
                "removed_files": len(removed_paths),
                "added_rows": sum(e.record_count for e in added),
                "added_bytes": sum(e.file_size_bytes for e in added),
                **(summary or {}),
            },
            manifest_meta=mmeta,
            schema_state=_schema_state_of(meta),
        )
        meta["snapshots"].append(snap.to_json())
        if branch is not None:
            meta["refs"][branch]["snapshot_id"] = sid
        else:
            meta["current_snapshot_id"] = sid
        meta["version"] = meta["version"] + 1
        self._write_version(meta["version"], meta)
        return snap

    # ----------------------------------------------------------- constraints
    def constraints(self) -> dict[str, str]:
        """Registered CHECK constraints: ``{name: sql_boolean_expr}``."""
        return self.load_metadata().get("constraints", {})

    def add_constraint(self, name: str, expr: str) -> None:
        """Register a CHECK constraint (Delta-style): a Spark SQL boolean
        expression every FUTURE written row must satisfy — appends, MERGE
        outputs and streaming batches that stage a violating row raise
        ``ConstraintViolation`` and commit nothing. Metadata-only and
        versioned; existing data is NOT retro-validated (run
        ``engine.write.check_constraints`` for an audit of what is already
        in the table). The training-data use: schema-level quality gates
        (`role IN (...)`, `length(text) < 1e6`, `turn_idx >= 0`) enforced
        at the lake boundary instead of in every producer."""
        lock = self._acquire_commit_lock()
        try:
            meta = self.load_metadata()
            cons = meta.get("constraints", {})
            if name in cons:
                raise ValueError(f"constraint {name!r} already exists")
            cons[name] = expr
            meta["constraints"] = cons
            meta["version"] = meta["version"] + 1
            self._write_version(meta["version"], meta)
        finally:
            try:
                os.unlink(lock)
            except FileNotFoundError:
                pass

    def drop_constraint(self, name: str) -> None:
        lock = self._acquire_commit_lock()
        try:
            meta = self.load_metadata()
            cons = meta.get("constraints", {})
            if name not in cons:
                raise KeyError(f"constraint {name!r} not found")
            del cons[name]
            meta["constraints"] = cons
            meta["version"] = meta["version"] + 1
            self._write_version(meta["version"], meta)
        finally:
            try:
                os.unlink(lock)
            except FileNotFoundError:
                pass

    # ------------------------------------------------------------------ refs
    def refs(self) -> dict[str, dict]:
        """Named snapshot pointers: ``{name: {"snapshot_id", "type"}}``
        with type 'branch' (movable head, commit target) or 'tag'
        (immutable, expiry-protected). The main branch is implicit
        (``current_snapshot_id``)."""
        return self.load_metadata().get("refs", {})

    def _mutate_refs(self, fn) -> dict:
        lock = self._acquire_commit_lock()
        try:
            meta = self.load_metadata()
            refs = meta.get("refs", {})
            out = fn(meta, refs)
            meta["refs"] = refs
            meta["version"] = meta["version"] + 1
            self._write_version(meta["version"], meta)
            return out
        finally:
            try:
                os.unlink(lock)
            except FileNotFoundError:
                pass

    def create_branch(self, name: str,
                      from_snapshot_id: int | None = None) -> None:
        """Write-audit-publish, step 1: a movable head starting at
        ``from_snapshot_id`` (default: current). Commits with
        ``branch=name`` advance it; main is untouched until
        ``fast_forward`` publishes."""
        def fn(meta, refs):
            if name in refs:
                raise ValueError(f"ref {name!r} already exists")
            sid = from_snapshot_id
            if sid is None:
                sid = meta["current_snapshot_id"]
            # sid None = a branch rooted at the NULL snapshot (empty
            # table): legal — the first commit with branch=name creates
            # the head. Without this, streaming WAP (ingest_batch(branch=))
            # could never start on a fresh table.
            if sid is not None and not any(s["snapshot_id"] == sid
                                           for s in meta["snapshots"]):
                raise KeyError(f"snapshot {sid} not found")
            refs[name] = {"snapshot_id": sid, "type": "branch"}
        self._mutate_refs(fn)

    def create_tag(self, name: str, snapshot_id: int | None = None) -> None:
        """Immutable named snapshot (e.g. a training-run's exact input
        state). Tagged snapshots never expire until the tag is dropped."""
        def fn(meta, refs):
            if name in refs:
                raise ValueError(f"ref {name!r} already exists")
            sid = snapshot_id
            if sid is None:
                sid = meta["current_snapshot_id"]
            if sid is None or not any(s["snapshot_id"] == sid
                                      for s in meta["snapshots"]):
                raise KeyError(f"snapshot {sid} not found")
            refs[name] = {"snapshot_id": sid, "type": "tag"}
        self._mutate_refs(fn)

    def drop_ref(self, name: str) -> None:
        def fn(meta, refs):
            if name not in refs:
                raise KeyError(f"ref {name!r} not found")
            del refs[name]
        self._mutate_refs(fn)

    def ref_snapshot(self, name: str,
                     allow_empty: bool = False) -> Snapshot | None:
        """The snapshot a ref points at. A branch rooted at the null
        snapshot (legal since streaming WAP must be able to start on a
        fresh table) has NO head yet: with ``allow_empty`` that returns
        None — callers mirror their empty-main behavior — while the
        default raises, because most consumers (scan, fast_forward) have
        nothing meaningful to do with an empty branch and passing the
        None through ``manifest_entries`` would silently fall back to
        MAIN's current snapshot."""
        r = self.refs().get(name)
        if r is None:
            raise KeyError(f"ref {name!r} not found")
        if r["snapshot_id"] is None:
            if allow_empty:
                return None
            raise KeyError(f"ref {name!r} has no commits yet (branch "
                           "rooted at the null snapshot)")
        return self.snapshot(r["snapshot_id"])

    def fast_forward(self, from_branch: str) -> Snapshot:
        """Write-audit-publish, step 3: publish a branch to main. Only a
        true fast-forward is allowed — main's current snapshot must be an
        ancestor of the branch head (nothing landed on main since the
        branch was cut); otherwise the caller must rebase (re-run the
        branch work on fresh main) or explicitly ``rollback_to``. The
        publish itself is a metadata-only pointer move: the branch's
        snapshots are already in the log, so audit scans and the published
        state are byte-identical by construction."""
        lock = self._acquire_commit_lock()
        try:
            meta = self.load_metadata()
            refs = meta.get("refs", {})
            r = refs.get(from_branch)
            if r is None:
                raise KeyError(f"ref {from_branch!r} not found")
            if r.get("type") != "branch":
                raise ValueError(f"ref {from_branch!r} is a "
                                 f"{r.get('type')}, not a branch — tags "
                                 "are immutable pins, not publish sources")
            head = r["snapshot_id"]
            if head is None:
                raise ValueError(f"fast_forward({from_branch!r}): branch "
                                 "has no commits yet")
            cur = meta["current_snapshot_id"]
            by_id = {s["snapshot_id"]: s for s in meta["snapshots"]}
            node, seen = head, set()
            while node is not None and node != cur and node not in seen:
                seen.add(node)
                node = by_id.get(node, {}).get("parent_id")
            if node != cur:
                raise CommitConflictError(
                    f"fast_forward({from_branch!r}): main moved since the "
                    "branch was cut (current snapshot is not an ancestor "
                    "of the branch head) — rebase the branch work onto "
                    "fresh main, or rollback main explicitly")
            meta["current_snapshot_id"] = head
            meta["version"] = meta["version"] + 1
            self._write_version(meta["version"], meta)
            return Snapshot.from_json(by_id[head])
        finally:
            try:
                os.unlink(lock)
            except FileNotFoundError:
                pass

    # ------------------------------------------------------------- rollback
    def rollback_to(self, snapshot_id: int) -> Snapshot:
        """Point the table back at an earlier RETAINED snapshot's state
        (Iceberg's rollback-to-snapshot): a bad merge/delete/compaction is
        undone by a metadata-only commit — no data file is touched.

        The rollback is itself a NEW snapshot referencing the target's
        manifests, so history stays linear, the bad snapshots remain
        time-travelable until expiry, and ``changes_between`` surfaces the
        rollback as ordinary row-level CDC (the un-done changes reversed).
        Files committed after the target become unreferenced once the bad
        snapshots expire and are collected by the orphan sweep."""
        lock = self._acquire_commit_lock()
        try:
            meta = self.load_metadata()
            target = None
            for s in meta["snapshots"]:
                if s["snapshot_id"] == snapshot_id:
                    target = s
            if target is None:
                raise KeyError(f"snapshot {snapshot_id} not found "
                               "(expired?)")
            cur = meta["current_snapshot_id"]
            if cur == snapshot_id:
                return Snapshot.from_json(target)  # already there: no-op
            sid = max(s["snapshot_id"] for s in meta["snapshots"]) + 1
            snap = Snapshot(
                snapshot_id=sid,
                # parent = the TARGET, not the pre-rollback head: the
                # parent chain records CONTENT lineage, so the rolled-over
                # snapshots correctly stop being current ancestors
                # (history view) and fast_forward's ancestor walk agrees
                parent_id=snapshot_id,
                timestamp_ms=int(time.time() * 1000),
                operation="rollback", manifests=list(target["manifests"]),
                summary={"rolled_back_to": snapshot_id,
                         "rolled_back_from": cur,
                         "added_files": 0, "removed_files": 0},
                manifest_meta=dict(target.get("manifest_meta", {})),
                schema_state=_schema_state_of(meta))
            meta["snapshots"].append(snap.to_json())
            meta["current_snapshot_id"] = sid
            meta["version"] = meta["version"] + 1
            self._write_version(meta["version"], meta)
            return snap
        finally:
            try:
                os.unlink(lock)
            except FileNotFoundError:
                pass

    # -------------------------------------------------------------- expiry
    def expire_snapshots(self, keep_last: int = 1,
                         older_than_ms: int | None = None) -> list[int]:
        """Drop old snapshots from the log (data/manifest GC is the orphan
        sweep's job, engine.maintain.sweep_orphans). Runs under the commit
        lock with a fresh metadata read — a concurrent commit landing
        mid-expiry must not be dropped from the log."""
        lock = self._acquire_commit_lock()
        try:
            return self._expire_locked(keep_last, older_than_ms)
        finally:
            try:
                os.unlink(lock)
            except FileNotFoundError:
                pass

    def _expire_locked(self, keep_last: int,
                       older_than_ms: int | None) -> list[int]:
        meta = self.load_metadata()
        snaps = meta["snapshots"]
        if not snaps:
            return []
        keep_last = max(1, keep_last)
        # ref targets are pinned: a tag names a reproducible input state
        # and must survive until the ref is dropped. A BRANCH additionally
        # pins its parent CHAIN down to the first ancestor of main's
        # current snapshot — fast_forward proves publishability by walking
        # that chain, so expiring an intermediate branch snapshot would
        # permanently un-publish an otherwise clean branch. The walk stops
        # at main's lineage (nothing beyond it is needed: if main diverged,
        # fast_forward conflicts regardless of chain integrity).
        by_id = {s["snapshot_id"]: s for s in snaps}
        cur_anc: set[int] = set()
        node = meta["current_snapshot_id"]
        while node is not None and node in by_id and node not in cur_anc:
            cur_anc.add(node)
            node = by_id[node].get("parent_id")
        pinned: set[int] = set()
        for r in meta.get("refs", {}).values():
            node = r["snapshot_id"]
            if node is None:
                continue  # branch rooted at the null snapshot: nothing to pin
            # per-walk cycle guard — NOT the shared pinned set: a tag on an
            # intermediate branch snapshot would otherwise truncate the
            # branch's walk at the already-pinned node and leave the rest
            # of its chain expirable (review fix)
            seen: set[int] = set()
            while node is not None and node in by_id and node not in seen:
                seen.add(node)
                pinned.add(node)
                if node in cur_anc or r.get("type") != "branch":
                    break
                node = by_id[node].get("parent_id")
        # keep_last counts MAIN-LINEAGE snapshots (current-ancestor chain),
        # not raw log positions: a burst of branch commits interleaves into
        # the log and would otherwise fill a positional window, expiring
        # main history (rollback targets) down to just the current snapshot
        main_order = [s["snapshot_id"] for s in snaps
                      if s["snapshot_id"] in cur_anc]
        protected_main = set(main_order[-keep_last:])
        expired, kept = [], []
        for s in snaps:
            is_current = s["snapshot_id"] == meta["current_snapshot_id"]
            old_enough = (older_than_ms is None
                          or s["timestamp_ms"] < older_than_ms)
            if (old_enough and not is_current
                    and s["snapshot_id"] not in protected_main
                    and s["snapshot_id"] not in pinned):
                expired.append(s["snapshot_id"])
            else:
                kept.append(s)
        if not expired:
            return []
        meta["snapshots"] = kept
        meta["version"] = meta["version"] + 1
        self._write_version(meta["version"], meta)
        return expired
