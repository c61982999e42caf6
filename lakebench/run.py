#!/usr/bin/env python3
"""The lakehouse benchmark: one workload per process, one fresh JVM on
``local[<cores>]``, one closed-loop client thread.

    python3 lakebench/run.py --workload fused_pass --seed 1 --seconds 15 \
        --trace 0

Workloads (inputs are generated from ``--seed``; the engine receives only
the generated table, mask and batches):

- ``fused_pass``: a transcripts table with 1% of cells masked. Cycle: one
  fused impute-MERGE maintenance pass, then a full scan.
- ``steady_ops``: the same table unmasked. Cycle: small ingest batches,
  sparse late edits (merge-on-read), delete folding, compaction, delete
  rewrite, expiry and orphan sweep, then a full scan.

Set-up starts the session (the engine's own settings and session warm-up)
and builds the table; the timed window then runs the cycle once, more full
scans and point reads. With ``--trace 0`` the last stdout line holds the
end-to-end metrics; with ``--trace 1`` it holds the per-layer metrics from
the benchmark's spans (lakebench/spans.py). The line before it is a detail
record (seed, sizes, cores, commit, the workload's own named metrics).
Every operation runs in a guard and is counted; a failed operation or
correctness check makes the command exit 1 after printing its result.
Set-up failure exits 2 without a result. Scratch files live in
``.lakebench_work/`` at the checkout root. lakebench/NOTES.md has the
metric definitions and measured figures.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".lakebench_work")

NUM_CONVS = 3000          # 83.5k turns, 31 hot conversations
TABLE_FILES = 16
SCANS = 8                 # full scans per run (the first is in the cycle)
READS = 30                # conv_id point reads per run, at least
INGEST_BATCHES = 3
INGEST_CONVS = 60         # new conversations per ingest batch
EDIT_CONVS = 12           # conversations in the late-edit batch
EDIT_TURNS = 5            # leading turns edited per conversation
HOT_CONV = "conv-00000000"


# --------------------------------------------------------------- accounting
class Ops:
    """Counts every operation attempted and every one that failed; a failed
    correctness check fails the operation it checks."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.seconds: dict[str, float] = {}  # wall time per operation name

    def run(self, name: str, fn, *args, **kwargs):
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            return True, fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            self.errors.append(name)
            print(f"lakebench: operation {name} failed", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return False, None
        finally:
            self.seconds[name] = (self.seconds.get(name, 0.0)
                                  + time.perf_counter() - t0)

    def crashed(self, name: str) -> None:
        """Count the exception being handled as one failed operation."""
        self.attempted += 1
        self.failed += 1
        self.errors.append(name)
        print(f"lakebench: {name} crashed", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        if not ok:
            self.failed = min(self.attempted, self.failed + 1)
            self.errors.append(f"{name}: {detail}")
            print(f"lakebench: check {name} failed {detail}", file=sys.stderr)


def _pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def _git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the machine so far: the share of CPU time
    a hypervisor gave to other guests tells a slow machine from a slow
    run."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return (v[7] if len(v) > 7 else 0), sum(v)


# ------------------------------------------------------------- table inputs
def generated(spark):
    """The unmasked transcripts the table is built from (deterministic)."""
    from engine.synth import generate_transcripts
    return generate_transcripts(spark, num_convs=NUM_CONVS)


def build_table(spark, root: str, seed: int, masked: bool):
    """Append the generated transcripts as one snapshot, with 1% of
    role/tool/text cells masked by ``seed`` when ``masked``; returns
    (table, worklist or None). Nothing is computed beyond the append."""
    from engine.format import Table
    from engine.synth import conv_bounds, inject_missing
    from engine.write import append

    df, wl = generated(spark), None
    if masked:
        df, wl = inject_missing(df, seed=seed)
    t = Table.create(root)
    append(t, df, num_files=TABLE_FILES,
           range_cols=["conv_id", "turn_idx"],
           sort_cols=["conv_id", "turn_idx"],
           bounds=conv_bounds(NUM_CONVS, TABLE_FILES))
    return t, wl


def turn_counts(spark, conv_ids: list[str]) -> dict[str, int]:
    from pyspark.sql import functions as F
    rows = (generated(spark).filter(F.col("conv_id").isin(conv_ids))
            .groupBy("conv_id").count().collect())
    return {r["conv_id"]: r["count"] for r in rows}


def cell_diff(spark, table, wl) -> dict:
    """Compare the table with the generated transcripts in
    (conv_id, turn_idx) order. Returns ``rows`` present on one side only,
    ``stray`` cells that differ although the pass had no reason to write
    them, and per masked column the worklist ``n`` and exact-match ``hits``.
    A pass may write a worklist cell, and a tool cell whose row's role is
    on the worklist (the tool follows the imputed role); every other cell
    must be unchanged."""
    from pyspark.sql import functions as F

    from engine.scan import scan
    cols = ("role", "tool", "text")
    cur = scan(spark, table).select(
        "conv_id", "turn_idx", F.lit(1).alias("in_table"),
        *[F.col(c).alias("t_" + c) for c in cols])
    masked = wl.groupBy("conv_id", "turn_idx").agg(
        *[F.max((F.col("column_name") == c).cast("int")).alias("m_" + c)
          for c in cols])
    j = (generated(spark).join(cur, ["conv_id", "turn_idx"], "full_outer")
         .join(masked, ["conv_id", "turn_idx"], "left")
         .fillna(0, ["m_" + c for c in cols]))

    def same(c):
        return F.col(c).eqNullSafe(F.col("t_" + c))
    one_side = F.col("ts").isNull() | F.col("in_table").isNull()
    stray = ((~same("role") & (F.col("m_role") == 0))
             | (~same("text") & (F.col("m_text") == 0))
             | (~same("tool") & (F.col("m_tool") == 0)
                & (F.col("m_role") == 0)))
    aggs = [F.sum(one_side.cast("int")).alias("rows"),
            F.sum((~one_side & stray).cast("int")).alias("stray")]
    for c in cols:
        aggs += [F.sum("m_" + c).alias("n_" + c),
                 F.sum(((F.col("m_" + c) == 1) & same(c)).cast("int"))
                 .alias("hits_" + c)]
    r = j.agg(*aggs).collect()[0]
    out = {k: int(r[k] or 0) for k in ("rows", "stray")}
    for c in cols:
        out[c] = {"n": int(r["n_" + c] or 0), "hits": int(r["hits_" + c] or 0)}
    return out


class CommitBytes:
    """Bytes of files added by commits while active: the numerator of
    write_amp. Wraps ``Table.commit`` only for the timed window."""

    def __init__(self):
        self.bytes = 0

    def __enter__(self):
        from engine.format import Table
        self._orig = Table.__dict__["commit"]
        orig, me = self._orig, self

        def commit(tbl, operation, added, *args, **kwargs):
            me.bytes += sum(f.file_size_bytes for f in added)
            return orig(tbl, operation, added, *args, **kwargs)
        Table.commit = commit
        return self

    def __exit__(self, *exc):
        from engine.format import Table
        Table.commit = self._orig
        return False


# ----------------------------------------------------------------- workload
class Workload:
    """Shared set-up, point-read loop and full scan; subclasses supply the
    timed cycle and their own checks."""

    name = ""
    masked = False

    def __init__(self, spark, seed: int, work: str, ops: Ops):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.ops = ops
        self.tracer = None  # set after set-up in a traced run
        self.rng = random.Random(seed)
        self.m: dict[str, float] = {}      # end-to-end metrics
        self.named: dict[str, float] = {}  # the workload's own named metrics
        self.layer: dict[str, float] = {}  # benchmark-side layer counts
        self.reads: list[tuple[str, int]] = []  # (conv_id, turns read)
        self.read_plan: list[float] = []
        self.read_exec: list[float] = []
        self.read_files: list[int] = []

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def setup(self) -> None:
        self.table, self.wl = build_table(
            self.spark, os.path.join(self.work, "table"), self.seed,
            self.masked)
        entries = self.table.manifest_entries()
        self.rows0 = sum(e.record_count for e in entries)
        self.bytes0 = sum(e.file_size_bytes for e in entries)
        ids = {HOT_CONV} | {f"conv-{self.rng.randrange(NUM_CONVS):08d}"
                            for _ in range(4 * READS)}
        self.read_ids = sorted(ids)
        self.rng.shuffle(self.read_ids)

    def full_scan(self) -> int:
        """Read every column of every row; returns the row count."""
        from pyspark.sql import functions as F

        from engine.scan import scan
        with self.span("scan.full_scan"):
            df = scan(self.spark, self.table)
            # a bare count reads only the files' footers; hashing every
            # column makes the scan decode all of them
            return df.agg(F.count(F.lit(1)).alias("n"),
                          F.max(F.xxhash64(*df.columns)).alias("h")
                          ).collect()[0]["n"]

    def measure(self, seconds: float) -> None:
        """The timed window: the workload's cycle (ending in one full scan),
        SCANS - 1 more full scans, then point reads until READS are done and
        ``seconds`` have passed since the window began. ``full_scan_s`` is
        the median over all full scans, the read percentiles are over all
        point reads. A failed cycle leaves its metrics out."""
        t0 = time.perf_counter()
        with CommitBytes() as cb:
            out = self.cycle()
        if out is None:
            return
        out["write_amp"] = cb.bytes / self.bytes0
        scans = [out.pop("full_scan_s")]
        for k, v in out.items():
            (self.m if k in E2E_UNITS else self.named)[k] = v
        for _ in range(SCANS - 1):
            a = time.perf_counter()
            ok, _ = self.ops.run("full_scan", self.full_scan)
            if ok:
                scans.append(time.perf_counter() - a)
        self.m["full_scan_s"] = statistics.median(scans)
        self.named["full_scans"] = len(scans)
        lat: list[float] = []
        self.point_reads(lat, lambda done: done >= READS
                         and time.perf_counter() >= t0 + seconds)
        if lat:
            self.m["point_read_p50_ms"] = _pct(lat, 0.5) * 1000
            self.m["point_read_p90_ms"] = _pct(lat, 0.9) * 1000
            self.named["point_reads"] = len(lat)

    def point_reads(self, lat: list[float], stop) -> None:
        """Closed loop, one client: read conversations from ``self.table``
        until ``stop(reads done in this call)``, appending each read's
        latency to ``lat``. Turn counts are checked in ``verify``."""
        from engine.scan import Predicate, scan
        done = 0
        while not stop(done):
            done += 1
            cid = self.read_ids[len(self.reads) % len(self.read_ids)]
            p = Predicate("conv_id", "eq", cid)

            def read():
                with self.span("scan.point_read"):
                    t0 = time.perf_counter()
                    df = scan(self.spark, self.table, predicates=[p])
                    t1 = time.perf_counter()
                    n = df.filter(p.to_column()).count()
                    t2 = time.perf_counter()
                if self.tracer is not None and len(self.read_files) < 10:
                    self.read_files.append(len(df.inputFiles()))
                return n, t1 - t0, t2 - t1
            ok, out = self.ops.run("point_read", read)
            self.reads.append((cid, out[0] if ok else -1))
            if ok:
                lat.append(out[1] + out[2])
                self.read_plan.append(out[1])
                self.read_exec.append(out[2])

    def cycle(self) -> dict | None:
        """The timed cycle on ``self.table``: its metrics, or None when an
        operation failed."""
        raise NotImplementedError

    def verify(self) -> None:
        """Each point read returned its conversation's known turn count."""
        ok, want = self.ops.run("turn_counts", turn_counts, self.spark,
                                sorted({c for c, _ in self.reads}))
        if ok:
            bad = [(c, n, want.get(c)) for c, n in self.reads
                   if n >= 0 and n != want.get(c)]
            self.ops.check("point_read_turns", not bad, str(bad[:3]))


class FusedPass(Workload):
    """One fused impute-MERGE + clustering maintenance pass over a table with
    1% of role/tool/text cells masked, then a full scan."""

    name = "fused_pass"
    masked = True

    def cycle(self) -> dict | None:
        from engine.maintain import run_maintenance
        t0 = time.perf_counter()
        with self.span("bench.cycle"):
            # target file size: 1/TABLE_FILES of the table, so the pass
            # lays the table out in as many Z-ordered files as it read
            ok, _ = self.ops.run(
                "maintenance_pass", run_maintenance, self.spark, self.table,
                target_bytes=max(1, self.bytes0 // TABLE_FILES),
                separate_compaction=False, grace_seconds=0.0,
                collect_metrics=False)
            t1 = time.perf_counter()
            ok2, rows = self.ops.run("full_scan", self.full_scan)
        t2 = time.perf_counter()
        if not (ok and ok2):
            return None
        self.ops.check("rows_unchanged", rows == self.rows0,
                       f"{rows} != {self.rows0}")
        return {"cycle_s": t2 - t0, "full_scan_s": t2 - t1,
                "maintain_turns_per_s": rows / (t2 - t0)}

    def verify(self) -> None:
        """The pass kept every row and changed no cell it had no reason to
        write (``cell_diff``). Imputation accuracy is the exact-match share
        of worklist cells; a traced run also takes it from the engine's
        ``evaluate_impute`` and checks that the two agree."""
        super().verify()
        ok, diff = self.ops.run("cell_diff", cell_diff, self.spark,
                                self.table, self.wl)
        if not ok:
            return
        self.ops.check("rows_match_generated", diff["rows"] == 0,
                       f"{diff['rows']} rows")
        self.ops.check("untouched_cells_equal", diff["stray"] == 0,
                       f"{diff['stray']} cells")
        cols = ("role", "tool", "text")
        n = sum(diff[c]["n"] for c in cols)
        self.named["impute_accuracy"] = sum(diff[c]["hits"]
                                            for c in cols) / n
        self.named["worklist_cells"] = n
        if self.tracer is None:
            return
        from engine.merge import evaluate_impute
        from engine.scan import scan
        ok, acc = self.ops.run("evaluate_impute", evaluate_impute,
                               scan(self.spark, self.table), self.wl)
        if ok:
            for c in cols:
                a = acc.get(c, {"acc": 0.0})["acc"]
                self.layer[f"impute.accuracy.{c}"] = a
                want = diff[c]["hits"] / max(1, diff[c]["n"])
                self.ops.check("evaluate_impute_agrees",
                               abs(a - want) < 1e-9, f"{c}: {a} != {want}")
            self.layer["impute.filled_frac"] = self._filled_frac()

    def _filled_frac(self) -> float:
        """Share of worklist cells that are non-null after the pass."""
        from pyspark.sql import functions as F

        from engine.scan import scan
        j = self.wl.join(scan(self.spark, self.table),
                         ["conv_id", "turn_idx"], "left")
        filled = (F.when(F.col("column_name") == "role",
                         F.col("role").isNotNull())
                  .when(F.col("column_name") == "tool",
                        F.col("tool").isNotNull())
                  .otherwise(F.col("text").isNotNull()))
        r = j.agg(F.count(F.lit(1)).alias("n"),
                  F.sum(filled.cast("int")).alias("f")).collect()[0]
        return r["f"] / r["n"] if r["n"] else 0.0


class SteadyOps(Workload):
    """Small appends, sparse late edits (merge-on-read), delete folding,
    compaction, delete rewrite, expiry and sweep, then a full scan."""

    name = "steady_ops"

    def setup(self) -> None:
        from pyspark.sql import functions as F
        super().setup()
        # every batch is cut from one generated frame and persisted (one
        # job) before the timed window; each timed call gets a cached slice.
        # Ingest batches re-key whole conversations as new ones; the
        # late-edit batch edits the leading turns of one conversation in
        # each of several files, so every edit stays under the engine's
        # merge-on-read gate (0.5% of the affected files' rows).
        files = self.rng.sample(range(TABLE_FILES), EDIT_CONVS)
        # file f holds conversations [f*N/F, (f+1)*N/F) (synth.conv_bounds);
        # stay off the boundaries
        edit_ids = [self._cold_conv(f * NUM_CONVS // TABLE_FILES + 1,
                                    (f + 1) * NUM_CONVS // TABLE_FILES - 1)
                    for f in files]
        taken = set(edit_ids)
        pool = [c for c in (f"conv-{i:08d}" for i in range(NUM_CONVS)
                            if i % 97) if c not in taken]
        ingest_ids = self.rng.sample(pool, INGEST_BATCHES * INGEST_CONVS)
        batch = F.lit(None).cast("int")
        for i in range(INGEST_BATCHES):
            ids = ingest_ids[i * INGEST_CONVS:(i + 1) * INGEST_CONVS]
            batch = F.when(F.col("conv_id").isin(ids), i).otherwise(batch)
        edit = F.col("conv_id").isin(edit_ids) & (F.col("turn_idx")
                                                  < EDIT_TURNS)
        batch = F.when(edit, 100).otherwise(batch)
        edit = F.col("batch") == 100
        self.cached = (
            generated(self.spark).withColumn("batch", batch)
            .filter(F.col("batch").isNotNull())
            .withColumn("conv_id", F.when(edit, F.col("conv_id")).otherwise(
                F.concat(F.lit(f"z{self.seed % 1000:03d}-"),
                         F.col("batch").cast("string"), F.lit("-"),
                         F.col("conv_id"))))
            .withColumn("text", F.when(edit, F.concat(
                F.lit("edited: "), F.col("text"))).otherwise(F.col("text")))
            .persist())
        sizes = {r["batch"]: r["count"]
                 for r in self.cached.groupBy("batch").count().collect()}

        def part(i):
            return self.cached.filter(F.col("batch") == i).drop("batch")
        self.batches = [(part(i), sizes[i]) for i in range(INGEST_BATCHES)]
        self.edit, self.edited_rows = part(100), sizes[100]
        self.ingested_rows = sum(n for _, n in self.batches)

    def _cold_conv(self, lo: int, hi: int) -> str:
        """A random conversation index in [lo, hi) that is not hot."""
        while True:
            i = self.rng.randrange(lo, hi)
            if i % 97:
                return f"conv-{i:08d}"

    def cycle(self) -> dict | None:
        from engine.maintain import (compact, compact_deletes,
                                     expire_checkpoints, expire_snapshots,
                                     rewrite_deletes, sweep_orphans)
        from engine.streaming import ingest_batch
        t = self.table
        base_sid = t.current_snapshot().snapshot_id
        ok_all = True
        t0 = time.perf_counter()
        with self.span("bench.cycle"):
            ingest_s = 0.0
            for i, (b, _) in enumerate(self.batches):
                a = time.perf_counter()
                ok, _ = self.ops.run("ingest_batch", ingest_batch,
                                     self.spark, t, b, batch_id=1000 + i)
                ingest_s += time.perf_counter() - a
                ok_all &= ok
            ok, _ = self.ops.run("late_edit", ingest_batch, self.spark, t,
                                 self.edit, batch_id=2000)
            ok_all &= ok
            ok, _ = self.ops.run("compact_deletes", compact_deletes,
                                 self.spark, t)
            ok_all &= ok
            # compaction target sized off the batch files, so they are
            # bin-pack eligible
            batch_files = [e for e in t.manifest_entries()
                           if e.sequence_number > base_sid]
            tb = 2 * (max(e.file_size_bytes for e in batch_files) + 1)
            for name, fn, args in (
                    ("compact", compact, (self.spark, t, tb)),
                    ("rewrite_deletes", rewrite_deletes, (self.spark, t, tb)),
                    ("expire_snapshots", expire_snapshots, (t, 1)),
                    ("expire_checkpoints", expire_checkpoints, (t,)),
                    ("sweep_orphans", sweep_orphans, (self.spark, t, 0.0))):
                ok, _ = self.ops.run(name, fn, *args)
                ok_all &= ok
            t1 = time.perf_counter()
            ok, rows = self.ops.run("full_scan", self.full_scan)
            ok_all &= ok
        t2 = time.perf_counter()
        if not ok_all:
            return None
        want = self.rows0 + self.ingested_rows
        self.ops.check("rows_base_plus_ingested", rows == want,
                       f"{rows} != {want}")
        return {"cycle_s": t2 - t0, "full_scan_s": t2 - t1,
                "cadence_s": t2 - t0,
                "ingest_rows_per_s": self.ingested_rows / ingest_s}

    def verify(self) -> None:
        from engine.scan import scan
        super().verify()
        ok, n = self.ops.run(
            "edited_rows", lambda: scan(self.spark, self.table)
            .filter("text like 'edited: %'").count())
        if ok:
            self.ops.check("edited_rows", n == self.edited_rows,
                           f"{n} != {self.edited_rows}")
        self.cached.unpersist()


WORKLOADS = {c.name: c for c in (FusedPass, SteadyOps)}

E2E_UNITS = {"cycle_s": "s", "full_scan_s": "s", "point_read_p50_ms": "ms",
             "point_read_p90_ms": "ms", "write_amp": "ratio",
             "setup_s": "s"}
NAMED_UNITS = {"maintain_turns_per_s": "turns/s", "cadence_s": "s",
               "ingest_rows_per_s": "rows/s", "impute_accuracy": "fraction",
               "failed_op_frac": "fraction", "peak_rss_mb": "MB"}


# --------------------------------------------------------------------- main
def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    for sub in ("spark-local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = None  # re-read TMPDIR
    # both JVMs spark-submit starts (its launcher and the driver) would
    # otherwise write temporary files and a perf-counter file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData")))


def _children(pid: int) -> list[int]:
    """Every descendant of ``pid`` (the JVM's Python worker daemons)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for task in glob.glob(f"/proc/{p}/task/*/children"):
            try:
                with open(task) as f:
                    kids = [int(k) for k in f.read().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in and the Python workers it
    started, and wait until all have ended."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    workers = _children(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in workers:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        from engine.session import get_spark
        from pyspark import SparkContext
    except ImportError as e:
        print(f"lakebench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    from lakebench.spans import Tracer, eventlog_conf

    cores = os.cpu_count() or 1
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    ops = Ops()
    # the engine's own session settings; a traced run adds the event log
    extra = (eventlog_conf(os.path.join(work, "eventlog")) if args.trace
             else None)
    spark = None
    ticks0 = _cpu_ticks()
    try:
        t0 = time.perf_counter()
        spark = get_spark(app=f"lakebench-{args.workload}",
                          master=f"local[{cores}]", extra=extra)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        shuffle_partitions = int(
            spark.conf.get("spark.sql.shuffle.partitions"))
        jvm_pid = SparkContext._gateway.proc.pid
        # set-up and checks each run in one span of their own; the workload
        # gets the tracer only after set-up, so the spans of its engine
        # calls and the Spark totals cover the timed window alone
        tracer = Tracer(spark) if args.trace else None
        wl = WORKLOADS[args.workload](spark, args.seed, work, ops)
        with (tracer.span("bench.setup") if tracer
              else contextlib.nullcontext()):
            wl.setup()
        setup_s = time.perf_counter() - t0
    except Exception:
        traceback.print_exc(file=sys.stderr)
        print("lakebench: set-up failed", file=sys.stderr)
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    # from here on a crash is a failed operation, reported, never missing
    try:
        if tracer is not None:
            wl.tracer = tracer
            tracer.install()
        try:
            wl.measure(args.seconds)
        finally:
            if tracer is not None:
                tracer.uninstall()
        with (tracer.span("bench.verify") if tracer
              else contextlib.nullcontext()):
            wl.verify()
        wl.m["setup_s"] = setup_s
        # the JVM's heap grows at the collector's discretion (the engine
        # sets an 8 GB driver), so its peak RSS is a per-layer figure
        rss = _peak_rss_mb(jvm_pid)
        wl.named["peak_rss_mb"] = wl.layer["jvm.peak_rss_mb"] = rss
    except Exception:
        ops.crashed("run")
    steal, total = (b - a for a, b in zip(ticks0, _cpu_ticks()))
    try:
        _stop(spark)
    except Exception:
        ops.crashed("stop")

    if args.trace:
        _, metrics = ops.run("per_layer", _per_layer, wl, tracer,
                              os.path.join(work, "eventlog"), session_s, ops)
        metrics = metrics or {}
    else:
        metrics = {k: {"value": wl.m[k], "unit": u}
                   for k, u in E2E_UNITS.items() if k in wl.m}
    wl.named["failed_op_frac"] = ops.failed / max(1, ops.attempted)
    correct = ops.failed == 0 and set(E2E_UNITS) <= set(wl.m)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores, "git_commit": _git_commit(),
        "sizes": {"convs": NUM_CONVS, "turns": wl.rows0,
                  "files": TABLE_FILES,
                  "shuffle_partitions": shuffle_partitions},
        "session_s": session_s,
        "cpu_steal_frac": steal / max(1, total),
        "named": {k: {"value": v, "unit": NAMED_UNITS.get(k, "count")}
                  for k, v in wl.named.items()},
        "op_seconds": ops.seconds,
        "errors": ops.errors,
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(WORK, "results", stem + ".json"), "w") as f:
        json.dump({"detail": detail, "metrics": metrics}, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print("lakebench detail " + json.dumps(detail))
    print(json.dumps({"correct": correct, "attempted": ops.attempted,
                      "failed": ops.failed, "metrics": metrics}))
    return 0 if correct else 1


# per-layer metric names, in report order; a layer the workload does not
# exercise reports 0
LAYER_METRICS = [
    ("merge.impute_merge.self_s", "s"),
    ("merge.impute_merge.shuffle_write_mb", "MB"),
    ("merge.impute_merge.spill_mb", "MB"),
    ("merge.impute_merge.task_skew", "ratio"),
    ("merge.merge_into.wall_s", "s"),
    ("merge.merge_into.calls", "count"),
    ("merge.merge_into.output_mb", "MB"),
    ("index.build_candidate_index.plan_s", "s"),
    ("impute.filled_frac", "fraction"),
    ("impute.accuracy.role", "fraction"),
    ("impute.accuracy.tool", "fraction"),
    ("impute.accuracy.text", "fraction"),
    ("layout.sample_quantile_bounds.wall_s", "s"),
    ("write.stage_dataframe.wall_s", "s"),
    ("write.stage_dataframe.output_mb", "MB"),
    ("write.stage_dataframe.files", "count"),
    ("format.Table.commit.calls", "count"),
    ("format.Table.commit.wall_s", "s"),
    ("format.Table.manifest_entries.calls", "count"),
    ("format.Table.manifest_entries.wall_s", "s"),
    ("maintain.compact.wall_s", "s"),
    ("maintain.compact.jobs", "count"),
    ("maintain.compact.output_mb", "MB"),
    ("maintain.compact_deletes.wall_s", "s"),
    ("maintain.rewrite_deletes.wall_s", "s"),
    ("maintain.rewrite_deletes.output_mb", "MB"),
    ("maintain.rewrite_manifests.wall_s", "s"),
    ("maintain.sweep_orphans.wall_s", "s"),
    ("maintain.sweep_orphans.orphans", "count"),
    ("streaming.ingest_batch.p50_s", "s"),
    ("streaming.ingest_batch.shuffle_write_mb", "MB"),
    ("scan.point_read.files_read", "count"),
    ("scan.point_read.plan_ms", "ms"),
    ("scan.point_read.exec_ms", "ms"),
    ("scan.full_scan.input_mb", "MB"),
    ("scan.full_scan.delete_files", "count"),
    ("session.get_spark_s", "s"),
    ("jvm.peak_rss_mb", "MB"),
    ("spark.jobs", "count"),
    ("spark.task_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("spark.unattributed_task_s", "s"),
    ("trace.cycle_s", "s"),
]

# spans each workload must fire in a traced run
EXPECTED_SPANS = {
    "fused_pass": ["merge.impute_merge", "merge.merge_into",
                   "index.build_candidate_index",
                   "layout.sample_quantile_bounds", "write.stage_dataframe",
                   "format.Table.commit", "format.Table.manifest_entries",
                   "maintain.rewrite_manifests", "maintain.sweep_orphans",
                   "scan.full_scan", "scan.point_read"],
    "steady_ops": ["streaming.ingest_batch", "merge.merge_into",
                   "write.stage_dataframe", "format.Table.commit",
                   "format.Table.manifest_entries", "maintain.compact",
                   "maintain.compact_deletes", "maintain.rewrite_deletes",
                   "maintain.sweep_orphans", "scan.full_scan",
                   "scan.point_read"],
}


def _per_layer(wl: Workload, tracer, log_dir: str, session_s: float,
               ops: Ops) -> dict:
    from lakebench.spans import MB, layer_metrics, read_task_metrics
    groups = read_task_metrics(log_dir, tracer.created_ms)
    # whole-run Spark totals cover the timed window only: every job of the
    # session warm-up, of set-up and of the checks is in one of these groups
    outside = {"session"} | {sp.group for sp in tracer.spans
                             if sp.name in ("bench.setup", "bench.verify")}
    window = [g for k, g in groups.items() if k not in outside]
    agg = layer_metrics(tracer, groups)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    tracer.dump(os.path.join(WORK, "results",
                             f"spans-{wl.name}-seed{wl.seed}.json"),
                groups)
    for name in EXPECTED_SPANS[wl.name]:
        ops.check("span_fired", name in agg, name)

    def a(span: str, key: str, scale: float = 1.0) -> float:
        return agg.get(span, {}).get(key, 0) / scale

    # the files a full scan reads at the end of the window, from the
    # manifest (the tracer is uninstalled): Spark's input-bytes counter
    # sees only the files' footers here
    data = wl.table.manifest_entries()
    deletes = wl.table.manifest_entries(content="deletes")
    v = dict(wl.layer)
    v.update({
        "scan.full_scan.input_mb":
            sum(e.file_size_bytes for e in data + deletes) / MB,
        "scan.full_scan.delete_files": len(deletes),
        "merge.impute_merge.self_s": a("merge.impute_merge", "self_s"),
        "merge.impute_merge.shuffle_write_mb":
            a("merge.impute_merge", "shuffle_write_self", MB),
        "merge.impute_merge.spill_mb": a("merge.impute_merge", "spill_self",
                                         MB),
        "merge.impute_merge.task_skew": a("merge.impute_merge", "skew"),
        "merge.merge_into.wall_s": a("merge.merge_into", "wall_s"),
        "merge.merge_into.calls": a("merge.merge_into", "calls"),
        "merge.merge_into.output_mb": a("merge.merge_into", "output", MB),
        "index.build_candidate_index.plan_s":
            a("index.build_candidate_index", "wall_s"),
        "layout.sample_quantile_bounds.wall_s":
            a("layout.sample_quantile_bounds", "wall_s"),
        "write.stage_dataframe.wall_s": a("write.stage_dataframe", "wall_s"),
        "write.stage_dataframe.output_mb":
            a("write.stage_dataframe", "bytes", MB),
        "write.stage_dataframe.files": a("write.stage_dataframe", "files"),
        "format.Table.commit.calls": a("format.Table.commit", "calls"),
        "format.Table.commit.wall_s": a("format.Table.commit", "wall_s"),
        "format.Table.manifest_entries.calls":
            a("format.Table.manifest_entries", "calls"),
        "format.Table.manifest_entries.wall_s":
            a("format.Table.manifest_entries", "wall_s"),
        "maintain.compact.wall_s": a("maintain.compact", "wall_s"),
        "maintain.compact.jobs": a("maintain.compact", "jobs"),
        "maintain.compact.output_mb": a("maintain.compact", "output", MB),
        "maintain.compact_deletes.wall_s":
            a("maintain.compact_deletes", "wall_s"),
        "maintain.rewrite_deletes.wall_s":
            a("maintain.rewrite_deletes", "wall_s"),
        "maintain.rewrite_deletes.output_mb":
            a("maintain.rewrite_deletes", "output", MB),
        "maintain.rewrite_manifests.wall_s":
            a("maintain.rewrite_manifests", "wall_s"),
        "maintain.sweep_orphans.wall_s": a("maintain.sweep_orphans",
                                           "wall_s"),
        "maintain.sweep_orphans.orphans": a("maintain.sweep_orphans",
                                            "orphans"),
        "streaming.ingest_batch.p50_s": a("streaming.ingest_batch", "p50_s"),
        "streaming.ingest_batch.shuffle_write_mb":
            a("streaming.ingest_batch", "shuffle_write", MB),
        "scan.point_read.files_read": _median(wl.read_files),
        "scan.point_read.plan_ms": _median(wl.read_plan) * 1000,
        "scan.point_read.exec_ms": _median(wl.read_exec) * 1000,
        "session.get_spark_s": session_s,
        "spark.jobs": sum(g["jobs"] for g in window),
        "spark.task_s": sum(g["task_s"] for g in window),
        "spark.gc_s": sum(g["gc_s"] for g in window),
        "spark.shuffle_write_mb":
            sum(g["shuffle_write"] for g in window) / MB,
        "spark.spill_mb": sum(g["spill"] for g in window) / MB,
        "spark.unattributed_task_s":
            groups.get("unattributed", {}).get("task_s", 0.0),
        "trace.cycle_s": wl.m.get("cycle_s", 0.0),
    })
    return {k: {"value": v.get(k, 0), "unit": u} for k, u in LAYER_METRICS}


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


if __name__ == "__main__":
    sys.exit(main())
