"""Structured Streaming ingest: late transcript turns → snapshot commits.

The reference is fully offline (no streaming anywhere — SURVEY.md §2.9); the
north rule's batch maintenance passes compose with continuous arrival via
``foreachBatch``: each micro-batch of late turns becomes one atomic
copy-on-write commit (append of new conversations + MERGE of updates to
existing ones), so readers never observe a half-ingested batch and every
batch is individually resumable (pass_id = batch id; a replayed batch after
a crash is a no-op thanks to the checkpoint log).

Design for scale: the micro-batch path reuses the exact batch operators
(engine.write.append / engine.merge.merge_into) — no separate streaming
implementation to keep consistent. Watermarking/session windows are not
needed for ingest-to-table; they'd enter only for streaming *analytics* on
the stream, which the lakehouse serves from snapshots instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .checkpoint import plan_snapshot
from .format import Table
from .merge import MERGE_KEYS, _source_predicates, merge_into
from .write import append

TRANSCRIPT_DDL = ("conv_id string, turn_idx int, role string, "
                  "text string, tool string, ts timestamp")


def ingest_batch(spark: SparkSession, table: Table, batch: DataFrame,
                 batch_id: int, target_files: int | None = None,
                 branch: str | None = None) -> None:
    """One micro-batch → one snapshot. Rows whose (conv_id, turn_idx) already
    exist update in place (late re-delivery / edits → MERGE); new keys append
    as fresh data files. Idempotent per batch_id.

    ``branch``: streaming write-audit-publish — every micro-batch lands on
    the named branch head (both the MERGE and the append sides plan
    against the BRANCH state, so stacked batches compose); main is
    untouched until ``Table.fast_forward`` publishes the audited stream."""
    batch = batch.dropDuplicates(list(MERGE_KEYS)).persist()
    head = plan_snapshot(table, branch)
    if head is None:
        append(table, batch, num_files=target_files or 1,
               range_cols=list(MERGE_KEYS), sort_cols=list(MERGE_KEYS),
               summary={"stream_batch": batch_id}, branch=branch)
        batch.unpersist()
        return
    from .scan import prune_files, scan

    # split batch into updates (key exists) vs inserts (new key) with ONE
    # pruned read of the possibly-affected files. Predicates come from the
    # capped derivation merge_into itself uses (IN-set ≤ _MAX_IN_SET keys
    # collected, else min/max range): a backlog-replay batch (availableNow
    # over a large drop) can carry millions of conversations — a bare
    # distinct().collect() would land them all on the driver.
    preds, _, _ = _source_predicates(batch)
    entries = prune_files(
        table.manifest_entries(head, predicates=preds), preds)
    if entries:
        # pruned scan: only files whose stats intersect the batch's keys;
        # join side left to AQE (the batch may be backlog-sized — forcing a
        # broadcast here has the same failure mode as the key collect)
        existing = scan(spark, table, predicates=preds,
                        snapshot_id=head.snapshot_id) \
            .select(*MERGE_KEYS) \
            .join(batch.select(*MERGE_KEYS), list(MERGE_KEYS), "left_semi")
        upd = batch.join(existing, list(MERGE_KEYS), "left_semi")
        ins = batch.join(existing, list(MERGE_KEYS), "left_anti")
        n_upd = upd.count()
    else:
        # pruning proved the batch's key domain touches no existing file:
        # statically all-inserts — skip the update-count job entirely (a
        # new-conversation append cadence pays one less action per batch)
        upd, ins = None, batch
        n_upd = 0
    if n_upd:
        src = upd.select("conv_id", "turn_idx",
                         F.col("role").alias("upd_role"),
                         F.col("text").alias("upd_text"),
                         F.col("tool").alias("upd_tool"))
        merge_into(spark, table, src,
                   {"role": "upd_role", "text": "upd_text",
                    "tool": "upd_tool"},
                   pass_id=f"stream-{batch_id}-upd", branch=branch)
    if ins.limit(1).count():
        append(table, ins, num_files=target_files or 1,
               range_cols=list(MERGE_KEYS), sort_cols=list(MERGE_KEYS),
               summary={"stream_batch": batch_id, "inserted": True},
               branch=branch)
    batch.unpersist()


def turn_rate_stream(stream: DataFrame,
                     window_duration: str = "10 minutes",
                     slide: str | None = None,
                     watermark: str = "30 minutes") -> DataFrame:
    """Streaming analytics over the live turn stream: per-(window, role)
    arrival counts with event-time windows and a late-data watermark — the
    one Structured Streaming shape the ingest path doesn't need (ingest is
    exactly-once by keys, so it never drops late rows; an *aggregation*
    must bound its state, which is what the watermark does: rows later than
    ``watermark`` past the max observed ts are excluded and their window
    state is reclaimed).

    Runs on any streaming OR batch DataFrame with (ts, role) — batch input
    gives the exact answer for tests. Output is append-safe (watermarked),
    so it composes with ``writeStream`` into a parquet/console/memory sink.
    """
    w = F.window("ts", window_duration, slide or window_duration)
    return (stream
            .withWatermark("ts", watermark)
            .groupBy(w.alias("win"), "role")
            .agg(F.count(F.lit(1)).alias("turns"))
            .select(F.col("win.start").alias("window_start"),
                    F.col("win.end").alias("window_end"),
                    "role", "turns"))


def start_ingest(spark: SparkSession, table: Table, source_dir: str,
                 checkpoint_dir: str, trigger_once: bool = True,
                 branch: str | None = None):
    """File-source stream of transcript parquet drops → foreachBatch commits.

    ``trigger_once`` processes the backlog and stops (the batch-maintenance
    cadence); pass False for continuous micro-batches. ``branch`` routes
    every micro-batch onto an audit branch (streaming write-audit-publish)."""
    stream = (spark.readStream.schema(TRANSCRIPT_DDL)
              .option("maxFilesPerTrigger", "64")
              .parquet(source_dir))
    writer = (stream.writeStream
              .option("checkpointLocation", checkpoint_dir)
              .foreachBatch(lambda b, bid: ingest_batch(spark, table, b, bid,
                                                        branch=branch)))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
