"""Write the physical plans of the engine's key operations to BENCH/PLANS.md
so plan quality (pushdown, broadcast, codegen, zero row-Python) is reviewable
without running anything.

Usage: python tools/dump_plans.py
"""

from __future__ import annotations

import io
import os
import shutil
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    from engine.format import Table
    from engine.index import build_candidate_index
    from engine.layout import cluster_dataframe
    from engine.merge import plan_impute_updates
    from engine.scan import Predicate, scan
    from engine.session import get_spark
    from engine.synth import generate_transcripts, inject_missing
    from engine.write import append

    spark = get_spark(app="dump-plans", master="local[4]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    root = "/tmp/plans_tbl"
    shutil.rmtree(root, ignore_errors=True)
    df, _ = inject_missing(generate_transcripts(spark, num_convs=40))
    t = Table.create(root)
    append(t, df, num_files=8, range_cols=["conv_id", "turn_idx"],
           sort_cols=["conv_id", "turn_idx"])

    sections = []

    pruned = scan(spark, t, predicates=[
        Predicate("conv_id", "eq", "conv-00000007")],
        columns=["conv_id", "turn_idx", "role"]) \
        .filter("conv_id = 'conv-00000007'")
    sections.append((
        "Pruned point scan",
        "Manifest stats cut the file list BEFORE Spark plans; the parquet "
        "scan shows PushedFilters + a pruned ReadSchema.",
        plan_of(pruned)))

    table_df = scan(spark, t)
    upd = plan_impute_updates(table_df, build_candidate_index(table_df, k=1))
    sections.append((
        "Impute-MERGE update plan",
        "One window pass over the null-guarded xxhash64(text) long sig (all "
        "lag/lead share a frame; raw text never enters the shuffle), one "
        "explode for all key families, each keyed by one "
        "xxhash64(family, components...) long (no concat_ws), a "
        "count-only HashAggregate with map-side partials (any string/struct "
        "agg buffer would demote it to a SortAggregate over the exploded "
        "pairs), rank-1 by a second partial agg (no window sort), a shuffle "
        "probe + pivot, and two O(worklist) broadcast-keyed text fetches. "
        "No BatchEvalPython/ArrowEvalPython anywhere.",
        plan_of(upd)))

    clustered = cluster_dataframe(table_df, "zorder", num_files=4)
    sections.append((
        "Z-order clustering rewrite (standalone)",
        "The morton key is pure bit-arithmetic inside WholeStageCodegen; the "
        "only exchange is the range partitioner.",
        plan_of(clustered)))

    from pyspark.sql import functions as F

    from engine.merge import build_rewrite
    src_small = table_df.select(
        "conv_id", "turn_idx", F.lit("X").alias("upd_text")).limit(50)
    rewrite = build_rewrite(table_df, src_small, {"text": "upd_text"},
                            broadcast_source=True)
    fused = cluster_dataframe(rewrite, "zorder", num_files=4,
                              bounds=[1 << 58, 2 << 58, 3 << 58])
    sections.append((
        "Fused MERGE+cluster rewrite",
        "The CoW rewrite join feeds the curve exchange directly: ONE full "
        "write per maintenance pass. Bounds are precomputed (sampled warm "
        "cache), so there is no range-sampling job re-executing the join — "
        "the exchange is a plain hash repartition on a bucket expression "
        "solved to land each curve segment in its own partition.",
        plan_of(fused)))

    from engine.write import partition_reps
    entries = t.manifest_entries()
    reps = partition_reps(4)
    route = [(os.path.basename(e.path), reps[j % 4])
             for j, e in enumerate(entries)]
    mapping = F.broadcast(
        spark.createDataFrame(route, "__cmp_base string, __cmp_rep long"))
    comp_df = (spark.read.parquet(
                   *[os.path.join(t.root, e.path) for e in entries])
               .withColumn("__cmp_base",
                           F.element_at(F.split(F.input_file_name(), "/"),
                                        -1))
               .join(mapping, "__cmp_base")
               .repartition(4, F.col("__cmp_rep"))
               .drop("__cmp_base", "__cmp_rep")
               .sortWithinPartitions("conv_id", "turn_idx"))
    sections.append((
        "Single-job compaction routing",
        "A whole bin-pack plan (any group count) compacts in ONE job: rows "
        "are tagged with their file's basename at the scan "
        "(input_file_name — free), routed to their group via a broadcast "
        "hash join (never a shuffle), and placed in exactly one output "
        "partition per group by a murmur3-solved representative value "
        "(pmod(hash(rep_j), n) == j by construction). The only exchanges "
        "are the tiny broadcast and the single repartition; the r2 design "
        "scheduled one driver-sequenced Spark job per group.",
        plan_of(comp_df)))

    from engine.merge import merge_into
    mor_src = (table_df.select("conv_id", "turn_idx")
               .orderBy("conv_id", "turn_idx").limit(3)
               .withColumn("upd_text", F.lit("edited")))
    merge_into(spark, t, mor_src, {"text": "upd_text"}, pass_id="plans-mor",
               mode="mor")
    sections.append((
        "Merge-on-read scan (delete backlog applied)",
        "After a sparse MoR merge, the scan is a two-branch union: the bulk "
        "branch (every data file OLDER than all delete files — the base "
        "table) is ONE broadcast hash anti-join on the merge keys with no "
        "input_file_name()/sequence machinery; only the tiny insert files "
        "take the sequence-aware join (basename→seq broadcast maps, "
        "residual seq comparison). A table with NO delete backlog plans "
        "with no join at all (zero MoR overhead on the steady-state scan).",
        plan_of(scan(spark, t))))

    from engine.maintain import compact_deletes
    merge_into(spark, t, (table_df.select("conv_id", "turn_idx")
                          .orderBy(F.desc("conv_id"), "turn_idx").limit(3)
                          .withColumn("upd_text", F.lit("g2"))),
               {"text": "upd_text"}, pass_id="plans-mor2", mode="mor")
    compact_deletes(spark, t, pass_id="plans-fold")
    sections.append((
        "Scan over a FOLDED delete backlog (compact_deletes)",
        "N tiny delete files folded to ONE with each row's original "
        "sequence materialized as __delete_seq: the scan still plans the "
        "same broadcast hash anti-join — the row-level sequence rides the "
        "tiny delete side (coalesced with the file-level map), never the "
        "data side, and never leaks into the output schema.",
        plan_of(scan(spark, t))))

    from engine.scan import read_with_deletes
    live = read_with_deletes(spark, t, t.manifest_entries(),
                             t.manifest_entries(content="deletes"))
    match = Predicate("turn_idx", "ge", 40).to_column()
    sections.append((
        "DELETE WHERE survivor rewrite (dense residue)",
        "Row-level DELETE's copy-on-write tier: the dead-side probe is a "
        "bare filter whose conjuncts push to the parquet scan; the "
        "survivor side carries an explicit NULL collapse (three-valued NOT "
        "would silently drop null-columned rows) and stays 100% JVM. The "
        "sparse tier commits an equality-delete tombstone instead (same "
        "plan as the MoR scan above); whole-file drops never plan a scan "
        "at all.",
        plan_of(live.filter(~F.coalesce(match, F.lit(False))))))

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.makedirs(os.path.join(here, "BENCH"), exist_ok=True)
    with open(os.path.join(here, "BENCH", "PLANS.md"), "w") as f:
        f.write("# Physical plans of the engine's key operations\n\n"
                "Generated by `python tools/dump_plans.py` "
                "(asserted programmatically in tests/test_plans.py).\n")
        for title, blurb, plan in sections:
            f.write(f"\n## {title}\n\n{blurb}\n\n```\n{plan}\n```\n")
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()
    print("wrote BENCH/PLANS.md")


if __name__ == "__main__":
    main()
