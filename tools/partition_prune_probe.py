"""Partition-layout probe: measure the pruning claim behind partitioned
optimize_layout (the second deployment axis; bucketed_layout_probe covers
the first).

A selective equality filter on a low-cardinality column (event_type: 5
values in the fixture) scans the WHOLE table under the flat layout — the
filter is row-level, every row group is read and decoded — while the
hive-partitioned layout prunes to the matching directory at PLANNING time:
untouched partitions are never opened.  At 100 TB this is the difference
between a full-corpus scan and reading one shard; partition pruning is
free capacity the layout buys for every selective query.

Method: replicate events to [reps]x (shared .cache/floorscale corpus),
deploy via the PUBLIC tables.optimize_layout(partition_by="event_type"),
then time the REGISTERED read path (load_table through discovery) under a
selective filter+aggregate, flat vs partitioned, best-of-3 warm.  Also
verifies: identical result rows, identical schema (discovery restores
column order/dtypes), and PartitionFilters present in the pruned plan.

Usage: python tools/partition_prune_probe.py [reps]   (default 100)
Prints one JSON line.

Committed reading (round 11, local[32], quiet window, best-of-3 warm,
events replicated; filter selects 1 of 5 event_type partitions):

  reps   rows   flat best   partitioned best   speedup   ingest (once)
  100     10M     0.299 s        0.222 s         1.35x       3.7 s
  1000   100M     0.629 s        0.332 s         1.89x       9.3 s

  Results row-identical, schema identical (discovery restores column
  order/dtypes), PartitionFilters carries the event_type equality in
  the pruned plan.  Scale-monotone: the flat side grows with the
  corpus, the pruned side with the SELECTED partition — the asymptotic
  ceiling for a 1-of-5 partition filter is ~5x minus fixed costs, and
  at 100 TB the flat side is a full-corpus scan while the pruned side
  reads one shard; these single-node readings understate the win the
  same way the bucketed probe's do.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from tools.floorbound_scale_probe import build  # noqa: E402
from tools.focused_ab import best_of  # noqa: E402
import steampipe_sqlite_spark.tables as T  # noqa: E402
from steampipe_sqlite_spark.session import get_spark, stop_spark  # noqa: E402


def _agg(df):
    """A selective filter + cheap aggregate: the scan dominates, so the
    reading isolates scan cost (what pruning changes), not compute."""
    return (
        df.filter(F.col("event_type") == "click")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
    )


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 100

    spark = get_spark("pruneprobe")
    sf_dir = build(spark, reps, {"events"})
    os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir
    stop_spark()
    spark = get_spark("pruneprobe")

    flat_df = T.load_table(spark, sf_dir, "events")
    rows = flat_df.count()
    flat_res = _agg(flat_df).collect()
    flat_s = best_of(lambda: _agg(T.load_table(spark, sf_dir, "events")).collect())
    flat_schema = flat_df.dtypes

    t0 = time.perf_counter()
    T.optimize_layout(spark, sf_dir, "events", partition_by="event_type")
    ingest_s = time.perf_counter() - t0

    part_df = T.load_table(spark, sf_dir, "events")
    part_res_df = _agg(part_df)
    part_res = part_res_df.collect()
    part_s = best_of(lambda: _agg(T.load_table(spark, sf_dir, "events")).collect())
    plan = part_res_df._jdf.queryExecution().executedPlan().toString()
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)

    out = {
        "reps": reps,
        "rows": rows,
        "flat_best_s": round(flat_s, 3),
        "partitioned_best_s": round(part_s, 3),
        "speedup": round(flat_s / part_s, 2) if part_s else None,
        "ingest_s": round(ingest_s, 1),
        "results_equal": part_res == flat_res,
        "schema_equal": part_df.dtypes == flat_schema,
        "partition_filter": pf.group(1) if pf else None,
    }
    print(json.dumps(out))
    T.drop_layout(spark, sf_dir, "events")


if __name__ == "__main__":
    main()
