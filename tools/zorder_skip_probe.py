"""Sorted/Z-ordered layout probe: measure parquet min/max data skipping
behind optimize_layout(order_by=) — the third deployment axis
(bucketed_layout_probe covers hash bucketing, partition_prune_probe covers
hive partitioning).

A selective RANGE filter over a high-cardinality column reads every row
group under the flat layout — min/max stats of a randomly-laid-out file
span the whole domain, so nothing skips — while the range-sorted layout
clusters each file to a narrow slice: the parquet reader's stats check
drops non-overlapping row groups before decoding a byte.  The 2-column
arm shows what Morton clustering adds: after sorting by value alone,
user_id is still full-range in every file, so a 2-column filter only
skips on value; the Z-ordered copy skips on BOTH predicates.

Method: replicate events to [reps]x (shared .cache/floorscale corpus),
deploy via the PUBLIC tables.optimize_layout(order_by=...), time a
filter+aggregate through the registered load_table discovery path,
best-of-3 warm per arm, layouts dropped between arms.

Usage: python tools/zorder_skip_probe.py [reps]   (default 100)
Prints one JSON line.

Committed reading (round 11, local[32], quiet window, 1000x = 100M
events, 64 files, best-of-3 warm through the PUBLIC discovery path):

  arm                          filter                best     speedup
  flat                         value range (1-2%)    0.622 s     —
  sorted by value              value range           0.264 s    2.36x
  flat                         value + user_id       0.586 s     —
  sorted by value              value + user_id       0.206 s    2.84x
  z-ordered (value, user_id)   value + user_id       0.153 s    3.83x

  Results row-identical in every arm.  The Morton layout beats the
  single-column sort on the 2-column filter by a further ~26% — the
  value predicate already skips ~98% of row groups, so the user_id
  dimension only has the residue to prune; with LESS selective
  per-column predicates the z-order margin widens (that is its
  regime).  Ingest, paid once: range sort 18.1 s; z-order 215 s (the
  GK-quantile pass + Morton expression + range shuffle over 100M
  rows) — the z-order premium is real and should be spent only on
  tables whose query mix actually filters on several columns.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from tools.floorbound_scale_probe import build  # noqa: E402
from tools.focused_ab import best_of  # noqa: E402
import steampipe_sqlite_spark.tables as T  # noqa: E402
from steampipe_sqlite_spark.session import get_spark, stop_spark  # noqa: E402

# events.value spans ~[0, 560]; a 5-unit slice is ~1-2% of rows.
VALUE_LO, VALUE_HI = 100.0, 105.0
# events.user_id spans [0, 1500); a 100-id slice is ~6-7% of users.
UID_LO, UID_HI = 700, 800


def _one_col(df):
    return df.filter(F.col("value").between(VALUE_LO, VALUE_HI)).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )


def _two_col(df):
    return (
        df.filter(F.col("value").between(VALUE_LO, VALUE_HI))
        .filter(F.col("user_id").between(UID_LO, UID_HI))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 100

    spark = get_spark("zorderprobe")
    sf_dir = build(spark, reps, {"events"})
    os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir
    stop_spark()
    spark = get_spark("zorderprobe")

    out = {"reps": reps, "rows": T.load_table(spark, sf_dir, "events").count()}

    def run_arm(agg):
        res = agg(T.load_table(spark, sf_dir, "events")).collect()
        best = best_of(lambda: agg(T.load_table(spark, sf_dir, "events")).collect())
        return res, best

    flat_one_res, flat_one_s = run_arm(_one_col)
    flat_two_res, flat_two_s = run_arm(_two_col)
    out["flat_one_col_s"] = round(flat_one_s, 3)
    out["flat_two_col_s"] = round(flat_two_s, 3)

    # arm 1: single-column range sort
    t0 = time.perf_counter()
    T.optimize_layout(spark, sf_dir, "events", order_by=["value"], order_files=64)
    out["sorted_ingest_s"] = round(time.perf_counter() - t0, 1)
    res, sorted_one_s = run_arm(_one_col)
    out["sorted_one_col_s"] = round(sorted_one_s, 3)
    out["sorted_one_equal"] = res == flat_one_res
    res, s = run_arm(_two_col)
    out["sorted_two_col_s"] = round(s, 3)
    out["sorted_two_equal"] = res == flat_two_res
    T.drop_layout(spark, sf_dir, "events")

    # arm 2: two-column Morton clustering
    t0 = time.perf_counter()
    T.optimize_layout(
        spark, sf_dir, "events", order_by=["value", "user_id"], order_files=64
    )
    out["zorder_ingest_s"] = round(time.perf_counter() - t0, 1)
    res, zorder_two_s = run_arm(_two_col)
    out["zorder_two_col_s"] = round(zorder_two_s, 3)
    out["zorder_two_equal"] = res == flat_two_res
    T.drop_layout(spark, sf_dir, "events")

    # divide the UNROUNDED times (a sub-ms arm rounds to 0.0 at tiny reps)
    out["speedup_one_col_sorted"] = round(flat_one_s / max(sorted_one_s, 1e-6), 2)
    out["speedup_two_col_zorder"] = round(flat_two_s / max(zorder_two_s, 1e-6), 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
