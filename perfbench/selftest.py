#!/usr/bin/env python3
"""Self-tests of the benchmark runner; no Spark session needed.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import itertools
import json
import os
import sys
import tempfile
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import run, workloads  # noqa: E402


def direct_read(workload: workloads.Workload, params: tuple, call_log: str) -> list[dict]:
    """Scan the workload's table through the bridge's reader and connector
    in this process, as Spark's planner and executors would call them,
    with the page latency set to 0.  Returns the scanned rows."""
    from pyspark.sql.datasource import In

    from steampipe_sqlite_spark.sources.datasource import ConnectorReader, load_connector

    config = {**workload.config, "page_latency_ms": 0, "call_log": call_log}
    conn = load_connector(workloads.PAGED, json.dumps(config))
    reader = ConnectorReader(conn, conn.get_schema().table("items"), {})
    if workload is workloads.LIVE_DASHBOARD:
        list(reader.pushFilters([In(("partition_id",), tuple(params))]))
    rows = []
    for part in reader.partitions():
        for batch in reader.read(part):
            rows.extend(batch.to_pylist())
    return rows


def aggregate(workload: workloads.Workload, params: tuple, rows: list[dict]) -> list[dict]:
    """The workload's SQL, evaluated in Python over scanned rows."""
    groups: dict[tuple, list[dict]] = {}
    for r in rows:
        if workload is workloads.LIVE_DASHBOARD and r["partition_id"] not in params:
            continue
        groups.setdefault(tuple(r[c] for c in workload.group_cols), []).append(r)
    out = []
    for key, rs in groups.items():
        rec = dict(zip(workload.group_cols, key))
        seqs = [r["seq"] for r in rs]
        rec.update(n=len(rs), sum_seq=sum(seqs), min_seq=min(seqs), max_seq=max(seqs))
        rec["sum_value"] = sum(r["value"] for r in rs)
        if workload is workloads.BULK_EXTRACT:
            rec["n_tail"] = sum(r["page"] >= params[0] for r in rs)
        out.append(rec)
    return out


class FakeGroups:
    def __init__(self):
        self.calls: list[tuple] = []

    def set(self, group):
        self.calls.append(("set", group))

    def clear(self):
        self.calls.append(("clear",))


class RunnerTest(unittest.TestCase):
    def test_tail_percentile_needs_ten_samples_beyond(self):
        self.assertIsNone(run.tail_percentile([float(i) for i in range(19)]))
        self.assertEqual(run.tail_percentile([float(i) for i in range(20)]), (50, 9.0))
        self.assertEqual(run.tail_percentile([float(i) for i in range(100)]), (90, 89.0))
        self.assertEqual(run.tail_percentile([float(i) for i in range(1000)]), (99, 989.0))

    def test_op_sequence_is_seed_determined(self):
        for w in workloads.WORKLOADS.values():
            runs = [list(itertools.islice(workloads.op_params(w, s), 50)) for s in range(5)]
            self.assertEqual(runs[0], list(itertools.islice(workloads.op_params(w, 0), 50)))
            self.assertGreater(len({tuple(r) for r in runs}), 1)

    def test_call_log_and_results_of_a_direct_scan(self):
        for w in workloads.WORKLOADS.values():
            params = next(workloads.op_params(w, 3))
            with tempfile.TemporaryDirectory() as d:
                log = os.path.join(d, "calls.jsonl")
                rows = direct_read(w, params, log)
                calls = run.read_jsonl(log)
            with self.subTest(workload=w.name):
                self.assertEqual(len(calls), workloads.api_calls_formula(w))
                got = aggregate(w, params, rows)
                self.assertIsNone(workloads.check(workloads.Expected(w).rows(params), got, w.group_cols))

    def test_planted_wrong_result_and_raise_count_as_failed(self):
        w = workloads.LIVE_DASHBOARD
        expected = workloads.Expected(w)
        params = (1, 4)
        good = [{"partition_id": p, "page": pg, **row} for (p, pg), row in expected.rows(params).items()]
        bad = [dict(r) for r in good]
        bad[3]["sum_seq"] += 1
        outcomes = iter([bad, RuntimeError("boom"), good])

        def execute(op):
            out = next(outcomes)
            if isinstance(out, Exception):
                raise out
            return out

        client = run.Client(FakeGroups(), expected, execute)
        ops = [client.run(run.Op(index=i, params=params)) for i in range(3)]
        self.assertEqual([op.error is not None for op in ops], [True, True, False])
        self.assertEqual([e["op"] for e in client.errors], [0, 1])
        self.assertIn("boom", client.errors[1]["error"])

    def test_each_op_runs_in_its_own_job_group_cleared_on_return(self):
        w = workloads.BULK_EXTRACT
        groups = FakeGroups()
        seen = []

        def execute(op):
            seen.append(groups.calls[-1])
            if op.index == 1:
                raise RuntimeError("boom")
            return []

        client = run.Client(groups, workloads.Expected(w), execute)
        for i in range(3):
            client.run(run.Op(index=i, params=(0,)))
        names = [c[1] for c in groups.calls if c[0] == "set"]
        self.assertEqual(len(set(names)), 3)
        self.assertEqual(seen, [("set", n) for n in names])
        self.assertEqual(groups.calls, [c for n in names for c in (("set", n), ("clear",))])

    def test_paired_overhead_is_the_median_ratio(self):
        self.assertEqual(run.paired_overhead([(2.0, 1.0), (3.0, 3.0), (1.0, 2.0)]), 1.0)
        self.assertEqual(run.paired_overhead([(1.1, 1.0)]), 1.1)

    def test_records_are_assigned_to_the_op_window_holding_them(self):
        ops = [run.Op(index=i, params=(), t0=10.0 * i, t1=10.0 * i + 5) for i in range(3)]
        items = [{"ts": t} for t in (0.0, 4.0, 7.0, 12.0, 25.0, 99.0)]
        got = run.assign(items, ops, "ts")
        self.assertEqual({k: [x["ts"] for x in v] for k, v in got.items()}, {0: [0.0, 4.0], 1: [12.0], 2: [25.0]})

    def test_metric_names_and_units_match_benchmark_json(self):
        with open(ROOT / "BENCHMARK.json") as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER_UNITS)
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(workloads.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
