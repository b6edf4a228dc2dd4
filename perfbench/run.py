#!/usr/bin/env python3
"""Bridge benchmark: one closed-loop client runs one workload's query
shape against the engine's public surface and checks every result.

    python3 perfbench/run.py --workload live_dashboard --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
``{"detail": ...}`` with the noise evidence (nproc, host steal during
set-up and during the window), the sample count and tail percentile, the
per-op latencies and CPU, ``cpu_ms_per_op``, the warm-up time and any
errors.  ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
alternates traced and plain ops and reports the per-layer metrics.  See
perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import bisect
import importlib.util
import itertools
import json
import math
import os
import shutil
import signal
import subprocess
import statistics
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import proc, workloads  # noqa: E402

# untimed ops after set-up, until this long has passed (and at least two):
# the JVM is still compiling hot paths and the first ops run slower
WARMUP_S = 6.0
TAIL_PERCENTILES = (50, 75, 90, 95, 99, 99.9)
TRACED_CONNECTOR = "perfbench.tracing:TracedPagedHttpConnector"

END_TO_END_UNITS = {
    "latency_p50_ms": "ms",
    "setup_s": "s",
    "api_calls_per_op": "count",
    "worker_peak_rss_mb": "MiB",
}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "engine.load_ms": "ms",
    "engine.first_op_ms": "ms",
    "engine.sql_ms": "ms",
    "datasource.plan_ms": "ms",
    "datasource.planner_calls_per_op": "count",
    "datasource.planner_procs_per_op": "count",
    "datasource.planner_self_ms": "ms",
    "exec.action_ms": "ms",
    "exec.jobs_per_op": "count",
    "exec.tasks_per_op": "count",
    "datasource.read_ms": "ms",
    "datasource.first_batch_ms": "ms",
    "datasource.scan_retries_per_op": "count",
    "pagedhttp.http_429_per_op": "count",
    "pagedhttp.pages_per_op": "count",
    "pagedhttp.execute_ms": "ms",
    "pagedhttp.rows_per_op": "count",
    "pagedhttp.arrow_mb_per_op": "MiB",
    "ratelimit.wait_ms_per_op": "ms",
    "engine.driver_cpu_ms_per_op": "ms",
    "exec.jvm_cpu_ms_per_op": "ms",
    "exec.jit_cpu_ms_per_op": "ms",
    "datasource.worker_cpu_ms_per_op": "ms",
    "trace.residual_ms": "ms",
    "trace.overhead_ratio": "ratio",
}


# -- statistics ---------------------------------------------------------------


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest p in TAIL_PERCENTILES that has at least
    ten samples beyond it (nearest rank), or None when even p50 has not."""
    xs = sorted(samples)
    n = len(xs)
    best = None
    for p in TAIL_PERCENTILES:
        rank = max(1, math.ceil(p / 100 * n))
        if n - rank >= 10:
            best = (p, xs[rank - 1])
    return best


def paired_overhead(pairs: list[tuple[float, float]]) -> float:
    """Median over (traced, plain) latency pairs of traced / plain."""
    return statistics.median(t / p for t, p in pairs)


# -- one closed-loop client ---------------------------------------------------


@dataclass
class Op:
    index: int
    params: tuple
    traced: bool = False
    pair: int | None = None  # traced runs: the (traced, plain) pair it belongs to
    t0: float = 0.0
    t1: float = 0.0
    phases: dict = field(default_factory=dict)  # traced ops: sql/plan/action seconds
    # process-tree CPU seconds from just before to just after the op, by
    # layer (proc.cpu_split_s)
    cpu: dict = field(default_factory=dict)
    error: str | None = None

    @property
    def group(self) -> str:
        return f"perfbench-op-{self.index}"

    @property
    def latency_s(self) -> float:
        return self.t1 - self.t0

    @property
    def cpu_s(self) -> float:
        """Serving CPU: all but the JVM's JIT compiler threads, whose work
        is a warm-up cost that decays over the process lifetime."""
        return self.cpu["driver"] + self.cpu["jvm"] + self.cpu["workers"]


class JobGroups:
    """Each op runs under its own Spark job group, cleared when the op
    returns, so the status tracker attributes jobs to exactly one op."""

    def __init__(self, sc):
        self.sc = sc

    def set(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear(self) -> None:
        self.sc._jsc.clearJobGroup()


class Client:
    """Sends the next op only after the previous one returned.  ``execute``
    runs an op and returns its result records; its time is the op's
    latency.  The check runs after the clock stops.  A wrong or raising op
    counts as failed and the run goes on."""

    def __init__(self, groups, expected: workloads.Expected, execute):
        self.groups = groups
        self.expected = expected
        self.execute = execute
        self.errors: list[dict] = []

    def run(self, op: Op) -> Op:
        try:
            self.groups.set(op.group)
            records = self.execute(op)
        except Exception as exc:  # noqa: BLE001 — a failing op must not end the run
            op.t1 = op.t1 or time.monotonic()
            op.t0 = op.t0 or op.t1
            op.error = f"{type(exc).__name__}: {str(exc)[:300]}"
        else:
            op.error = workloads.check(
                self.expected.rows(op.params), records, self.expected.workload.group_cols
            )
        finally:
            try:
                self.groups.clear()
            except Exception:  # noqa: BLE001 — the session died; the caller recreates it
                pass
        if op.error:
            self.errors.append({"op": op.index, "traced": op.traced, "error": op.error})
        return op


# -- environment ----------------------------------------------------------------


def pin_env(run_dir: Path, nproc: int) -> dict:
    """Fix everything a caller's shell could change about the plan, before
    Spark starts."""
    for d in ("sf_empty", "spark-local", "conf", "tmp", "trace"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    tmp = run_dir / "tmp"
    # a fixed heap (initial = max): a growing heap changes GC activity
    # from one query to the next during the first minute
    heap_mb = min(1024, mem_mb // 4)
    pinned = {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_GRAFT_AQE": "off",
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": "8",
        "SPARK_GRAFT_MAX_PARTITION_BYTES": "128m",
        "SPARK_GRAFT_SCHEDULER": "fifo",
        "SPARK_GRAFT_UI": "off",
        "SPARK_GRAFT_SF_DIR": str(run_dir / "sf_empty"),
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        "SPARK_CONF_DIR": str(run_dir / "conf"),
        "TMPDIR": str(tmp),
        "PYTHONPATH": str(ROOT),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # -XX:-UsePerfData: neither the launcher JVM nor the driver JVM
        # writes an hsperfdata file to the system /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            "--conf spark.python.worker.reuse=true "
            f"--conf 'spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -Xms{heap_mb}m -XX:-UsePerfData' "
            "pyspark-shell"
        ),
    }
    for var in ("STEAMPIPE_CACHE", "STEAMPIPE_CACHE_MAX_TTL", "SPARK_GRAFT_LAYOUT", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(var, None)
    os.environ.update(pinned)
    return pinned


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and every process under it (the
    Python daemon and workers) have ended.  Works on a session whose JVM
    already died."""
    from pyspark import SparkContext

    started = proc.descendants(os.getpid())
    gateway = SparkContext._gateway
    for step in (spark.stop, gateway.shutdown if gateway is not None else None):
        try:
            if step is not None:
                step()
        except Exception as exc:  # noqa: BLE001 — a dead JVM cannot answer
            print(f"perfbench: stopping Spark: {exc!r}", file=sys.stderr)
    jvm = getattr(gateway, "proc", None)
    if jvm is not None:
        jvm.stdin.close()  # the JVM exits at EOF on its stdin
        try:
            jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait(timeout=30)
    # workers outlive the JVM briefly, reparented away from this process
    deadline = time.monotonic() + 20
    while (alive := [p for p in started if proc.running(p)]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


# -- the run ----------------------------------------------------------------------


class Bench:
    """One Spark session, the Engine(s) on it and the closed-loop client."""

    def __init__(self, workload: workloads.Workload, seconds: float, trace: bool, run_dir: Path):
        self.workload = workload
        self.seconds = seconds
        self.trace = trace
        self.run_dir = run_dir
        self.call_log = str(run_dir / "calls.jsonl")
        self.trace_dir = str(run_dir / "trace")
        self.client = Client(None, workloads.Expected(workload), self._execute)
        self.hwm_kb = 0
        self.spark = None

    # session and engines
    def start(self) -> dict:
        from steampipe_sqlite_spark.engine import Engine
        from steampipe_sqlite_spark.session import get_spark

        t0 = time.monotonic()
        self.spark = get_spark("perfbench")
        t1 = time.monotonic()
        self.engine = Engine(self.spark)
        self.engine.load(workloads.PAGED, alias="paged", config=self.workload.config_json(self.call_log))
        t2 = time.monotonic()
        if self.trace:
            self.traced_engine = Engine(self.spark)
            self.traced_engine.load(
                TRACED_CONNECTOR, alias="paged", config=self.workload.config_json(self.call_log)
            )
        self.client.groups = JobGroups(self.spark.sparkContext)
        return {"start_s": t1 - t0, "load_s": t2 - t1}

    def restart(self) -> None:
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        stop_spark(self.spark)
        # a JVM that died leaves its gateway and session cached on the
        # classes, and getOrCreate would hand the dead session back
        SparkContext._gateway = SparkContext._jvm = SparkContext._active_spark_context = None
        SparkSession._instantiatedSession = SparkSession._activeSession = None
        self.start()

    def alive(self) -> bool:
        try:
            return not self.spark.sparkContext._jsc.sc().isStopped()
        except Exception:  # noqa: BLE001 — a dead gateway cannot answer
            return False

    def _execute(self, op: Op) -> list[dict]:
        from steampipe_sqlite_spark.sources.datasource import ConnectorDataSource

        query = workloads.sql(self.workload, op.params)
        if not self.trace:
            op.t0 = time.monotonic()
            pdf = self.engine.sql(query).toPandas()
            op.t1 = time.monotonic()
            return pdf.to_dict("records")
        from perfbench.tracing import TracedDataSource

        # Engine.sql re-creates the view from whichever class is registered
        # under the format name, so this picks the traced or plain bridge
        self.spark.dataSource.register(TracedDataSource if op.traced else ConnectorDataSource)
        engine = self.traced_engine if op.traced else self.engine
        op.t0 = time.monotonic()
        df = engine.sql(query)
        t_sql = time.monotonic()
        df._jdf.queryExecution().executedPlan()
        t_plan = time.monotonic()
        pdf = df.toPandas()
        op.t1 = time.monotonic()
        op.phases = {"sql": t_sql - op.t0, "plan": t_plan - t_sql, "action": op.t1 - t_plan}
        return pdf.to_dict("records")

    def run_op(self, op: Op) -> Op:
        cpu0 = proc.cpu_split_s(os.getpid())
        self.client.run(op)
        cpu1 = proc.cpu_split_s(os.getpid())
        op.cpu = {k: cpu1[k] - cpu0[k] for k in cpu0}
        if op.error and not self.alive():
            self.client.errors.append({"op": op.index, "traced": op.traced, "error": "session died; recreated"})
            self.restart()
        self.hwm_kb = max(self.hwm_kb, proc.python_worker_hwm_kb(os.getpid()))
        return op


def assign(items: list[dict], ops: list[Op], key: str) -> dict[int, list[dict]]:
    """Group time-stamped records by the op whose [t0, t1] holds them;
    exact with one closed-loop client."""
    bounds = sorted((op.t0, op.t1, op.index) for op in ops)
    starts = [b[0] for b in bounds]
    out: dict[int, list[dict]] = {op.index: [] for op in ops}
    for item in items:
        i = bisect.bisect_right(starts, item[key]) - 1
        if i >= 0 and item[key] <= bounds[i][1]:
            out[bounds[i][2]].append(item)
    return out


def read_jsonl(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def api_wait_s(calls: list[dict], workload: workloads.Workload, backoff_s: float) -> float:
    """An op's API wait on its critical path: the slowest chain's page
    fetches times the page latency, plus one retry backoff per re-fetch of
    page 0 (a whole-scan retry)."""
    per_chain: dict[int, list[int]] = {}
    for c in calls:
        per_chain.setdefault(c["partition"], []).append(c["page"])
    return max(
        (
            len(pages) * workload.page_latency_ms / 1000.0
            + (pages.count(0) - 1) * backoff_s
            for pages in per_chain.values()
        ),
        default=0.0,
    )


def jobs_and_tasks(sc, group: str) -> tuple[int, int]:
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for job in jobs:
        info = tracker.getJobInfo(job)
        for stage in info.stageIds if info else []:
            sinfo = tracker.getStageInfo(stage)
            tasks += sinfo.numTasks if sinfo else 0
    return len(jobs), tasks


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def per_layer(bench: Bench, window: list[Op], setup: dict) -> tuple[dict, dict]:
    """Per-layer metrics of a traced run: medians over its traced ops."""
    from perfbench import tracing

    ok = [op for op in window if not op.error]
    traced = [op for op in ok if op.traced]
    spans = assign(tracing.read_spans(bench.trace_dir), traced, "t0")
    rows = []
    for op in traced:
        ss = spans[op.index]
        planner = [s for s in ss if s["name"] in tracing.PLANNER_SPANS]
        reads = [s for s in ss if s["name"] == "datasource.read"]
        jobs, tasks = jobs_and_tasks(bench.spark.sparkContext, op.group)
        rows.append(
            {
                "sql": op.phases["sql"],
                "plan": op.phases["plan"],
                "action": op.phases["action"],
                "planner_calls": sum(s["name"] in tracing.PLANNER_CALLS for s in planner),
                "planner_procs": len({s["pid"] for s in planner}),
                "planner_self": sum(s["t1"] - s["t0"] for s in planner),
                "jobs": jobs,
                "tasks": tasks,
                "read": max((s["t1"] - s["t0"] for s in reads), default=0.0),
                "first_batch": max((s["first_batch_s"] for s in reads), default=0.0),
                "retries": sum(s["executes"] - 1 for s in reads),
                "http_429": sum(s["http_429"] for s in reads),
                "pages": sum(s["pages"] for s in reads),
                "execute": max((s["execute_s"] for s in reads), default=0.0),
                "rows": sum(s["rows"] for s in reads),
                "arrow_bytes": sum(s["arrow_bytes"] for s in reads),
                "wait": sum(s["throttle_wait_s"] for s in reads),
            }
        )
        r = rows[-1]
        # latency no layer's own span covers: py4j, planner process start
        # and transport, job scheduling, task launch, Arrow hand-off,
        # aggregation and collect
        r["residual"] = op.latency_s - r["sql"] - r["planner_self"] - r["read"]

    def col(key: str) -> float:
        return _median(r[key] for r in rows)

    def plain_cpu(key: str) -> float:
        return _median(op.cpu[key] for op in ok if not op.traced)

    by_pair: dict[int, dict[bool, Op]] = {}
    for op in ok:
        by_pair.setdefault(op.pair, {})[op.traced] = op
    pairs = [(p[True].latency_s, p[False].latency_s) for p in by_pair.values() if len(p) == 2]
    metrics = {
        "session.start_s": setup["start_s"],
        "engine.load_ms": setup["load_s"] * 1000,
        "engine.first_op_ms": setup["first_op_s"] * 1000,
        "engine.sql_ms": col("sql") * 1000,
        "datasource.plan_ms": col("plan") * 1000,
        "datasource.planner_calls_per_op": col("planner_calls"),
        "datasource.planner_procs_per_op": col("planner_procs"),
        "datasource.planner_self_ms": col("planner_self") * 1000,
        "exec.action_ms": col("action") * 1000,
        "exec.jobs_per_op": col("jobs"),
        "exec.tasks_per_op": col("tasks"),
        "datasource.read_ms": col("read") * 1000,
        "datasource.first_batch_ms": col("first_batch") * 1000,
        "datasource.scan_retries_per_op": col("retries"),
        "pagedhttp.http_429_per_op": col("http_429"),
        "pagedhttp.pages_per_op": col("pages"),
        "pagedhttp.execute_ms": col("execute") * 1000,
        "pagedhttp.rows_per_op": col("rows"),
        "pagedhttp.arrow_mb_per_op": col("arrow_bytes") / 2**20,
        "ratelimit.wait_ms_per_op": col("wait") * 1000,
        # CPU by layer, over the plain (untraced) ops of the run
        "engine.driver_cpu_ms_per_op": plain_cpu("driver") * 1000,
        "exec.jvm_cpu_ms_per_op": plain_cpu("jvm") * 1000,
        "exec.jit_cpu_ms_per_op": plain_cpu("jit") * 1000,
        "datasource.worker_cpu_ms_per_op": plain_cpu("workers") * 1000,
        "trace.residual_ms": col("residual") * 1000,
        "trace.overhead_ratio": paired_overhead(pairs) if pairs else 0.0,
    }
    detail = {
        "traced_ops": len(traced),
        "pairs": len(pairs),
        "plain_p50_ms": _median(op.latency_s for op in ok if not op.traced) * 1000,
        "layer_sum_ms": (col("sql") + col("plan") + col("action")) * 1000,
    }
    return metrics, detail


def measure(bench: Bench, seed: int) -> tuple[dict, dict]:
    from steampipe_sqlite_spark.sources.datasource import load_connector

    workload = bench.workload
    params = workloads.op_params(workload, seed)
    counter = itertools.count()

    def new_op(**kw) -> Op:
        return Op(index=next(counter), params=kw.pop("params", None) or next(params), **kw)

    host0 = proc.cpu_counters()
    setup = bench.start()
    first = None
    for _attempt in range(3):  # set-up ends at the first correct result
        first = bench.run_op(new_op())
        if not first.error:
            break
    setup["first_op_s"] = first.latency_s
    setup_s = proc.since_process_start()
    host1 = proc.cpu_counters()

    t_warm = time.monotonic()
    warmup_ops = 0
    while warmup_ops < 2 or time.monotonic() - t_warm < WARMUP_S:
        bench.run_op(new_op(traced=bench.trace and warmup_ops % 2 == 0))
        warmup_ops += 1
    warmup_s = time.monotonic() - t_warm

    window: list[Op] = []
    host2 = proc.cpu_counters()
    t_start = time.monotonic()
    deadline = t_start + bench.seconds
    pair = 0
    while time.monotonic() < deadline:
        if not bench.trace:
            window.append(bench.run_op(new_op()))
            continue
        p = next(params)
        # alternate which side of a pair goes first
        for traced in (True, False) if pair % 2 == 0 else (False, True):
            window.append(bench.run_op(new_op(params=p, traced=traced, pair=pair)))
        pair += 1
    t_end = time.monotonic()
    host3 = proc.cpu_counters()

    ok = [op for op in window if not op.error]
    latencies = [op.latency_s for op in ok]
    calls = assign(read_jsonl(bench.call_log), window, "ts")
    # the first retry waits the policy's minimum backoff
    policy = load_connector(workloads.PAGED, json.dumps(workload.config)).retry_policy()
    backoff_s = policy[1] / 1000.0 if policy else 0.0
    tail = tail_percentile(latencies)
    detail = {
        "workload": workload.name,
        "seed": seed,
        "trace": bench.trace,
        "nproc": int(os.environ["SPARK_GRAFT_CPUS"]),
        "host_steal_setup": proc.steal_share(host0, host1),
        "host_steal_window": proc.steal_share(host2, host3),
        "setup_phases_s": setup,
        "setup_correct": not first.error,
        "warmup_ops": warmup_ops,
        "warmup_s": warmup_s,
        "window_s": t_end - t_start,
        "samples": len(latencies),
        "latencies_ms": [round(x * 1000, 1) for x in latencies],
        "cpu_ms_per_op": {"value": _median(op.cpu_s for op in window) * 1000, "unit": "ms"},
        "cpu_ms": [round(op.cpu_s * 1000) for op in window],
        "jit_ms": [round(op.cpu["jit"] * 1000) for op in window],
        "tail": {"p": tail[0], "ms": tail[1] * 1000} if tail else None,
        "api_calls_formula": workloads.api_calls_formula(workload),
        "api_wait_share_p50": _median(
            api_wait_s(calls[op.index], workload, backoff_s) / op.latency_s for op in ok
        ),
        "errors": bench.client.errors,
    }
    if bench.trace:
        metrics, extra = per_layer(bench, window, setup)
        detail.update(extra)
        units = PER_LAYER_UNITS
    else:
        metrics = {
            "latency_p50_ms": _median(latencies) * 1000,
            "setup_s": setup_s,
            "api_calls_per_op": sum(len(calls[op.index]) for op in window) / max(len(window), 1),
            "worker_peak_rss_mb": bench.hwm_kb / 1024,
        }
        units = END_TO_END_UNITS
    failed = sum(1 for op in window if op.error)
    result = {
        "correct": failed == 0 and not first.error and bool(window),
        "attempted": len(window),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return result, detail


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # find_spec does not import: the engine package reads its environment
    # at import time, so it must not be imported before pin_env
    if importlib.util.find_spec("steampipe_sqlite_spark") is None or importlib.util.find_spec("pyspark") is None:
        print(f"perfbench: the engine (steampipe_sqlite_spark) is not under {ROOT}", file=sys.stderr)
        return 2
    workload = workloads.WORKLOADS[args.workload]
    run_dir = ROOT / "perfbench" / "_runs" / f"{workload.name}-{os.getpid()}"
    pinned = pin_env(run_dir, len(os.sched_getaffinity(0)))
    if args.trace:
        from perfbench.tracing import TRACE_DIR_ENV

        os.environ[TRACE_DIR_ENV] = str(run_dir / "trace")
        pinned[TRACE_DIR_ENV] = os.environ[TRACE_DIR_ENV]
    print(json.dumps({"env": pinned}), flush=True)

    bench = Bench(workload, args.seconds, bool(args.trace), run_dir)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result, detail = measure(bench, args.seed)
    finally:
        if bench.spark is not None:
            stop_spark(bench.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
