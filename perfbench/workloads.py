"""The two bridge workloads: connector configs, seeded queries and their
closed-form expected results.

Both workloads read the synthetic ``PagedHttpConnector`` (no data files).
Its row function is deterministic in (partition, page, index):

    seq   = (partition * n_pages + page) * page_size + i
    value = round((partition + 1) * 100 + page + i / 1000.0, 3)

so every aggregate below has an expected value computed here in Python,
the same arithmetic ``plans/bridge.py``'s DuckDB twins reproduce with
``generate_series``.  ``--seed`` drives only the query parameters.
"""

from __future__ import annotations

import itertools
import json
import math
import random
from collections.abc import Iterator
from dataclasses import dataclass

PAGED = "steampipe_sqlite_spark.sources.pagedhttp:PagedHttpConnector"
VIEW = "paged_items"  # Engine alias "paged" + the connector's one table


@dataclass(frozen=True)
class Workload:
    name: str
    config: dict  # connector config, minus the per-run call_log path
    group_cols: tuple[str, ...]

    @property
    def page_latency_ms(self) -> float:
        return float(self.config["page_latency_ms"])

    def config_json(self, call_log: str) -> str:
        return json.dumps({**self.config, "call_log": call_log})


LIVE_DASHBOARD = Workload(
    name="live_dashboard",
    config={
        "n_partitions": 8,
        "n_pages": 6,
        "page_size": 200,
        "page_latency_ms": 250,
        "cache": False,
    },
    group_cols=("partition_id", "page"),
)

# One 429 on (chain 1, page 10) and one on (chain 3, page 5): the reader's
# whole-scan retry re-fetches pages 0..k of that chain, so one op makes
# 4 * 20 + 11 + 6 = 97 page fetches.  cache_max_size_mb 2 is below one
# chain's Arrow size (about 2.6 MB), so the cache buffers every partition
# and never serves one: a put over the budget is dropped.
BULK_EXTRACT = Workload(
    name="bulk_extract",
    config={
        "n_partitions": 4,
        "n_pages": 20,
        "page_size": 2500,
        "page_latency_ms": 75,
        "retry_attempts": 2,
        "fail_page_fetches": [[1, 10], [3, 5]],
        "rate_limit_rps": 1000,
        "rate_limit_scope": "global",
        "cache": True,
        "cache_max_size_mb": 2,
    },
    group_cols=("partition_id",),
)

WORKLOADS = {w.name: w for w in (LIVE_DASHBOARD, BULK_EXTRACT)}

_AGGS = (
    "COUNT(*) AS n, SUM(seq) AS sum_seq, MIN(seq) AS min_seq, "
    "MAX(seq) AS max_seq, SUM(value) AS sum_value"
)


# live_dashboard refreshes this many panels round-robin.  Repeating query
# texts is what a dashboard does, and it keeps per-query cost steady: Spark
# compiles generated code per distinct query text (the IN-list literals are
# inlined), so a stream of ever-new texts would add a compile to a varying
# share of the queries.
PANELS = 3


def op_params(workload: Workload, seed: int) -> Iterator[tuple[int, ...]]:
    """The ops' query parameters, without end; the same seed gives the
    same sequence.  live_dashboard: the two chains of the IN list, cycling
    over PANELS seeded pairs; bulk_extract: the page threshold of
    COUNT_IF, one seeded value per run."""
    rng = random.Random(f"{workload.name}:{seed}")
    cfg = workload.config
    if workload is LIVE_DASHBOARD:
        pairs = [tuple(sorted(p)) for p in itertools.combinations(range(cfg["n_partitions"]), 2)]
        return itertools.cycle(rng.sample(pairs, PANELS))
    return itertools.repeat((rng.randrange(cfg["n_pages"]),))


def sql(workload: Workload, params: tuple[int, ...]) -> str:
    if workload is LIVE_DASHBOARD:
        a, b = params
        return (
            f"SELECT partition_id, page, {_AGGS} FROM {VIEW} "
            f"WHERE partition_id IN ({a}, {b}) GROUP BY partition_id, page"
        )
    (k,) = params
    return (
        f"SELECT partition_id, {_AGGS}, COUNT_IF(page >= {k}) AS n_tail "
        f"FROM {VIEW} GROUP BY partition_id"
    )


def _page_value_sum(partition: int, page: int, page_size: int) -> float:
    v0 = (partition + 1) * 100 + page
    return math.fsum(round(v0 + i / 1000.0, 3) for i in range(page_size))


def _page_row(partition: int, page: int, cfg: dict) -> dict:
    ps, pages = cfg["page_size"], cfg["n_pages"]
    base = (partition * pages + page) * ps
    return {
        "n": ps,
        "sum_seq": ps * base + ps * (ps - 1) // 2,
        "min_seq": base,
        "max_seq": base + ps - 1,
        "sum_value": _page_value_sum(partition, page, ps),
    }


class Expected:
    """Closed-form results, memoized per (partition, page)."""

    def __init__(self, workload: Workload):
        self.workload = workload
        self._pages: dict[tuple[int, int], dict] = {}

    def _page(self, p: int, pg: int) -> dict:
        key = (p, pg)
        if key not in self._pages:
            self._pages[key] = _page_row(p, pg, self.workload.config)
        return self._pages[key]

    def rows(self, params: tuple[int, ...]) -> dict[tuple, dict]:
        cfg = self.workload.config
        if self.workload is LIVE_DASHBOARD:
            return {
                (p, pg): self._page(p, pg)
                for p in params
                for pg in range(cfg["n_pages"])
            }
        (k,) = params
        out = {}
        for p in range(cfg["n_partitions"]):
            pages = [self._page(p, pg) for pg in range(cfg["n_pages"])]
            out[(p,)] = {
                "n": sum(r["n"] for r in pages),
                "sum_seq": sum(r["sum_seq"] for r in pages),
                "min_seq": pages[0]["min_seq"],
                "max_seq": pages[-1]["max_seq"],
                "sum_value": math.fsum(r["sum_value"] for r in pages),
                "n_tail": (cfg["n_pages"] - k) * cfg["page_size"],
            }
        return out


def check(expected: dict[tuple, dict], records: list[dict], group_cols) -> str | None:
    """None when ``records`` (one dict per result row) equal ``expected``;
    otherwise a one-line reason.  Integer aggregates compare exactly;
    ``sum_value`` to a relative 1e-9, since Spark's partial sums add the
    doubles in another order."""
    got = {}
    for r in records:
        key = tuple(int(r[c]) for c in group_cols)
        if key in got:
            return f"duplicate group {key}"
        got[key] = r
    if set(got) != set(expected):
        return f"groups {sorted(got)} != expected {sorted(expected)}"
    for key, want in expected.items():
        row = got[key]
        for col, v in want.items():
            if col == "sum_value":
                ok = math.isclose(float(row[col]), v, rel_tol=1e-9)
            else:
                ok = int(row[col]) == v
            if not ok:
                return f"group {key} {col}: {row[col]!r} != {v!r}"
    return None


def api_calls_formula(workload: Workload) -> int:
    """Upstream page fetches one op makes under the reader's whole-scan
    retry: every page of every scanned chain, plus pages 0..k again for
    each injected 429 on (chain, k)."""
    cfg = workload.config
    chains = 2 if workload is LIVE_DASHBOARD else cfg["n_partitions"]
    replays = sum(k + 1 for _chain, k in cfg.get("fail_page_fetches", []))
    return chains * cfg["n_pages"] + replays
