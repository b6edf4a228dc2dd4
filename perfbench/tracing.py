"""Spans from inside the bridge, recorded by subclasses of its public
classes, so no engine file changes.

``TracedDataSource`` (registered under the engine's format name for a
traced op) and ``TracedPagedHttpConnector`` (the connector class of the
traced Engine alias) wrap the Python DataSource calls the planner makes
(``__init__``, ``schema``, ``reader``, ``pushFilters``, ``partitions``)
and the reader's ``read`` in executor workers, plus the connector's
``partitions``, ``execute`` and ``throttle``.  Planner processes can exit
right after a call, so every span is written at once, as one O_APPEND
line to ``spans-<pid>.jsonl`` under $PERFBENCH_TRACE_DIR (set before the
JVM starts, so every Python worker inherits it).  Times are
``time.monotonic()``, one clock for every process on the host, so the
runner assigns spans to ops by time window.
"""

from __future__ import annotations

import json
import os
import time

from steampipe_sqlite_spark.sources.datasource import ConnectorDataSource, ConnectorReader
from steampipe_sqlite_spark.sources.pagedhttp import PagedHttpConnector, RateLimited429

TRACE_DIR_ENV = "PERFBENCH_TRACE_DIR"

# spans the Spark planner causes, as opposed to executor reads
PLANNER_SPANS = (
    "datasource.init",
    "datasource.schema",
    "datasource.reader",
    "datasource.pushFilters",
    "datasource.partitions",
)
PLANNER_CALLS = PLANNER_SPANS[1:]


def emit(name: str, t0: float, t1: float, **fields) -> None:
    trace_dir = os.environ.get(TRACE_DIR_ENV)
    if not trace_dir:
        return
    pid = os.getpid()
    line = json.dumps({"name": name, "t0": t0, "t1": t1, "pid": pid, **fields}) + "\n"
    fd = os.open(
        os.path.join(trace_dir, f"spans-{pid}.jsonl"),
        os.O_WRONLY | os.O_CREAT | os.O_APPEND,
        0o644,
    )
    try:
        os.write(fd, line.encode())
    finally:
        os.close(fd)


def read_spans(trace_dir: str) -> list[dict]:
    spans = []
    for name in sorted(os.listdir(trace_dir)):
        if name.startswith("spans-"):
            with open(os.path.join(trace_dir, name)) as f:
                spans.extend(json.loads(line) for line in f if line.strip())
    return spans


def _new_counters() -> dict:
    return {
        "executes": 0,  # execute() calls: 1 + whole-scan retries
        "pages": 0,  # throttle() debits made inside execute(): page fetches
        "http_429": 0,
        "rows": 0,
        "arrow_bytes": 0,
        "execute_s": 0.0,  # time inside execute()'s next(), consumer excluded
        "throttle_wait_s": 0.0,  # sum of every throttle() return
    }


class TracedPagedHttpConnector(PagedHttpConnector):
    """Counts what one partition read asks of the connector; the reader
    resets the counters and emits them with its ``read`` span."""

    _tr: dict | None = None
    _in_execute = False

    def partitions(self, table, quals):
        t0 = time.monotonic()
        try:
            return super().partitions(table, quals)
        finally:
            emit("pagedhttp.partitions", t0, time.monotonic())

    def throttle(self, n: float = 1.0) -> float:
        waited = super().throttle(n)
        if self._tr is not None:
            self._tr["throttle_wait_s"] += waited
            if self._in_execute:
                self._tr["pages"] += 1
        return waited

    def execute(self, table, quals, columns, limit, partition=None):
        inner = super().execute(table, quals, columns, limit, partition)
        tr = self._tr if self._tr is not None else _new_counters()
        tr["executes"] += 1
        while True:
            t0 = time.monotonic()
            self._in_execute = True
            try:
                batch = next(inner)
            except StopIteration:
                return
            except RateLimited429:
                tr["http_429"] += 1
                raise
            finally:
                self._in_execute = False
                tr["execute_s"] += time.monotonic() - t0
            tr["rows"] += batch.num_rows
            tr["arrow_bytes"] += batch.nbytes
            yield batch


class TracedReader(ConnectorReader):
    def pushFilters(self, filters):
        t0 = time.monotonic()
        residual = list(super().pushFilters(filters))
        emit("datasource.pushFilters", t0, time.monotonic(), n_filters=len(filters))
        yield from residual

    def partitions(self):
        t0 = time.monotonic()
        parts = super().partitions()
        emit("datasource.partitions", t0, time.monotonic(), n_partitions=len(parts))
        return parts

    def read(self, partition):
        t0 = time.monotonic()
        first = None
        conn = self.connector
        conn._tr = counters = _new_counters()
        try:
            for batch in super().read(partition):
                if first is None:
                    first = time.monotonic()
                yield batch
        finally:
            t1 = time.monotonic()
            conn._tr = None
            emit(
                "datasource.read",
                t0,
                t1,
                partition=partition.index,
                first_batch_s=(first or t1) - t0,
                **counters,
            )


class TracedDataSource(ConnectorDataSource):
    def __init__(self, options):
        t0 = time.monotonic()
        super().__init__(options)
        emit("datasource.init", t0, time.monotonic())

    def schema(self):
        t0 = time.monotonic()
        try:
            return super().schema()
        finally:
            emit("datasource.schema", t0, time.monotonic())

    def reader(self, schema):
        t0 = time.monotonic()
        reader = TracedReader(self.connector, self.table, dict(self.options))
        emit("datasource.reader", t0, time.monotonic())
        return reader
