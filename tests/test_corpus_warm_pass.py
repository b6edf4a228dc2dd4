"""Pins for tools/corpus_warm_pass.py, run with fakes in place of Spark: a
query that raises must not turn the next query into an error (its session
is ended and the next query gets a fresh one), and its whole message must
appear in the JSON line's ``errors`` field."""

import json
import os
import sys
from types import SimpleNamespace

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class _FakeSession:
    def __init__(self):
        self.stopped = False
        self.sparkContext = SimpleNamespace(setJobDescription=lambda desc: None)
        self.catalog = SimpleNamespace(clearCache=lambda: None)

    def stop(self):
        self.stopped = True


class _Frame:
    def __init__(self, session):
        self.session = session

    def toPandas(self):
        # a query run on a stopped session fails, as a real one would
        if self.session.stopped:
            raise RuntimeError("session already stopped")
        return []


def test_failing_query_gets_fresh_session_and_full_error(monkeypatch, capsys):
    from tools import corpus_warm_pass as W

    message = "boom " * 400  # longer than any sensible truncation

    def bad(spark, sf_dir):
        # poison the session the way a fatal query can
        spark.stopped = True
        raise ValueError(message)

    def good(spark, sf_dir):
        return _Frame(spark)

    sessions = []

    def fake_get_spark(*args, **kwargs):
        sessions.append(_FakeSession())
        return sessions[-1]

    monkeypatch.setattr(W, "collect", lambda: ({"bad": bad, "good": good}, {}))
    monkeypatch.setattr(W, "get_spark", fake_get_spark)
    monkeypatch.setattr(sys, "argv", ["corpus_warm_pass.py", "sf", "", "bad", "good"])
    W.main()
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    assert line["walls"]["bad"] == -1.0
    assert line["walls"]["good"] >= 0.0
    assert line["errors"] == {"bad": f"ValueError: {message}"}
    assert len(sessions) == 2 and all(s.stopped for s in sessions)
