"""Self-tests of the benchmark's own logic (no Spark, PostgreSQL or broker):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import pytest

from perfbench import gen
from perfbench.stats import Observer, TooFewSamples, audit, percentile


def test_percentile_reports_count_and_refuses_thin_tails():
    xs = list(range(1, 1001))
    p = percentile(xs, 0.99)
    assert (p.value, p.n) == (990, 1000)
    with pytest.raises(TooFewSamples):
        percentile(xs[:-1], 0.99)  # 999 samples: only 9 beyond the rank
    assert percentile([3.0], 0.5) == percentile([3.0], 0.5)
    assert percentile([5, 1, 3], 0.5).value == 3
    with pytest.raises(TooFewSamples):
        percentile([], 0.5)


# -- a synthetic partition log: data records, control markers, open and
# aborted transactions -------------------------------------------------------


@dataclass
class Rec:
    offset: int
    value: bytes


class FakeLog:
    """One topic, one partition. Entries are ``(kind, txn)`` where kind is
    ``data`` or ``marker``; a transaction is committed, aborted or open."""

    def __init__(self) -> None:
        self.entries: list[tuple[str, str, bytes | None]] = []
        self.state: dict[str, str] = {}
        self.fetch_offsets: list[int] = []
        self._fetch_next_offset = None

    def data(self, txn: str, key: int, op: str = "INSERT") -> None:
        self.state.setdefault(txn, "open")
        value = json.dumps({"id": str(key), "operation": op}).encode()
        self.entries.append(("data", txn, value))

    def end(self, txn: str, outcome: str) -> None:
        self.state[txn] = outcome
        self.entries.append(("marker", txn, None))

    def lso(self) -> int:
        for off, (kind, txn, _) in enumerate(self.entries):
            if kind == "data" and self.state[txn] == "open":
                return off
        return len(self.entries)

    # the KafkaWireConsumer calls the observer uses
    def all_topic_names(self):
        return ["t"] if self.entries else []

    def latest_offsets(self, topic, isolation_level=0):
        assert isolation_level == 1
        return {0: self.lso()}

    def fetch(self, topic, part, offset, max_bytes, max_wait_ms, isolation_level):
        assert isolation_level == 1
        self.fetch_offsets.append(offset)
        end = self.lso()
        recs = [Rec(off, v) for off, (kind, txn, v) in enumerate(self.entries)
                if offset <= off < end and kind == "data" and self.state[txn] == "committed"]
        self._fetch_next_offset = end if end > offset else None
        return recs, len(self.entries)


def test_observer_stops_at_lso_and_skips_markers():
    log, now = FakeLog(), [0.0]
    obs = Observer(log, ["t"], lambda: now[0])
    assert obs.poll() == 0             # the topic does not exist yet
    log.data("A", 1)
    log.data("A", 2)
    log.end("A", "committed")          # marker at offset 2
    log.data("B", 3)                   # B stays open: LSO = 3
    log.data("C", 4)
    log.end("C", "committed")
    log.data("D", 5)
    log.end("D", "aborted")
    now[0] = 1.0
    assert obs.poll() == 2             # A only; C sits behind open B
    assert obs.pos[("t", 0)] == 3      # stepped over A's marker, not past B
    assert all(o < 3 for o in log.fetch_offsets)
    now[0] = 2.0
    assert obs.poll() == 0             # nothing decided beyond the LSO yet
    log.end("B", "committed")
    now[0] = 3.0
    assert obs.poll() == 2             # B and C; D aborted, markers not rows
    assert obs.rows == 4
    assert obs.pos[("t", 0)] == len(log.entries)
    assert obs.visible_at(("t", "1", "INSERT")) == 1.0
    assert obs.visible_at(("t", "3", "INSERT")) == 3.0
    assert obs.visible_at(("t", "5", "INSERT")) is None


def _expected(n: int) -> dict:
    return {("t", str(i), "INSERT"): {"id": str(i)} for i in range(n)}


def _seen(expected: dict) -> dict:
    return {k: [0.0, [dict(v)]] for k, v in expected.items()}


def test_audit_catches_loss_duplicate_and_wrong_payload():
    exp = _expected(5)
    assert audit(exp, _seen(exp)).failed == 0
    lost = _seen(exp)
    del lost[("t", "2", "INSERT")]
    assert audit(exp, lost).lost == [("t", "2", "INSERT")]
    dup = _seen(exp)
    dup[("t", "3", "INSERT")][1].append({"id": "3"})
    assert audit(exp, dup).duplicated == [("t", "3", "INSERT")]
    bad = _seen(exp)
    bad[("t", "4", "INSERT")][1] = [{"id": "x"}]
    assert audit(exp, bad).wrong_payload == [("t", "4", "INSERT")]
    extra = _seen(exp)
    extra[("t", "9", "DELETE")] = [0.0, [{"id": "9"}]]
    assert audit(exp, extra).failed == 1


def test_oracle_check_catches_a_changed_result(tmp_path):
    duckdb = pytest.importorskip("duckdb")
    from perfbench import infra
    from perfbench.batch import _oracle_answer

    infra.require_tools_path()
    from oracle_check import compare

    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT range AS k, CAST(range AS DOUBLE) * 0.5 AS v FROM range(100)")
    oracle = "SELECT k, v FROM t WHERE k % 3 = 0"
    good = con.execute(oracle).fetchdf()
    want = _oracle_answer(con, str(tmp_path), oracle)
    assert (tmp_path / "_oracle").is_dir()                         # cached
    assert compare("q", good, _oracle_answer(con, str(tmp_path), oracle)) == []
    assert compare("q", good.iloc[1:], want)                       # a lost row
    assert compare("q", pd_concat(good, good.iloc[:1]), want)      # a duplicate
    changed = good.assign(v=good["v"] + 1e-9)
    assert compare("q", changed, want)                             # a value
    assert compare("q", good.rename(columns={"v": "w"}), want)


def pd_concat(*frames):
    import pandas as pd

    return pd.concat(frames, ignore_index=True)


def test_seeded_inputs_repeat_and_differ():
    a = [gen.user_row(7, 3, i) for i in range(100)]
    assert a == [gen.user_row(7, 3, i) for i in range(100)]
    assert a != [gen.user_row(8, 3, i) for i in range(100)]
    widths = {gen.user_width(7, t) for t in range(50)}
    assert len(widths) > 10 and all(8 <= w < 65 for w in widths)
    assert {len(r["name"]) for r in a} == {gen.user_width(7, 3)}
    sql = gen.users_insert_sql("u", 7, 3, 1, 100)
    assert "generate_series(1, 100)" in sql and f", {gen.user_width(7, 3)})" in sql
