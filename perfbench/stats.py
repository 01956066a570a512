"""Pure logic shared by the workloads and their self-tests: percentiles,
the read_committed visibility observer and the exactly-once audit."""

from __future__ import annotations

import json
import math
from dataclasses import dataclass, field


class TooFewSamples(ValueError):
    pass


@dataclass(frozen=True)
class Pct:
    value: float
    n: int


def percentile(values, q: float) -> Pct:
    """Nearest-rank percentile with its sample count. Above the median it
    refuses unless at least ten samples lie beyond the rank, so a p99 needs
    1,000 samples."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise TooFewSamples("no samples")
    rank = max(1, math.ceil(q * n))
    if q > 0.5 and n - rank < 10:
        raise TooFewSamples(f"p{q * 100:g} of {n} samples has {n - rank} beyond it")
    return Pct(xs[rank - 1], n)


def median(values) -> float:
    return percentile(values, 0.5).value


# ---------------------------------------------------------------------------
# visibility observer
# ---------------------------------------------------------------------------


def event_key(topic: str, value: bytes) -> tuple[tuple, dict]:
    """(topic, id, operation) identity and the payload of one
    change-event record."""
    d = json.loads(value)
    op = d.pop("operation")
    return (topic, d["id"], op), d


FETCH_BYTES = 8 << 20


class Observer:
    """A read_committed consumer that notes when each change event first
    becomes readable. It reads the last stable offset (LSO) with
    ``latest_offsets(..., isolation_level=1)`` and never moves its
    position to or past it: below the LSO every transaction is decided,
    so stepping over control markers and aborted batches there is safe,
    while at the LSO an open transaction may still commit. Rows are
    counted from decoded records, never from offset arithmetic, because
    EOS control markers occupy offsets."""

    def __init__(self, consumer, topics: list[str], clock) -> None:
        self.consumer = consumer
        self.topics = topics
        self.clock = clock
        self.ready: list[str] = []  # topics the sink has created so far
        self.pos: dict[tuple[str, int], int] = {}
        #: event identity → [first-seen time, payloads seen]
        self.seen: dict[tuple, list] = {}
        self.rows = 0

    def poll(self) -> int:
        """One sweep over every partition; returns the rows newly seen."""
        new = 0
        if len(self.ready) < len(self.topics):
            # the sink creates each topic with its first batch; asking for
            # the offsets of a missing one blocks while metadata retries
            names = set(self.consumer.all_topic_names())
            self.ready = [t for t in self.topics if t in names]
        for topic in self.ready:
            lso = self.consumer.latest_offsets(topic, isolation_level=1)
            now = self.clock()
            for part, end in lso.items():
                pos = self.pos.get((topic, part), 0)
                while pos < end:
                    recs, _ = self.consumer.fetch(
                        topic, part, offset=pos, max_bytes=FETCH_BYTES,
                        max_wait_ms=0, isolation_level=1,
                    )
                    recs = [r for r in recs if r.offset < end]
                    for r in recs:
                        key, payload = event_key(topic, bytes(r.value))
                        slot = self.seen.get(key)
                        if slot is None:
                            self.seen[key] = [now, [payload]]
                        else:
                            slot[1].append(payload)
                    new += len(recs)
                    nxt = getattr(self.consumer, "_fetch_next_offset", None)
                    step = max([r.offset + 1 for r in recs]
                               + [min(nxt, end) if nxt is not None else pos])
                    if step <= pos:
                        break  # nothing decided beyond pos yet
                    pos = step
                self.pos[(topic, part)] = pos
        self.rows += new
        return new

    def visible_at(self, key: tuple) -> float | None:
        slot = self.seen.get(key)
        return None if slot is None else slot[0]


# ---------------------------------------------------------------------------
# audit
# ---------------------------------------------------------------------------


@dataclass
class Audit:
    expected: int = 0
    lost: list = field(default_factory=list)
    duplicated: list = field(default_factory=list)
    wrong_payload: list = field(default_factory=list)
    unexpected: list = field(default_factory=list)

    @property
    def failed(self) -> int:
        return (len(self.lost) + len(self.duplicated)
                + len(self.wrong_payload) + len(self.unexpected))

    def summary(self) -> dict:
        return {"expected": self.expected, "lost": len(self.lost),
                "duplicated": len(self.duplicated),
                "wrong_payload": len(self.wrong_payload),
                "unexpected": len(self.unexpected),
                "examples": [str(x) for x in (self.lost + self.duplicated
                             + self.wrong_payload + self.unexpected)[:5]]}


def audit(expected: dict[tuple, dict], seen: dict[tuple, list]) -> Audit:
    """Every expected event exactly once with exactly its payload, and
    nothing else."""
    a = Audit(expected=len(expected))
    for key, payload in expected.items():
        slot = seen.get(key)
        if slot is None:
            a.lost.append(key)
            continue
        if len(slot[1]) > 1:
            a.duplicated.append(key)
        if any(p != payload for p in slot[1]):
            a.wrong_payload.append(key)
    a.unexpected = [k for k in seen if k not in expected]
    return a
