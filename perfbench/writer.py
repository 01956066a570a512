"""Transaction writer, run as its own process so its work never shares
the Spark driver's interpreter:

    python3 -m perfbench.writer DSN PLAN T0 OUT

PLAN is a JSON list of SQL strings, one per transaction. Transaction ``i``
is due at ``T0 + i / TXNS_PER_S`` on the system-wide monotonic clock; a
late transaction is still sent, the schedule never waits for the system.
Writes ``[due, sent, committed]`` per transaction to OUT as JSON.
"""

from __future__ import annotations

import json
import sys
import time

#: tools/stream_bench.py's default pace: 100,000 rows/s offered as eight
#: 12,500-row generate_series waves a second
TXNS_PER_S = 8


def main(argv: list[str]) -> None:
    from go_pq_cdc_kafka_spark.sources import wire

    dsn, plan_path, t0, out = argv[0], argv[1], float(argv[2]), argv[3]
    with open(plan_path) as f:
        sqls = json.load(f)
    conn = wire.ReplicationConnection(**wire.parse_dsn(dsn)).connect()
    stamps = []
    try:
        for i, sql in enumerate(sqls):
            due = t0 + i / TXNS_PER_S
            wait = due - time.monotonic()
            if wait > 0:
                time.sleep(wait)
            sent = time.monotonic()
            conn.simple_query(sql)
            stamps.append((due, sent, time.monotonic()))
    finally:
        conn.close()
    with open(out, "w") as f:
        json.dump(stamps, f)


if __name__ == "__main__":
    main(sys.argv[1:])
