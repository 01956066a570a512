"""Seeded inputs: the batch fixture tables and the CDC change streams.

The batch tables are a fixed TPC-H-shaped dataset at scale 0.1 (600k
lineitem rows), made once per checkout from a constant seed with the
column names and types the engine's fixture catalog expects, one row group
per file like the fixtures the engine is tuned on. The run's ``--seed``
only orders the queries; the data never changes, so passes compare.

The CDC side is a pure function of the seed: each backlog wave's name
width and every name. The auditor recomputes every expected payload from
``(seed, wave, id)`` instead of trusting what the writer reports.
"""

from __future__ import annotations

import hashlib
import os

DATA_SEED = 20240101
SF01_ROWS = {"customer": 15_000, "orders": 150_000, "lineitem": 600_000,
             "events": 100_000, "documents": 5_000}
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def sf01_dir(state: str) -> str:
    """Write the scale-0.1 tables under ``state`` once; return their dir."""
    out = os.path.join(state, "sf0.1")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        for name, table in _sf01_tables().items():
            _write(table, os.path.join(out, f"{name}.parquet"))
        open(done, "w").close()
    return out


def _write(table, path: str) -> None:
    import pyarrow.parquet as pq

    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=max(1, table.num_rows))
    os.replace(tmp, path)


def _sf01_tables() -> dict:
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(DATA_SEED)
    n_c, n_o, n_l = (SF01_ROWS[k] for k in ("customer", "orders", "lineitem"))
    n_e, n_d = SF01_ROWS["events"], SF01_ROWS["documents"]

    def cents(lo: float, hi: float, n: int):
        return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)

    def days(start: str, end: str, n: int):
        lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
        d = lo + rng.integers(0, int((hi - lo).astype(int)) + 1, n)
        return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))

    def pick(values: list[str], n: int):
        return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)])

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": cents(-999.99, 9999.99, n_c),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                              "HOUSEHOLD", "MACHINERY"], n_c),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], n_o),
        "o_totalprice": cents(1000, 500000, n_o),
        "o_orderdate": days("1995-01-01", "2001-08-01", n_o),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], n_o),
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n_l), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": cents(900, 105000, n_l),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_l),
        "l_linestatus": pick(["F", "O"], n_l),
        "l_shipdate": days("1995-01-02", "2001-11-04", n_l),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_e))
    events = pa.table({
        "event_id": pa.array(np.arange(n_e), pa.int64()),
        "ts": pa.array(t0 + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1_500, n_e), pa.int64()),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_e),
        "value": cents(0, 560, n_e),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
    })
    # documents: random word runs, one in ten a light edit of an earlier
    # one, so the near-duplicate search has pairs to find
    texts: list[str] = []
    for i in range(n_d):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        else:
            words = [_VOCAB[j] for j in rng.integers(0, len(_VOCAB), int(rng.integers(10, 90)))]
        texts.append(" ".join(words))
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_d), pa.int64()),
        "text": texts,
        "lang": pick(["en", "en", "en", "de", "es", "fr", "zh"], n_d),
        "source": [f"src{i % 20}" for i in range(n_d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "orders": orders, "lineitem": lineitem, "events": events,
            "documents": documents}


# ---------------------------------------------------------------------------
# CDC payloads
# ---------------------------------------------------------------------------

#: the reference's own benchmark table shape (FIXTURES.md §1, users);
#: created_on is written explicitly so the payload is reproducible
USERS_DDL = "(id bigint PRIMARY KEY, name text NOT NULL, created_on timestamptz)"


def _digest(*parts) -> str:
    return hashlib.sha256(":".join(str(p) for p in parts).encode()).hexdigest()


def user_width(seed: int, txn: int) -> int:
    """Seeded name width of one wave's rows."""
    return 8 + int(_digest(seed, "w", txn)[:4], 16) % 57


def user_row(seed: int, txn: int, i: int) -> dict[str, str]:
    """Expected text image of ``users`` row ``i`` written by ``txn`` —
    the same expression ``users_insert_sql`` evaluates server-side."""
    w = user_width(seed, txn)
    name = (hashlib.md5(f"{seed}:{i}".encode()).hexdigest() * 4)[:w]
    sec = i % 86400
    return {"id": str(i), "name": name,
            "created_on": f"2024-01-01 {sec // 3600:02d}:{sec // 60 % 60:02d}:{sec % 60:02d}+00"}


def users_insert_sql(table: str, seed: int, txn: int, lo: int, hi: int) -> str:
    w = user_width(seed, txn)
    return (
        f"INSERT INTO {table} (id, name, created_on) SELECT g, "
        f"substr(repeat(md5('{seed}:' || g), 4), 1, {w}), "
        f"timestamptz '2024-01-01 00:00:00+00' + (g % 86400) * interval '1 second' "
        f"FROM generate_series({lo}, {hi}) g"
    )
