"""``batch_sf01``: the nine headline queries and the snapshot pipeline at
scale 0.1, closed loop, one query at a time.

Set-up is the first ``get_spark`` call through one full pass that collects
every query's result; those results are then checked against each query's
DuckDB oracle outside the timed region. Measured
passes run the queries in a seeded order into the noop sink, like
``bench.py``, until the run's seconds are spent; then the snapshot
pipeline (lineitem snapshot → CdcPipeline records → a digest of them) runs
four times, and each digest is checked.
"""

from __future__ import annotations

import hashlib
import os
import random
import time

from perfbench import gen, infra
from perfbench.stats import median
from perfbench.trace import SqlStore

#: the first pass of the snapshot pipeline runs cold; the median of four
#: leaves it out
SNAPSHOT_REPEATS = 4
QUERY_FIELDS = ("build_s", "exec_s", "sql_executions", "shuffle_bytes",
                "spill_bytes", "scan_s", "task_s")


def _snapshot_records(spark, sf: str):
    from go_pq_cdc_kafka_spark.plans.routing import RoutingTable
    from go_pq_cdc_kafka_spark.sources.snapshot import snapshot_from_parquet
    from go_pq_cdc_kafka_spark.streaming.pipeline import CdcPipeline

    src = snapshot_from_parquet(spark, os.path.join(sf, "lineitem.parquet"), "lineitem")
    pipe = CdcPipeline(source=src,
                       routing=RoutingTable({"public.lineitem": "lineitem.cdc"}),
                       pk_field="l_orderkey")
    return pipe.run_batch()


def _oracle_answer(con, sf: str, oracle_sql: str):
    """The oracle's answer as a DataFrame. The tables are fixed, so each
    answer is computed once per checkout and kept as parquet under the data
    directory, keyed by the SQL text (the MinHash oracle alone takes over
    20 s on DuckDB)."""
    digest = hashlib.sha256(oracle_sql.encode()).hexdigest()[:16]
    path = os.path.join(sf, "_oracle", f"{digest}.parquet")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        con.execute(f"COPY ({oracle_sql}) TO '{path}.tmp' (FORMAT parquet)")
        os.replace(f"{path}.tmp", path)
    return con.execute(f"SELECT * FROM read_parquet('{path}')").fetchdf()


def _snapshot_digest(spark, sf: str):
    """One snapshot pipeline pass summed to (records, Σ key, Σ key²,
    snapshot-marked records); the lineitem side is summed by DuckDB."""
    import pyspark.sql.functions as F

    k = F.col("key").cast("string").cast("long")
    return _snapshot_records(spark, sf).agg(
        F.count(F.lit(1)), F.sum(k), F.sum(k * k),
        F.sum(F.instr(F.col("value").cast("string"), '"operation":"SNAPSHOT"').cast("boolean").cast("int")),
    )


def _digest_row(row) -> tuple:
    return tuple(int(x or 0) for x in row)


def _check(sf: str, results: dict, digests: list[tuple]) -> dict[str, list[str]]:
    """Oracle comparison of every collected query result, and each snapshot
    pipeline digest against lineitem (one snapshot record per row, keyed by
    its order key)."""
    from go_pq_cdc_kafka_spark.queries import REGISTRY

    infra.require_tools_path()
    from oracle_check import compare, duck_con

    con = duck_con(sf)
    try:
        problems = {name: compare(name, tbl.to_pandas(),
                                  _oracle_answer(con, sf, REGISTRY[name].oracle))
                    for name, tbl in results.items()}
        n, s1, s2 = con.execute(
            "SELECT count(*), sum(l_orderkey), sum(l_orderkey * l_orderkey) "
            "FROM lineitem").fetchone()
    finally:
        con.close()
    want = (int(n), int(s1), int(s2), int(n))
    problems["cdc_pipeline_snapshot"] = [
        f"snapshot digest {d} != lineitem {want}" for d in digests if d != want]
    return problems


def run(ctx) -> dict:
    from go_pq_cdc_kafka_spark.queries import REGISTRY
    from go_pq_cdc_kafka_spark.session import get_spark

    from bench import HEADLINE as queries

    missing = [q for q in queries if q not in REGISTRY or not REGISTRY[q].oracle]
    if missing:
        raise RuntimeError(f"headline queries without registry oracle: {missing}")
    sf = gen.sf01_dir(infra.state_dir("data"))
    rng = random.Random(f"batch_sf01:{ctx.seed}")

    t0 = time.monotonic()
    spark = get_spark(app_name="perfbench-batch", extra_conf=ctx.spark_conf)
    ctx.cleanup.push("spark", lambda: infra.stop_spark(spark))
    ctx.spans.add("setup", "session.get_spark", t0, time.monotonic())
    store = SqlStore(spark) if ctx.trace else None

    # set-up: one full pass that collects what it computes, for the oracle
    results = {}
    for q in rng.sample(queries, len(queries)):
        s0 = time.monotonic()
        results[q] = REGISTRY[q].fn(spark, sf).toArrow()
        ctx.spans.add("setup", f"warm.{q}", s0, time.monotonic())
    setup_s = time.monotonic() - t0
    ctx.spans.add("setup", "setup", t0, t0 + setup_s)

    # measured passes
    per_query: dict[str, list[dict]] = {q: [] for q in queries}
    passes: list[float] = []
    deadline = time.monotonic() + ctx.seconds
    while not passes or time.monotonic() < deadline:
        pid = f"pass{len(passes)}"
        p0 = time.monotonic()
        for q in rng.sample(queries, len(queries)):
            spark.catalog.clearCache()  # persist()-ing operators run cold
            mark = store.mark() if store else 0
            b0 = time.monotonic()
            df = REGISTRY[q].fn(spark, sf)
            b1 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            b2 = time.monotonic()
            ctx.spans.add(f"{pid}.{q}", "query.build", b0, b1, pid)
            ctx.spans.add(f"{pid}.{q}", "query.exec", b1, b2, pid)
            row = {"build_s": b1 - b0, "exec_s": b2 - b1}
            if store:
                row.update(store.since(mark))
            per_query[q].append(row)
        passes.append(time.monotonic() - p0)
        ctx.spans.add(pid, "pass", p0, p0 + passes[-1])

    snaps, snap_build, snap_exec, digests = [], [], [], []
    for i in range(SNAPSHOT_REPEATS):
        s0 = time.monotonic()
        df = _snapshot_digest(spark, sf)
        s1 = time.monotonic()
        digests.append(_digest_row(df.first()))
        s2 = time.monotonic()
        snaps.append(s2 - s0)
        snap_build.append(s1 - s0)
        snap_exec.append(s2 - s1)
        ctx.spans.add(f"snapshot{i}", "snapshot.build", s0, s1)
        ctx.spans.add(f"snapshot{i}", "snapshot.exec", s1, s2)
    n_rows = digests[0][0]

    # correctness, outside every timed region
    problems = _check(sf, results, digests)
    failed = sum(1 for p in problems.values() if p)

    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_s": (median(passes), "s"),
        "rows_per_s": (n_rows / median(snaps), "rows/s"),
    }
    layers: dict[str, tuple[float, str]] = {}
    for q, rows in per_query.items():
        for f in QUERY_FIELDS:
            unit = ("count" if f == "sql_executions" else
                    "bytes" if f.endswith("_bytes") else "s")
            vals = [r.get(f, 0) for r in rows]
            layers[f"query.{q}.{f}"] = (median(vals), unit)
    layers["snapshot.build_s"] = (median(snap_build), "s")
    layers["snapshot.exec_s"] = (median(snap_exec), "s")
    return {
        "attempted": len(problems), "failed": failed, "metrics": metrics,
        "layers": layers,
        "detail": {"passes_s": passes, "snapshot_s": snaps,
                   "snapshot_rows": n_rows,
                   "query_latency_s": {q: [r["build_s"] + r["exec_s"] for r in rows]
                                       for q, rows in per_query.items()},
                   "oracle_problems": {k: v for k, v in problems.items() if v}},
    }
