"""``cdc_catchup``: restart after downtime on the live loop PostgreSQL WAL
→ ``pgwire-raw`` → executor decode → envelope/handler/routing →
exactly-once produce → out-of-process MiniBroker, read back by a
read_committed consumer.

Set-up is the first ``get_spark`` call through one warm round becoming
readable; creating the PostgreSQL objects is outside it. Then the stream
stops and a writer process commits a backlog while it is down, shaped
like the reference's own benchmark (BASELINE.md: ``generate_series``
inserts into ``users(id, name, created_on)``) in the bulk waves of
``tools/stream_bench.py``. The stream restarts from its checkpoint; the
drain runs from restart to the last backlog row readable. Every change
event is audited: exactly once, with exactly the payload recomputed from
the seed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
import uuid

from perfbench import gen, infra
from perfbench.stats import Observer, audit, median
from perfbench.trace import ProfileTap, progress_batches

#: stream_bench's wave at its default 100,000 rows/s target (rate / 8);
#: the warm round is one wave, each backlog transaction another
WAVE_ROWS = 12_500
WAVE_FRAMES = WAVE_ROWS + 2  # with its Begin and Commit
#: ``maxframesperbatch`` is exactly five waves and the backlog a whole
#: number of batches (two at 10 s), so every drain batch fills to the cap:
#: the batch count is fixed and no batch waits out ``pollms``. The
#: restarted pump refills the cap in 1.1-1.5 s; ``pollms`` leaves room
WAVES_PER_BATCH = 5
DRAIN_BATCHES_PER_S = 0.2
MAX_FRAMES, POLL_MS = WAVES_PER_BATCH * WAVE_FRAMES, 2_000
POLL_S = 0.02
#: a run that loses events stops waiting for them, and still ends within
#: its time limit, when nothing new has become readable for FIRST_S before
#: the first change of a wait (a cold stream start plus its first
#: micro-batch: under 30 s on a busy shared 4-core VM) or for STALL_S after
#: it (one micro-batch: under 15 s there)
FIRST_S, STALL_S = 45, 25
CORES = os.cpu_count() or 4


class Stream:
    """The engine's EOS pipeline over one slot, startable and stoppable
    against one checkpoint."""

    def __init__(self, spark, pg, broker, tables, pub, slot, start_lsn,
                 ckpt, sfx) -> None:
        from go_pq_cdc_kafka_spark.plans.routing import RoutingTable
        from go_pq_cdc_kafka_spark.streaming.kafka import KafkaProducerConfig

        self.spark, self.pg = spark, pg
        self.pub, self.slot, self.start_lsn, self.ckpt = pub, slot, start_lsn, ckpt
        self.routing = RoutingTable({f"public.{t}": f"{t}.cdc" for t in tables})
        self.cfg = KafkaProducerConfig(
            brokers=[broker.bootstrap], producer_batch_size=10_000,
            idempotent=True, transactional_id=f"{infra.OBJ_PREFIX}txn_{sfx}",
        )
        self.group = f"{infra.OBJ_PREFIX}grp_{sfx}"
        self.query = None
        self.finished: list = []  # progress of earlier runs of the query

    def start(self):
        from go_pq_cdc_kafka_spark.sources import raw as RAW
        from go_pq_cdc_kafka_spark.streaming.pipeline import CdcPipeline

        frames = (
            self.spark.readStream.format("pgwire-raw")
            .option("dsn", self.pg.dsn).option("slot", self.slot)
            .option("publication", self.pub)
            .option("startlsn", str(self.start_lsn))
            .option("maxframesperbatch", str(MAX_FRAMES))
            .option("pollms", str(POLL_MS)).option("groups", "64").load()
        )
        pipe = CdcPipeline(source=RAW.decode_raw_frames(frames, groups=64, partitions=16),
                           routing=self.routing, pk_field="id")
        self.query = pipe.to_kafka_wire_eos(
            self.cfg, self.ckpt, group=self.group,
            trigger={"processingTime": "0 seconds"})
        return self.query

    def stop(self, drain: bool = True) -> None:
        """Stop once every planned micro-batch is committed, so a restart
        never replays one (a replay would add a whole batch to the drain
        whenever the stop raced the last commit). Without ``drain`` it
        stops at once: in teardown, or once the drain has been read."""
        if self.query is not None:
            if drain:
                self.query.processAllAvailable()
            self.finished.append(progress_batches(self.query))
            self.query.stop()
            self.query = None

    def check(self) -> None:
        if self.query is not None and self.query.exception() is not None:
            raise RuntimeError(f"stream failed: {self.query.exception()}")


def _wait_visible(obs: Observer, stream: Stream, keys) -> None:
    """Poll until every key is readable, or until nothing new has become
    readable for ``FIRST_S`` (nothing yet) or ``STALL_S`` (after the first
    change): then the missing keys are lost, and the audit counts them, so
    a lossy program yields a failed run, not a hang."""
    pending = [k for k in keys if k not in obs.seen]
    last, quiet = time.monotonic(), FIRST_S
    while pending and time.monotonic() - last < quiet:
        stream.check()
        time.sleep(POLL_S)
        if obs.poll():
            last, quiet = time.monotonic(), STALL_S
        pending = [k for k in pending if k not in obs.seen]


def run(ctx) -> dict:
    from go_pq_cdc_kafka_spark.session import get_spark
    from go_pq_cdc_kafka_spark.sources import raw as RAW, wire
    from go_pq_cdc_kafka_spark.streaming.kafka_wire import KafkaWireConsumer

    seed, cl, spans, sampler = ctx.seed, ctx.cleanup, ctx.spans, ctx.sampler
    infra.check_no_stale_broker()
    pg = infra.Postgres().start()
    cl.push("postgres", pg.stop)
    broker = infra.Broker()
    cl.push("broker", broker.stop)
    sampler.exclude |= {pg.proc.pid, broker.proc.pid}

    sfx = uuid.uuid4().hex[:8]
    users = f"{infra.OBJ_PREFIX}users_{sfx}"
    pub, slot = f"{infra.OBJ_PREFIX}pub_{sfx}", f"{infra.OBJ_PREFIX}slot_{sfx}"
    topic = f"{users}.cdc"
    admin = pg.connect()

    def drop_objects() -> None:
        admin.simple_query(
            "SELECT pg_terminate_backend(active_pid) FROM pg_replication_slots "
            f"WHERE slot_name = '{slot}' AND active_pid IS NOT NULL")
        for _ in range(100):
            rows = admin.simple_query(
                f"SELECT active FROM pg_replication_slots WHERE slot_name = '{slot}'")
            if not rows or rows[0]["active"] == "f":
                break
            time.sleep(0.1)
        if rows:
            admin.simple_query(f"SELECT pg_drop_replication_slot('{slot}')")
        admin.simple_query(f"DROP PUBLICATION IF EXISTS {pub}")
        admin.simple_query(f"DROP TABLE IF EXISTS {users}")
        admin.close()

    cl.push("postgres objects", drop_objects)
    admin.simple_query(f"CREATE TABLE {users} {gen.USERS_DDL}")
    admin.simple_query(f"CREATE PUBLICATION {pub} FOR TABLE {users}")
    sc = pg.connect()
    try:
        start_lsn = wire.parse_lsn(sc.create_replication_slot(slot)["consistent_point"]) - 1
    finally:
        sc.close()
    ckpt = os.path.join(infra.state_dir("tmp"), f"ckpt-{sfx}")
    cl.push("checkpoint", lambda: shutil.rmtree(ckpt, ignore_errors=True))

    # -- the seeded transactions and their expected change events ---------
    # (topic, id, op) → payload; txns are (sql, [event keys])
    expected: dict[tuple, dict] = {}

    def users_txn(txn: int, lo: int, hi: int) -> tuple[str, list]:
        keys = []
        for i in range(lo, hi + 1):
            k = (topic, str(i), "INSERT")
            expected[k] = gen.user_row(seed, txn, i)
            keys.append(k)
        return gen.users_insert_sql(users, seed, txn, lo, hi), keys

    warm = users_txn(0, 1, WAVE_ROWS)
    backlog = []
    for t in range(max(1, round(ctx.seconds * DRAIN_BATCHES_PER_S)) * WAVES_PER_BATCH):
        lo = (1 + t) * WAVE_ROWS + 1
        backlog.append(users_txn(1 + t, lo, lo + WAVE_ROWS - 1))
    backlog_events = [k for _, ks in backlog for k in ks]

    consumer = KafkaWireConsumer([broker.bootstrap])
    cl.push("consumer", consumer.close)
    obs = Observer(consumer, [topic], time.monotonic)

    tap = None
    if ctx.trace:
        os.environ["SB_PROFILE"] = "1"
        tap = ProfileTap(sys.stdout)
        sys.stdout = tap
        cl.push("profile tap", lambda: setattr(sys, "stdout", tap.stream))
        _add_probes(ctx, pg, broker, slot, [topic])

    # -- set-up: session, stream, one warm round --------------------------
    t0 = time.monotonic()
    spark = get_spark(app_name="perfbench-cdc", extra_conf=ctx.spark_conf)
    cl.push("spark", lambda: infra.stop_spark(spark))
    spans.add("setup", "session.get_spark", t0, time.monotonic())
    RAW.register(spark)
    stream = Stream(spark, pg, broker, [users], pub, slot, start_lsn, ckpt, sfx)
    cl.push("stream", lambda: stream.stop(drain=False))
    stream.start()
    admin.simple_query(warm[0])
    _wait_visible(obs, stream, warm[1])
    setup_s = time.monotonic() - t0
    spans.add("setup", "setup", t0, t0 + setup_s)

    # -- downtime: stop, let the writer process commit the backlog --------
    stream.stop()
    tmp = infra.state_dir("tmp")
    plan_path = os.path.join(tmp, f"plan-{sfx}.json")
    stamps_path = os.path.join(tmp, f"stamps-{sfx}.json")
    with open(plan_path, "w") as f:
        json.dump([sql for sql, _ in backlog], f)
    writer = subprocess.Popen(
        [sys.executable, "-m", "perfbench.writer", pg.dsn, plan_path,
         repr(time.monotonic() + 0.5), stamps_path],
        cwd=infra.ROOT)
    cl.push("writer", lambda: infra.stop_process(writer))
    if writer.wait(timeout=120) != 0:
        raise RuntimeError(f"writer exited with {writer.returncode}")
    with open(stamps_path) as f:
        stamps = json.load(f)
    os.unlink(plan_path)
    os.unlink(stamps_path)

    # -- restart and drain --------------------------------------------------
    prof0 = len(tap.rows) if tap else 0
    sut_cpu0 = infra.cpu_seconds(sampler.sut_pids())
    broker_cpu0 = infra.cpu_seconds([broker.proc.pid])
    t_restart = time.monotonic()
    stream.start()
    _wait_visible(obs, stream, backlog_events)
    for i, ((due, sent, committed), (_, keys)) in enumerate(zip(stamps, backlog)):
        seen = [obs.visible_at(k) for k in keys]
        spans.add(f"txn{i}", "txn.commit", due, committed)
        if None not in seen:
            spans.add(f"txn{i}", "txn.visible", t_restart, max(seen))
    arrived = [t for t in map(obs.visible_at, backlog_events) if t is not None]
    sut_cpu = infra.cpu_seconds(sampler.sut_pids()) - sut_cpu0
    broker_cpu = infra.cpu_seconds([broker.proc.pid]) - broker_cpu0
    stream.stop(drain=False)  # every backlog batch is committed and read

    # -- audit: one last sweep after the stream stopped --------------------
    obs.poll()
    result = audit(expected, obs.seen)
    out = {"attempted": result.expected, "failed": result.failed,
           "metrics": {}, "layers": {},
           "detail": {"audit": result.summary(), "backlog_txns": len(backlog),
                      "backlog_events": len(backlog_events),
                      "backlog_load_s": stamps[-1][2] - stamps[0][1],
                      "failed_frac": result.failed / max(result.expected, 1)}}
    if not arrived:  # nothing to time; the audit has failed the run
        return out

    drain_s = max(arrived) - t_restart
    spans.add("catchup", "drain", t_restart, t_restart + drain_s)
    out["metrics"] = {
        "setup_s": (setup_s, "s"),
        "pass_s": (drain_s, "s"),
        "rows_per_s": (len(arrived) / drain_s, "rows/s"),
    }
    if ctx.trace:
        drain_batches = [d for _, d in sorted(stream.finished[-1].items())]
        out["detail"]["drain_batches"] = [(d["numInputRows"], d["durationMs"])
                                          for d in drain_batches]
        out["layers"] = _layers(ctx, drain_batches, tap.rows[prof0:], sut_cpu,
                                broker_cpu, len(arrived), [s - d for d, s, _ in stamps])
        for run_no, batches in enumerate(stream.finished):
            for bid, d in batches.items():
                _batch_spans(spans, f"run{run_no}.batch{bid}", d)
    return out


def _add_probes(ctx, pg, broker, slot: str, topics: list[str]) -> None:
    """Sampled gauges for the traced run, each on its own connection (the
    sampler thread must not share the main thread's sockets)."""
    from go_pq_cdc_kafka_spark.streaming.kafka_wire import KafkaWireConsumer

    conn = pg.connect()
    probe = KafkaWireConsumer([broker.bootstrap])
    ctx.cleanup.push("probe connections", lambda: (conn.close(), probe.close()))

    def slot_lag_mb():
        rows = conn.simple_query(
            "SELECT pg_current_wal_lsn() - confirmed_flush_lsn AS lag "
            f"FROM pg_replication_slots WHERE slot_name = '{slot}'")
        return float(rows[0]["lag"]) / (1 << 20) if rows and rows[0]["lag"] else None

    def uncommitted_rows():
        total = 0
        for t in topics:
            hwm = probe.latest_offsets(t)
            lso = probe.latest_offsets(t, isolation_level=1)
            total += sum(hwm.values()) - sum(lso.values())
        return total

    ctx.sampler.probes.update({"source.slot_lag_mb": slot_lag_mb,
                               "broker.uncommitted_rows": uncommitted_rows})


def _batch_spans(spans, trace_id: str, d: dict) -> None:
    """Rebuild one micro-batch's spans from its progress timestamp and
    durations (each phase laid end to end from the trigger start)."""
    from datetime import datetime

    start_wall = datetime.fromisoformat(d["timestamp"].replace("Z", "+00:00")).timestamp()
    start = start_wall - time.time() + time.monotonic()
    dur = d.get("durationMs") or {}
    spans.add(trace_id, "batch.trigger", start,
              start + dur.get("triggerExecution", 0) / 1000)
    t = start
    for phase in ("latestOffset", "queryPlanning", "getBatch", "walCommit",
                  "addBatch", "commitOffsets"):
        ms = dur.get(phase, 0)
        spans.add(trace_id, f"batch.{phase}", t, t + ms / 1000, "batch.trigger")
        t += ms / 1000


def _layers(ctx, batches, prof, sut_cpu, broker_cpu, events, lateness) -> dict:
    """Per-layer numbers of the drain: micro-batch phases from progress,
    produce-stage task sums from the ``SB_PROFILE`` lines, sampled gauges,
    and CPU per thousand change events."""

    def dur(d, *keys):
        return sum((d.get("durationMs") or {}).get(k, 0) for k in keys) / 1000

    def p50(vals):
        return median(vals) if vals else 0.0

    produced = sum(r["produced"] or 0 for r in prof)

    def per_krow(field):
        return sum(r[field] for r in prof) / (produced / 1000) if produced else 0.0

    # addBatch minus the produce tasks' busy time spread over the cores
    busy = sum(r["t_pull_sum"] + r["t_marshal_sum"] + r["t_send_sum"] + r["t_txn_sum"]
               for r in prof) / CORES
    samples = ctx.sampler.samples
    return {
        "batch.count": (len(batches), "count"),
        "batch.frames": (sum(d["numInputRows"] for d in batches), "count"),
        "batch.rows_p50": (p50([d["numInputRows"] for d in batches]), "count"),
        "batch.latest_offset_s": (p50([dur(d, "latestOffset") for d in batches]), "s"),
        "batch.trigger_s_p50": (p50([dur(d, "triggerExecution") for d in batches]), "s"),
        "batch.add_batch_s_p50": (p50([dur(d, "addBatch") for d in batches]), "s"),
        "batch.planning_s": (p50([dur(d, "queryPlanning") for d in batches]), "s"),
        "batch.checkpoint_s": (p50([dur(d, "walCommit", "commitOffsets") for d in batches]), "s"),
        "batch.sched_s": ((sum(dur(d, "addBatch") for d in batches) - busy)
                          / max(len(batches), 1), "s"),
        "source.slot_lag_mb": (p50(samples.get("source.slot_lag_mb", [])), "MB"),
        "produce.pull_s_per_krow": (per_krow("t_pull_sum"), "s"),
        "produce.marshal_s_per_krow": (per_krow("t_marshal_sum"), "s"),
        "produce.send_s_per_krow": (per_krow("t_send_sum"), "s"),
        "produce.txn_s_per_batch": (sum(r["t_txn_sum"] for r in prof) / max(len(prof), 1), "s"),
        "broker.uncommitted_rows": (p50(samples.get("broker.uncommitted_rows", [])), "count"),
        "sut.cpu_s_per_krow": (sut_cpu / (events / 1000), "s"),
        "broker.cpu_s_per_krow": (broker_cpu / (events / 1000), "s"),
        "writer.late_max_s": (max(lateness), "s"),
    }
