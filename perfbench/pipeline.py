"""The `pipeline-steady` workload: the deimos chain under an open loop.

A separate generator process (loadgen.py) appends pre-encoded records to a
FakeBroker topic at a fixed rate for the run's seconds. The benchmark loops,
over one cycle every INTERVAL_S seconds (a processing-time trigger):

    poll -> BatchConsumer.consume_batch (decode, compact, Delta MERGE with
    the change feed on) -> commit offsets -> ChangelogPoller.run_once,
    publishing through Producer.publish(backend="outbox") ->
    OutboxRelay.run_once into a sink that stamps arrivals -> Engine.sql
    over the live topic table, checked against the model

until every generated record has been consumed and relayed. Each layer is
timed from outside, around the public call into its module. Set-up runs
one untimed warm-up cycle on a table of its own (`warm_up`).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from statistics import fmean, median

from common import SparkJobs, Tracer, tail, wrap_method
from datagen import Record, keep_last, pipeline_stream

TOPIC = "ev"
OUT_TOPIC = "ev_out"
SCHEMA = {
    "type": "record",
    "name": "Ev",
    "fields": [
        {"name": "id", "type": "string"},
        {"name": "seq", "type": ["null", "long"], "default": None},
        {"name": "v", "type": ["null", "int"], "default": None},
        {"name": "payload", "type": ["null", "string"], "default": None},
    ],
}
FIELDS = "id string, seq long, v int, payload string"
PARTITIONS = 4
POLL_BATCH = 1000       # reference consumer batch
RATE = 10.0             # records/s offered by the generator
# Processing-time trigger: a cycle starts every INTERVAL_S seconds after
# the first record is due, or as soon as the previous one ends if it ran
# past its slot. About as long as a cycle, so a slow cycle delays only its
# own records instead of enlarging every later batch. Not a divisor of
# the run's seconds, so the last record is not due just at a tick.
INTERVAL_S = 11.0
N_KEYS = 400            # near-uniform keys: updates are common
TOMBSTONE_SHARE = 0.1
SETUP_REPEATS = 3
WARMUP_RECORDS = 100    # one batch for the warm-up cycle


def check_pipeline(
    records: list[Record],
    table_rows: list[tuple],
    sink: list[tuple[str, tuple | None]],
) -> tuple[int, list[str]]:
    """Compare the final keyed table and the relay sink with the
    keep-last model of `records`. `table_rows` are (id, seq, v, payload);
    `sink` is (key, payload-or-None) in arrival order. Returns (checks
    made, problems)."""
    model = keep_last(records)
    problems: list[str] = []
    checks = 0
    table = {r[0]: tuple(r[1:]) for r in table_rows}
    if len(table) != len(table_rows):
        problems.append("table holds duplicate keys")
    produced = {(r.key, r.payload) for r in records if r.payload is not None}
    last_sent: dict[str, tuple | None] = {}
    for key, payload in sink:
        checks += 1
        if payload is not None and (key, payload) not in produced:
            problems.append(f"sink got a value never produced: {key}")
        last_sent[key] = payload
    for key in sorted({r.key for r in records}):
        checks += 2
        want = model.get(key)
        if table.get(key) != want:
            problems.append(f"table {key}: {table.get(key)} != {want}")
        if last_sent.get(key) != want:
            problems.append(f"sink {key}: {last_sent.get(key)} != {want}")
    extra = set(table) - {r.key for r in records}
    if extra:
        problems.append(f"table holds keys never produced: {sorted(extra)[:3]}")
    return checks, problems


def _decode_sink_row(row) -> tuple[str, tuple | None]:
    key = json.loads(bytes(row["key"]))["id"]
    if row["message"] is None:
        return key, None
    d = json.loads(bytes(row["message"]))
    return key, (d["seq"], d["v"], d["payload"])


def warm_up(spark, eng, work: str, encoded: list[tuple]) -> None:
    """One cycle of the chain, poll to relay and query, over the first
    records on a broker, table and outbox of its own, so that the timed
    cycles do not pay for the first use of each code path (class
    loading, code generation, the JIT). The timed consumer is created
    afterwards, so the topic's sql() view then reads the timed table."""
    from deimos_spark.sources.outbox import OutboxRelay
    from deimos_spark.sources.poller import ChangelogPoller
    from deimos_spark.streaming.fakebroker import FakeBroker

    base = os.path.join(work, "warmup")
    broker = FakeBroker(os.path.join(base, "broker"))
    broker.create_topic(TOPIC, PARTITIONS)
    broker.produce_many(TOPIC, encoded[:WARMUP_RECORDS])
    cons = eng.consumer(TOPIC, os.path.join(base, "table"),
                        table_format="delta", table_kw={"enable_cdf": True})
    recs = broker.poll("warmup", TOPIC, POLL_BATCH // PARTITIONS)
    cons.consume_batch(broker.to_dataframe(spark, recs))
    outp = eng.producer(OUT_TOPIC)
    outbox = eng.outbox(os.path.join(base, "outbox"))
    ChangelogPoller(
        spark, cons.table.path,
        lambda df: outp.publish(df.select("id", "seq", "v", "payload"),
                                backend="outbox", outbox=outbox),
        os.path.join(base, "cursor.json"), fmt="delta", key_cols=["id"],
    ).run_once()
    OutboxRelay(outbox, lambda topic, batch: None,
                batch_size=POLL_BATCH).run_once()
    eng.sql(f"SELECT count(*) AS n, coalesce(sum(v), 0) AS s "
            f"FROM {TOPIC}").collect()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def run_steady(spark, root: str, work: str, seed: int, seconds: float,
               tracer: Tracer) -> dict:
    from deimos_spark.engine import Engine
    from deimos_spark.sources.outbox import OutboxRelay
    from deimos_spark.sources.poller import ChangelogPoller
    from deimos_spark.streaming.fakebroker import FakeBroker

    n = max(int(RATE * seconds), 1)
    records = pipeline_stream(seed, n, N_KEYS, TOMBSTONE_SHARE)

    # ------------------------------------------------------------ set-up
    eng = Engine(spark, default_codec="json")
    eng.register_topic(TOPIC, SCHEMA, key_field="id")
    eng.register_topic(OUT_TOPIC, SCHEMA, key_field="id")
    prod = eng.producer(TOPIC)
    rows = [(r.key, *(r.payload or (None, None, None))) for r in records]
    build_times = []
    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        msgs = prod.build_messages(
            spark.createDataFrame(rows, FIELDS)
        ).select("key", "value").collect()
        build_times.append(time.perf_counter() - t)
    encoded = [(bytes(m["key"]), None if m["value"] is None
                else bytes(m["value"])) for m in msgs]
    for r, (k, v) in zip(records, encoded):
        if json.loads(k)["id"] != r.key or (v is None) != (r.payload is None):
            raise RuntimeError("encoded records out of order")
    t = time.perf_counter()
    warm_up(spark, eng, work, encoded)
    warm_up_s = time.perf_counter() - t
    stream_file = os.path.join(work, "stream.jsonl")
    with open(stream_file, "w") as fh:
        for k, v in encoded:
            fh.write(json.dumps([k.hex(), None if v is None else v.hex()])
                     + "\n")
    broker = FakeBroker(os.path.join(work, "broker"))
    broker.create_topic(TOPIC, PARTITIONS)
    # the generator appends in seq order and a key always lands in the
    # same partition, so (partition, offset) names one generated record
    by_partition: dict[int, list[Record]] = {p: [] for p in range(PARTITIONS)}
    for r, (k, _) in zip(records, encoded):
        by_partition[broker.partition_for_key(TOPIC, k)].append(r)
    cons = eng.consumer(TOPIC, os.path.join(work, "table"),
                        table_format="delta", table_kw={"enable_cdf": True})
    outp = eng.producer(OUT_TOPIC)
    outbox = eng.outbox(os.path.join(work, "outbox"))
    sink: list[tuple[float, tuple[str, tuple | None]]] = []

    def deliver(topic, batch):
        now = time.time()
        with tracer.span("sink"):
            sink.extend((now, _decode_sink_row(r)) for r in batch)

    def publish(df):
        with tracer.span("producer.publish"):
            outp.publish(df.select("id", "seq", "v", "payload"),
                         backend="outbox", outbox=outbox)

    relay = OutboxRelay(outbox, deliver, batch_size=POLL_BATCH)
    poller = ChangelogPoller(spark, cons.table.path, publish,
                             os.path.join(work, "cursor.json"),
                             fmt="delta", key_cols=["id"])
    if tracer.enabled:
        wrap_method(tracer, cons.table, "merge", "delta.merge")
        wrap_method(tracer, outbox, "append", "outbox.append")
        wrap_method(tracer, outbox, "delete_ids", "outbox.delete_ids")
        timed_delete = outbox.delete_ids
        rewritten = [0]

        def delete_ids(ids):  # size of the outbox each delete rewrote
            timed_delete(ids)
            rewritten[0] += _dir_bytes(outbox.path)

        outbox.delete_ids = delete_ids
        jobs = SparkJobs(spark)
    setup_s = median(build_times) + warm_up_s

    # ---------------------------------------------------------- timed run
    t0 = time.time() + 1.0
    gen_out = os.path.join(work, "loadgen.json")
    gen = subprocess.Popen(
        [sys.executable, os.path.join(root, "perfbench", "loadgen.py"),
         "--broker", broker.path, "--topic", TOPIC, "--input", stream_file,
         "--rate", str(RATE), "--t0", repr(t0), "--out", gen_out],
        cwd=root,
    )
    group = "bench"
    consumed: list[Record] = []
    cycle_s: list[float] = []
    query_s: list[float] = []
    cycle_jobs: dict[str, list[int]] = {"merge": [], "poller": []}
    records_in: list[int] = []
    rows_merged: list[int] = []
    published: list[int] = []
    relayed = 0
    checks = failed_checks = 0
    problems: list[str] = []
    tick = t0
    try:
        while len(consumed) < n:
            tick += INTERVAL_S
            wait = tick - time.time()
            if wait > 0:
                time.sleep(wait)
            else:  # the previous cycle ran past this slot
                tick = time.time()
            gen_done = gen.poll() is not None
            c0 = time.perf_counter()
            recs = broker.poll(group, TOPIC, POLL_BATCH // PARTITIONS)
            polled = time.perf_counter()
            if not recs:
                if gen_done:
                    # every record was in the broker before this poll
                    raise RuntimeError(
                        f"load generator exited {gen.returncode} with "
                        f"{n - len(consumed)} records not consumed")
                continue
            cid = f"c{len(cycle_s)}"
            with tracer.span("cycle", trace_id=cid, start=c0):
                tracer.add("fakebroker.poll", c0, polled)
                with tracer.span("fakebroker.to_dataframe"):
                    df = broker.to_dataframe(spark, recs)
                if tracer.enabled:
                    before = jobs.ids()
                with tracer.span("consumer.consume_batch"):
                    cons.consume_batch(df)
                offsets: dict[int, int] = {}
                for r in recs:
                    offsets[r.partition] = max(
                        offsets.get(r.partition, 0), r.offset + 1)
                with tracer.span("fakebroker.commit"):
                    broker.commit(group, TOPIC, offsets)
                cycle_s.append(time.perf_counter() - c0)
                if tracer.enabled:
                    mid = jobs.ids()
                    cycle_jobs["merge"].append(len(mid - before))
                with tracer.span("poller.run_once"):
                    published.append(poller.run_once())
                if tracer.enabled:
                    cycle_jobs["poller"].append(len(jobs.ids() - mid))
                with tracer.span("outbox.relay"):
                    relayed += relay.run_once()
                batch = [by_partition[r.partition][r.offset] for r in recs]
                consumed.extend(batch)
                records_in.append(len(recs))
                rows_merged.append(len({r.key for r in batch}))
                q0 = time.perf_counter()
                with tracer.span("engine.sql"):
                    got = eng.sql(
                        f"SELECT count(*) AS n, coalesce(sum(v), 0) AS s "
                        f"FROM {TOPIC}").collect()[0]
                query_s.append(time.perf_counter() - q0)
            model = keep_last(sorted(consumed, key=lambda r: r.seq))
            want = (len(model), sum(p[1] for p in model.values()))
            checks += 1
            if (got["n"], got["s"]) != want:
                failed_checks += 1
                problems.append(f"cycle {cid}: table {tuple(got)} != {want}")
    except Exception as e:  # a failed cycle ends the run and is reported
        checks += 1
        failed_checks += 1
        problems.append(f"cycle failed: {type(e).__name__}: {e}")
    t_end = time.time()
    try:
        gen.wait(timeout=60)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    with open(gen_out) as fh:
        gen_stats = json.load(fh)

    # ---------------------------------------------- correctness, untimed
    try:
        table_rows = [tuple(r) for r in eng.sql(
            f"SELECT id, seq, v, payload FROM {TOPIC}").collect()]
    except Exception as e:  # reported as a failed check below
        table_rows = []
        problems.append(f"final table read failed: {type(e).__name__}: {e}")
    n_checks, final_problems = check_pipeline(
        records, table_rows, [m for _, m in sink])
    checks += n_checks
    failed_checks += len(final_problems)
    problems += final_problems

    latency = [
        at - (t0 + m[1][0] / RATE) for at, m in sink if m[1] is not None
    ]
    lat_p, lat_tail = tail(latency)
    if lat_tail is None:  # too few records for a percentile: the slowest
        lat_p, lat_tail = "max", max(latency)
    cyc_p, cyc_tail = tail(cycle_s)
    if cyc_tail is None:  # too few cycles for a percentile: the slowest
        cyc_p, cyc_tail = "max", max(cycle_s)
    e2e = {
        "setup_s": setup_s,
        "records_per_s": len(sink) / (t_end - t0),
        "delivery_latency_s.p50": median(latency),
        "delivery_latency_s.tail": lat_tail,
    }
    layer = {
        "consume_batch_s.p50": median(cycle_s),
        "consume_batch_s.tail": cyc_tail,
        "table_query_s.p50": median(query_s),
        "loadgen.late_s.max": gen_stats["late_s_max"],
        "loadgen.records": gen_stats["records"],
        "fakebroker.produce_s": gen_stats["produce_s"]
        / gen_stats["produce_calls"],
        "fakebroker.produce_calls": gen_stats["produce_calls"],
        "fakebroker.poll_records": sum(records_in) / len(records_in),
        "producer.build_s": median(build_times),
        "producer.records": n,
        "producer.value_bytes_per_record": sum(
            len(v) for _, v in encoded if v is not None)
        / max(sum(1 for _, v in encoded if v is not None), 1),
        "consumer.records_in": sum(records_in),
        "consumer.rows_merged": sum(rows_merged),
        "consumer.compaction_ratio": sum(rows_merged) / sum(records_in),
        "poller.rows_published": sum(published),
        "outbox.pending_rows.max": max(published),
        "outbox.relayed_records": relayed,
    }
    info = {
        "rate_per_s": RATE,
        "interval_s": INTERVAL_S,
        "records": n,
        "cycles": len(cycle_s),
        "delivery_latency_tail_percentile": lat_p,
        "delivery_latency_samples": len(latency),
        "consume_batch_tail_percentile": cyc_p,
        "consume_batch_samples": len(cycle_s),
        "problems": problems[:20],
    }
    if tracer.enabled:
        from deimos_spark.operators.delta_interop import DeltaTableReader

        snap = DeltaTableReader(spark, cons.table.path).snapshot()
        log_dir = os.path.join(cons.table.path, "_delta_log")
        per_call = lambda name: fmean(  # noqa: E731
            tracer.durations(name) or [0.0])
        layer.update({
            "fakebroker.poll_s": per_call("fakebroker.poll"),
            "fakebroker.to_dataframe_s": per_call("fakebroker.to_dataframe"),
            "fakebroker.commit_s": per_call("fakebroker.commit"),
            "consumer.consume_batch_s": per_call("consumer.consume_batch"),
            "delta.merge_s": per_call("delta.merge"),
            "delta.merge_calls": len(tracer.durations("delta.merge")),
            "delta.spark_jobs_per_merge": sum(cycle_jobs["merge"])
            / len(cycle_jobs["merge"]),
            "delta.table_version": snap.version,
            "delta.live_files": len(snap.files),
            "delta.log_bytes": _dir_bytes(log_dir),
            "delta.bytes_written_per_record": _dir_bytes(cons.table.path)
            / sum(records_in),
            "poller.run_once_s": per_call("poller.run_once"),
            "poller.spark_jobs": sum(cycle_jobs["poller"])
            / len(cycle_jobs["poller"]),
            "outbox.append_s": per_call("outbox.append"),
            "outbox.relay_s": per_call("outbox.relay"),
            "outbox.delete_ids_s": per_call("outbox.delete_ids"),
            "outbox.bytes_rewritten": rewritten[0],
            "engine.sql_s": per_call("engine.sql"),
        })
    return {"e2e": e2e, "layer": layer, "attempted": checks,
            "failed": failed_checks, "info": info}

