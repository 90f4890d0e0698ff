"""The benchmark's phases. Each calls the program only through the
public functions of ``s2_spark`` and checks every output it gets back.

A run first sets up every family of work (a warm-up unary round trip,
the generated analytics tables checked against their DuckDB oracles,
the connector's stores and backlog), then measures all of them in a
fixed order: unary ops, then bulk reps, warm analytics passes, the
connector drain and its live steps. So every run
reports every end-to-end metric; the named workload only gets the
larger share of the measured work (see ``plan``).

Metrics go to ``run.e2e`` and ``run.layer``; per-layer metrics that
need Spark's event log are computed by a ``finish`` callback after the
session has stopped.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field, replace

from perfbench import gen
from perfbench.spans import JobIndex, Tracer, max_task_skew
from perfbench.stats import median, percentile, tail_percentile

BASIN = "bench-basin"
HEADERS_TYPE = "array<struct<name binary, value binary>>"
MIB = 1024 * 1024


@dataclass
class Run:
    spark: object
    tracer: Tracer
    tmp: str
    seed: int
    #: perf_counter at process start
    t_start: float
    #: process start until the first timed op (the end-to-end setup_s)
    setup_s: float = 0.0
    e2e: dict = field(default_factory=dict)
    #: end-to-end figures too unsteady at this run length to be
    #: bounded: printed for people, left out of the JSON result
    printed: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    mismatches: list = field(default_factory=list)
    #: lines printed with the metrics, for people
    notes: list = field(default_factory=list)
    #: callbacks run with the parsed event log once the session stopped
    finishers: list = field(default_factory=list)
    #: set-up checks outputs from several threads
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def fresh_dir(self, prefix: str) -> str:
        return tempfile.mkdtemp(prefix=prefix, dir=self.tmp)

    def check(self, ok: bool, what: str) -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.mismatches.append(what)


def _new_store(spark, base: str, streams: list[str]):
    from s2_spark.catalog import Catalog
    from s2_spark.store import StreamStore

    cat = Catalog(spark)
    cat.create_basin(BASIN)
    for s in streams:
        cat.create_stream(BASIN, s)
    return StreamStore(spark, os.path.join(base, "records"), catalog=cat)


def _records_df(run: Run, streams: list[str], bodies: list[bytes]):
    """Bulk-append input: one row per body, ``ingest_order`` the index,
    staged as a parquet file so Spark scans it in parallel like any
    ingest source."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    path = os.path.join(run.fresh_dir("input-"), "input.parquet")
    pq.write_table(
        pa.table({
            "stream": streams,
            "body": pa.array(bodies, pa.binary()),
            "ingest_order": pa.array(range(len(bodies)), pa.int64()),
        }),
        path,
        row_group_size=1024,
    )
    return run.spark.read.parquet(path).select(
        F.lit(BASIN).alias("basin"),
        "stream",
        F.lit(None).cast("long").alias("timestamp"),
        F.array().cast(HEADERS_TYPE).alias("headers"),
        "body",
        "ingest_order",
    )


def _chain(order_col: str):
    """Order-sensitive xxhash64 chain over ``body``, the one bench.py
    uses: collect (order, hash) pairs, sort them, fold the hashes.
    Compares whole stores without moving their records to the driver."""
    from pyspark.sql import functions as F

    pairs = F.array_sort(
        F.collect_list(F.struct(F.col(order_col).alias("o"), F.xxhash64("body").alias("h")))
    )
    return F.aggregate(
        F.transform(pairs, lambda x: x["h"]), F.lit(0).cast("long"), lambda acc, h: F.xxhash64(acc, h)
    )


def _disk(base: str) -> tuple[int, int]:
    """(parquet data files, total bytes) under ``base``."""
    files = size = 0
    for root, _, names in os.walk(base):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return files, size


def _ms(seconds: float) -> float:
    return seconds * 1000.0


def _latency_note(name: str, samples: list[float]) -> str:
    """Median and the highest percentile with ten samples beyond it."""
    tail = tail_percentile(samples)
    shown = f"p{tail[0]:g} {_ms(tail[1]):.1f} ms" if tail else "no percentile has 10 samples beyond it"
    return f"{name}: median {_ms(median(samples)):.1f} ms, {shown}, n={len(samples)}"


# --- store: unary_rw and bulk_ingest -----------------------------------------

UNARY_STREAMS = 4
UNARY_BATCH = 10
UNARY_RECORD_BYTES = 1024

BULK_RECORD_BYTES = 8192
BULK_RECORDS = 2048  # 16 MiB


@dataclass
class _Unary:
    store: object = None
    base: str = ""
    user_bytes: int = 0
    ack: list = field(default_factory=list)
    e2e: list = field(default_factory=list)
    plan: list = field(default_factory=list)
    scan: list = field(default_factory=list)
    files: list = field(default_factory=list)


@dataclass
class _Bulk:
    ingest: list = field(default_factory=list)
    lag: list = field(default_factory=list)
    catchup: list = field(default_factory=list)
    first_ms: list = field(default_factory=list)
    events: list = field(default_factory=list)
    timings: list = field(default_factory=list)
    plan: list = field(default_factory=list)
    scan: list = field(default_factory=list)
    files: list = field(default_factory=list)
    jobs: list = field(default_factory=list)
    disk_ratio: list = field(default_factory=list)
    spans: list = field(default_factory=list)


def _unary_op(run: Run, u: _Unary, i: int, stream: str, bodies: list[bytes]) -> None:
    """One closed-loop op: append a batch, then read exactly that batch
    back with ``read_unary`` and compare bytes."""
    from s2_spark.model import Record
    from s2_spark.store import ReadLimit, ReadStart

    tr = run.tracer
    recs = [Record(body=b) for b in bodies]
    with tr.span("unary.op", i):
        t0 = time.perf_counter()
        with tr.span("append", i):
            ack = u.store.append(BASIN, stream, recs)
        t1 = time.perf_counter()
        with tr.span("read.plan", i):
            df = u.store.read_unary(
                BASIN, stream, start=ReadStart(seq_num=ack.start_seq), limit=ReadLimit(count=len(recs))
            )
        t2 = time.perf_counter()
        with tr.span("read.scan", i):
            rows = df.collect()
        t3 = time.perf_counter()
        got = [(r["seq_num"], bytes(r["body"])) for r in rows]
        want = list(zip(range(ack.start_seq, ack.start_seq + len(bodies)), bodies))
        run.check(got == want, f"unary op {i}: read-back differs from the appended batch")
        if tr.enabled:
            u.files.append(len(df.inputFiles()))
    u.ack.append(t1 - t0)
    u.e2e.append(t3 - t0)
    u.plan.append(t2 - t1)
    u.scan.append(t3 - t2)
    u.user_bytes += sum(map(len, bodies))


def _live_reader(store, stream: str, n: int, out: dict):
    """Follow-mode read session opened before the append; records the
    delivered (seq, body) pairs and when the first and last arrived."""
    from s2_spark.store import ReadLimit

    rows, events = [], 0
    for ev in store.read_session(BASIN, stream, limit=ReadLimit(count=n), wait_s=120.0, poll_s=0.05):
        if ev.kind == "batch" and ev.records:
            now = time.perf_counter()
            out.setdefault("first", now)
            out["last"] = now
            events += 1
            rows.extend((r["seq_num"], bytes(r["body"])) for r in ev.records)
    out["rows"], out["events"] = rows, events


def _store_warm(run: Run) -> None:
    """Warm the unary path with one append and read on a throwaway
    store (the connector's backlog ``bulk_append`` warms the bulk
    path)."""
    from s2_spark.model import Record
    from s2_spark.store import ReadStart

    base = run.fresh_dir("store-warm-")
    store = _new_store(run.spark, base, ["warm"])
    bodies = gen.warm_bodies(run.seed, UNARY_BATCH, UNARY_RECORD_BYTES)
    ack = store.append(BASIN, "warm", [Record(body=b) for b in bodies])
    store.read_unary(BASIN, "warm", start=ReadStart(seq_num=ack.start_seq)).collect()
    shutil.rmtree(base, ignore_errors=True)


def _bulk_rep(run: Run, b: _Bulk, rep: int) -> None:
    """The ``s2 bench`` shape in a fresh store: live session open, one
    ``bulk_append`` of a seeded batch into one stream, then a catch-up
    read of every record to the client; the live and the catch-up
    records must both equal the written batch, byte for byte and in
    order."""
    tr = run.tracer
    mib = BULK_RECORDS * BULK_RECORD_BYTES / MIB
    with tr.span("bulk.rep", rep):
        base = run.fresh_dir("bulk-")
        store = _new_store(run.spark, base, ["bench"])
        bodies = gen.bulk_bodies(run.seed, rep, BULK_RECORDS, BULK_RECORD_BYTES)
        src = _records_df(run, ["bench"] * BULK_RECORDS, bodies)
        written = list(enumerate(bodies))

        live: dict = {}
        reader = threading.Thread(target=_live_reader, args=(store, "bench", BULK_RECORDS, live), daemon=True)
        reader.start()
        timings: dict = {}
        t0 = time.perf_counter()
        with tr.span("bulk", rep) as sp:
            store.bulk_append(src, timings=timings)
        t1 = time.perf_counter()
        reader.join(timeout=150)
        t2 = time.perf_counter()
        with tr.span("catchup.plan", rep) as sp_plan:
            df = store.read(BASIN, "bench")
        t3 = time.perf_counter()
        with tr.span("catchup.scan", rep) as sp_scan:
            rows = df.select("seq_num", "body").collect()
        t4 = time.perf_counter()

        live_ok = not reader.is_alive() and live.get("rows") == written
        run.check(live_ok, f"bulk rep {rep}: live session did not deliver the appended batch in order")
        run.check(
            [(r["seq_num"], bytes(r["body"])) for r in rows] == written,
            f"bulk rep {rep}: catch-up read differs from the appended batch",
        )
        b.ingest.append(mib / (t1 - t0))
        b.catchup.append(mib / (t4 - t2))
        if live_ok:
            b.lag.append(live["last"] - t1)
            b.first_ms.append(_ms(live["first"] - t0))
            b.events.append(live["events"])
        b.timings.append(timings)
        b.plan.append(t3 - t2)
        b.scan.append(t4 - t3)
        if tr.enabled:
            b.files.append(len(df.inputFiles()))
            b.jobs.append(sp_plan.spark_jobs + sp_scan.spark_jobs)
            b.spans.append(sp)
            b.disk_ratio.append(_disk(store.base_dir)[1] / (BULK_RECORDS * BULK_RECORD_BYTES))
        shutil.rmtree(base, ignore_errors=True)


def _store_measure(run: Run, u: _Unary, n_ops: int, reps: int) -> None:
    """``n_ops`` closed-loop unary ops on the store ``u``, then ``reps``
    bulk reps, each in a store of its own."""
    ops = gen.unary_ops(run.seed, n_ops, UNARY_STREAMS, UNARY_BATCH, UNARY_RECORD_BYTES)
    for i, (stream, bodies) in enumerate(ops):
        _unary_op(run, u, i, stream, bodies)
    b = _Bulk()
    for rep in range(reps):
        _bulk_rep(run, b, rep)
    n_files, disk = _disk(u.store.base_dir)
    shutil.rmtree(u.base, ignore_errors=True)

    run.e2e["ack_p50_ms"] = (_ms(percentile(u.ack, 50)), "ms")
    run.printed["ack_p90_ms"] = (_ms(percentile(u.ack, 90)), "ms")
    run.e2e["rw_e2e_p50_ms"] = (_ms(percentile(u.e2e, 50)), "ms")
    run.printed["rw_e2e_p90_ms"] = (_ms(percentile(u.e2e, 90)), "ms")
    run.e2e["ingest_mib_s"] = (median(b.ingest), "MiB/s")
    run.e2e["tail_lag_ms"] = (_ms(median(b.lag)) if b.lag else float("nan"), "ms")
    run.printed["catchup_mib_s"] = (median(b.catchup), "MiB/s")
    run.notes += [_latency_note("ack", u.ack), _latency_note("rw_e2e", u.e2e)]
    if not run.tracer.enabled:
        return
    tr = run.tracer
    run.layer["read.plan_ms"] = (_ms(median(u.plan)), "ms")
    run.layer["read.scan_ms"] = (_ms(median(u.scan)), "ms")
    run.layer["read.files_scanned"] = (percentile(u.files, 50), "count")
    run.layer["store.files"] = (n_files, "count")
    run.layer["store.disk_bytes_per_user_byte"] = (disk / u.user_bytes, "ratio")
    appends = tr.named("append")
    run.layer["append.spark_jobs"] = (percentile([s.spark_jobs for s in appends], 50), "count")
    plans, scans = tr.named("read.plan"), tr.named("read.scan")
    run.layer["read.spark_jobs"] = (
        percentile([p.spark_jobs + s.spark_jobs for p, s in zip(plans, scans)], 50), "count"
    )
    for key, name in (
        ("admission_sec", "bulk.admission_s"),
        ("plan_sec", "bulk.plan_s"),
        ("parquet_sec", "bulk.parquet_s"),
    ):
        run.layer[name] = (median([t.get(key, 0.0) for t in b.timings]), "s")
    # bulk_append rounds its timings to 1 ms and these two phases take
    # about that long, so they read the same on most runs: printed only
    run.notes.append(
        "bulk.publish_s {:.4f} s, bulk.state_s {:.4f} s (bulk_append rounds to 1 ms)".format(
            median([t.get("publish_sec", 0.0) for t in b.timings]),
            median([t.get("state_sec", 0.0) for t in b.timings]),
        )
    )
    run.layer["bulk.spark_jobs"] = (percentile([s.spark_jobs for s in b.spans], 50), "count")
    run.layer["bulk.disk_bytes_per_user_byte"] = (median(b.disk_ratio), "ratio")
    run.layer["catchup.plan_ms"] = (_ms(median(b.plan)), "ms")
    run.layer["catchup.scan_ms"] = (_ms(median(b.scan)), "ms")
    run.layer["catchup.files_scanned"] = (percentile(b.files, 50), "count")
    run.layer["catchup.spark_jobs"] = (percentile(b.jobs, 50), "count")
    run.layer["live.events"] = (percentile(b.events, 50) if b.events else 0, "count")
    run.layer["live.first_delivery_ms"] = (median(b.first_ms) if b.first_ms else 0.0, "ms")

    def finish(idx: JobIndex) -> None:
        busy = [idx.busy_s(idx.of([s]), s.start, s.end) for s in appends]
        run.layer["append.job_ms"] = (_ms(median(busy)), "ms")
        run.layer["append.driver_ms"] = (_ms(median([s.seconds - x for s, x in zip(appends, busy)])), "ms")
        per = [idx.of([s]) for s in b.spans]
        run.layer["bulk.executor_cpu_s"] = (median([sum(j.cpu_ns for j in js) / 1e9 for js in per]), "s")
        run.layer["bulk.shuffle_write_bytes"] = (median([sum(j.shuffle_write_bytes for j in js) for js in per]), "bytes")
        run.layer["bulk.spill_bytes"] = (median([sum(j.spill_bytes for j in js) for js in per]), "bytes")

    run.finishers.append(finish)


# --- analytics ----------------------------------------------------------------

#: the 12 headline queries, one per operator family (label, registry name)
HEADLINE = [
    ("q_scan_ts", "sc4_range_scan_ts"),
    ("q_tpch1", "ag1_hash_agg_multi"),
    ("q_join_multi", "j2_multiway_join"),
    ("q_window_seq", "w1_row_number"),
    ("q_metrics_hour", "ag9_metrics_rollup"),
    ("q_dedup_exact", "x1b_distinct_docs"),
    ("q_cosine_topk", "x4_cosine_topk"),
    ("q_topk_group", "sl2_topk_per_group"),
    ("q_cmd_fold", "str6_command_fold"),
    ("q_bpe_tokens", "x12_bpe_token_count"),
    ("q_setops_intersect", "set2_intersect"),
    ("q_asof_join", "j7_asof_join"),
]
#: table sizes relative to the repo's sf0.1 fixtures
ANALYTICS_SCALE = 0.1


def _analytics_check(run: Run, qs: dict, data: str, labels: list[tuple[str, str]]) -> None:
    """Run each query once, untimed, and compare it with its DuckDB
    oracle; this also warms every query plan."""
    from tests.oracle import compare, duck_connect

    con = duck_connect(data)
    for label, name in labels:
        try:
            compare(qs[name].spark(run.spark, data), con, qs[name].oracle)
            ok = True
        except AssertionError:
            ok = False
        run.check(ok, f"analytics {label}: result differs from the DuckDB oracle")
    con.close()


def _analytics_measure(run: Run, qs: dict, data: str, passes: int) -> None:
    """``passes`` warm passes of the 12 queries to the noop sink."""
    spark, tr = run.spark, run.tracer
    walls: dict[str, list[float]] = {label: [] for label, _ in HEADLINE}
    for p in range(passes):
        for label, name in HEADLINE:
            t0 = time.perf_counter()
            with tr.span(f"q.{label}", p):
                qs[name].spark(spark, data).write.format("noop").mode("overwrite").save()
            walls[label].append(time.perf_counter() - t0)
    run.e2e["suite_s"] = (sum(median(w) for w in walls.values()), "s")
    if not tr.enabled:
        return

    def finish(idx: JobIndex) -> None:
        all_jobs = []
        for label, _ in HEADLINE:
            spans = tr.named(f"q.{label}")
            jobs = idx.of(spans)
            all_jobs += jobs
            busy = sum(idx.busy_s(idx.of([s]), s.start, s.end) for s in spans)
            run.layer[f"q.{label}.wall_s"] = (median(walls[label]), "s")
            run.layer[f"q.{label}.driver_s"] = ((sum(s.seconds for s in spans) - busy) / passes, "s")
            run.layer[f"q.{label}.executor_s"] = (sum(j.run_ms for j in jobs) / 1000.0 / passes, "s")
            run.layer[f"q.{label}.shuffle_bytes"] = (sum(j.shuffle_write_bytes for j in jobs) / passes, "bytes")
            run.layer[f"q.{label}.spill_bytes"] = (sum(j.spill_bytes for j in jobs) / passes, "bytes")
        run.layer["suite.gc_s"] = (sum(j.gc_ms for j in all_jobs) / 1000.0 / passes, "s")
        run.layer["suite.max_task_skew"] = (max_task_skew(all_jobs), "ratio")

    run.finishers.append(finish)


# --- connector ----------------------------------------------------------------

CONNECTOR_STREAMS = 8
CONNECTOR_RECORDS = 5_000
CONNECTOR_RECORD_BYTES = 1024
LIVE_BATCH = 10


@dataclass
class _Conn:
    src: object
    dst: object
    streams: list
    sdf: object


def _chains_by_stream(store) -> dict:
    from pyspark.sql import functions as F

    df = store.records_df()
    return {
        r["stream"]: (r["n"], r["c"])
        for r in df.groupBy("stream").agg(F.count("*").alias("n"), _chain("seq_num").alias("c")).collect()
    }


def _connector_setup(run: Run) -> _Conn:
    """A source store holding a seeded backlog on several streams, an
    empty destination store, and the ``format("s2")`` stream over the
    source."""
    from pyspark.sql import functions as F

    from s2_spark.streaming import register

    spark = run.spark
    streams = [f"src{i}" for i in range(CONNECTOR_STREAMS)]
    src = _new_store(spark, run.fresh_dir("conn-src-"), streams)
    dst = _new_store(spark, run.fresh_dir("conn-dst-"), streams)
    names, bodies = gen.backlog(run.seed, CONNECTOR_RECORDS, CONNECTOR_STREAMS, CONNECTOR_RECORD_BYTES)
    src.bulk_append(_records_df(run, names, bodies))
    register(spark)
    sdf = (
        spark.readStream.format("s2").option("path", src.base_dir).option("basin", BASIN).load()
        .select("basin", "stream", "timestamp", "headers", "body", F.col("seq_num").alias("ingest_order"))
    )
    return _Conn(src, dst, streams, sdf)


def _connector_measure(run: Run, c: _Conn, live_steps: int) -> None:
    """Start the exactly-once ``write_stream_to_store`` sink into the
    destination and drain the backlog, then time single live appends
    from source commit to destination commit; finally compare the
    source and destination chains of every stream."""
    import json

    from s2_spark.model import Record
    from s2_spark.store import ReadStart
    from s2_spark.streaming.sink import write_stream_to_store

    tr = run.tracer
    t0 = time.perf_counter()
    q = write_stream_to_store(c.sdf, c.dst, run.fresh_dir("conn-ckpt-"))
    try:
        q.processAllAvailable()
        drain_s = time.perf_counter() - t0
        live = gen.live_bodies(run.seed, live_steps, LIVE_BATCH, CONNECTOR_RECORD_BYTES)
        e2e = []
        for i, batch in enumerate(live):
            stream = c.streams[i % CONNECTOR_STREAMS]
            t0 = time.perf_counter()
            ack = c.src.append(BASIN, stream, [Record(body=b) for b in batch])
            # long-poll until the destination tail passes the batch's last record
            c.dst.read_wait(BASIN, stream, start=ReadStart(seq_num=ack.end_seq - 1), wait_s=60.0, poll_s=0.005)
            done = c.dst.check_tail(BASIN, stream)[0] >= ack.end_seq
            run.check(done, f"connector live step {i}: not committed downstream within 60 s")
            if done:
                e2e.append(time.perf_counter() - t0)
        q.processAllAvailable()
        progress = [json.loads(p.json) for p in q.recentProgress]
    finally:
        q.stop()

    want, got = _chains_by_stream(c.src), _chains_by_stream(c.dst)
    for s in c.streams:
        run.check(want.get(s) == got.get(s), f"connector {s}: destination chain differs from source")
    run.e2e["pipeline_records_per_s"] = (CONNECTOR_RECORDS / drain_s, "records/s")
    run.printed["pipeline_e2e_p50_ms"] = (_ms(median(e2e)) if e2e else float("nan"), "ms")
    if e2e:
        run.notes.append(_latency_note("pipeline_e2e", e2e))
    for store in (c.src, c.dst):
        shutil.rmtree(os.path.dirname(store.base_dir), ignore_errors=True)
    if not tr.enabled:
        return
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    run.layer["source.batches"] = (len(batches), "count")
    run.layer["source.rows_per_batch"] = (
        median([p["numInputRows"] for p in batches]) if batches else 0, "count"
    )
    # a mean: the per-trigger figures are whole milliseconds, 1 or 2
    run.layer["source.latest_offset_ms"] = (
        sum(p["durationMs"].get("latestOffset", 0) for p in progress) / max(1, len(progress)), "ms"
    )
    run.layer["sink.add_batch_ms"] = (
        median([p["durationMs"].get("addBatch", 0) for p in batches]) if batches else 0, "ms"
    )
    batch_ids = {str(p["batchId"]) for p in batches}

    def finish(idx: JobIndex) -> None:
        jobs = [j for js in idx.by_group.values() for j in js if j.batch_id in batch_ids]
        run.layer["sink.spark_jobs_per_batch"] = (len(jobs) / max(1, len(batch_ids)), "count")

    run.finishers.append(finish)


# --- the whole run ----------------------------------------------------------------


@dataclass(frozen=True)
class Plan:
    """How much measured work each family gets in one run."""

    unary_ops: int
    bulk_reps: int
    analytics_passes: int
    live_steps: int


#: every family's share in every run
MIN_PLAN = Plan(unary_ops=10, bulk_reps=1, analytics_passes=1, live_steps=2)
#: about how long ``MIN_PLAN`` measures on 4 cores
MIN_PLAN_S = 32


def plan(workload: str, seconds: int) -> Plan:
    """``MIN_PLAN``, with the named workload's family given the rest of
    about ``seconds`` of measured work (on 4 cores a unary op takes
    about 1 s, a bulk rep 4.5 s, an analytics pass 7 s and a live step
    1.9 s)."""
    m, extra = MIN_PLAN, max(0, seconds - MIN_PLAN_S)
    return {
        "unary_rw": replace(m, unary_ops=m.unary_ops + extra),
        "bulk_ingest": replace(m, bulk_reps=m.bulk_reps + round(extra / 4.5)),
        "analytics": replace(m, analytics_passes=m.analytics_passes + round(extra / 7)),
        "connector": replace(m, live_steps=m.live_steps + round(extra / 1.9)),
    }[workload]


#: threads that run the analytics oracle pass during set-up
ANALYTICS_SETUP_THREADS = 3


def _setup(run: Run) -> tuple[dict, str, _Conn, _Unary]:
    """Set every family up. The analytics oracle pass, in slices, runs
    side by side with the store warm-up and the connector's and the
    unary store's set-up: set-up is mostly single-threaded planning and
    JIT warm-up, and Spark runs the threads' jobs together."""
    from s2_spark.registry import all_queries

    data = run.fresh_dir("tables-")
    gen.write_analytics(run.seed, ANALYTICS_SCALE, data)
    qs = all_queries()

    def stores() -> tuple[_Conn, _Unary]:
        _store_warm(run)
        u = _Unary(base=run.fresh_dir("unary-"))
        u.store = _new_store(run.spark, u.base, [f"s{i}" for i in range(UNARY_STREAMS)])
        return _connector_setup(run), u

    n = ANALYTICS_SETUP_THREADS
    with ThreadPoolExecutor(n + 1) as pool:
        built = pool.submit(stores)
        checks = [pool.submit(_analytics_check, run, qs, data, HEADLINE[i::n]) for i in range(n)]
        for f in checks:
            f.result()
        conn, u = built.result()
    return qs, data, conn, u


def run_all(run: Run, p: Plan) -> None:
    """Set every family up, then measure each in turn; ``setup_s`` is
    process start until the first timed op."""
    qs, data, conn, u = _setup(run)
    marks = [time.perf_counter()]
    run.setup_s = marks[0] - run.t_start
    _store_measure(run, u, p.unary_ops, p.bulk_reps)
    marks.append(time.perf_counter())
    _analytics_measure(run, qs, data, p.analytics_passes)
    marks.append(time.perf_counter())
    _connector_measure(run, conn, p.live_steps)
    marks.append(time.perf_counter())
    took = [f"{b - a:.1f}" for a, b in zip(marks, marks[1:])]
    run.notes.append(
        f"{p}: measured store {took[0]} s, analytics {took[1]} s, connector {took[2]} s"
    )
