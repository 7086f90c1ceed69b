"""sink_ingest: Spark Structured Streaming ingestion through ``store_sink``.

Set-up starts Spark at local[k] (k < nproc) and runs warm-up micro-batches
that create every device stream. The timed part is one ``readStream``
over seeded input Parquet files with ``maxFilesPerTrigger=1`` and the
sink's default ``availableNow`` trigger: each file becomes one micro-batch
and one ``bulk_append(allow_existing=True)`` into streams that already
exist. Stream ids are Zipf-skewed over the devices; each message carries
about 200 B of JSON. An op is one micro-batch; throughput is rows
committed per second; latency is the micro-batch's ``triggerExecution``.
"""

from __future__ import annotations

import datetime as dt
import itertools
import os
import time
from contextlib import contextmanager

import harness

SIZES = {
    "full": {"devices": 1000, "rows_per_file": 3000, "warmup_files": 1, "timed_files": 20},
    "tiny": {"devices": 40, "rows_per_file": 200, "warmup_files": 1, "timed_files": 3},
}
#: Nominal length of one round in seconds; a run makes
#: round(--seconds / ROUND_S) rounds.
ROUND_S = 60.0
ZIPF_S = 1.1
SCHEMA = (
    "stream_id string, message_id string, type string, json_data string, "
    "json_metadata string, created_utc timestamp, seq long"
)
DURATIONS = {
    "sink.trigger_ms": "triggerExecution",
    "sink.add_batch_ms": "addBatch",
    "sink.query_planning_ms": "queryPlanning",
    "sink.get_batch_ms": "getBatch",
    "sink.wal_commit_ms": "walCommit",
    "sink.commit_offsets_ms": "commitOffsets",
}


def write_inputs(seed: int, cfg: dict, warm_dir: str, timed_dir: str) -> tuple[int, int, int]:
    """Seeded input files. Warm-up file 0 holds one message per device,
    so every timed commit appends to existing streams. Returns (warm-up
    rows, timed rows, user bytes)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    g = harness.Gen(f"sink-{seed}")
    devices = [f"dev-{i:04d}" for i in range(cfg["devices"])]
    cum = list(itertools.accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(len(devices))))
    seq = itertools.count()
    base = dt.datetime(2024, 1, 1)
    user = 0

    def write(path: str, sids: list[str]) -> int:
        nonlocal user
        seqs = [next(seq) for _ in sids]
        data = [g.payload(150, 250) for _ in sids]
        user += sum(len(d.encode()) for d in data)
        pq.write_table(pa.table({
            "stream_id": sids,
            "message_id": [g.message_id() for _ in sids],
            "type": ["reading"] * len(sids),
            "json_data": data,
            "json_metadata": [""] * len(sids),
            "created_utc": [base + dt.timedelta(milliseconds=s) for s in seqs],
            "seq": seqs,
        }), path)
        return len(sids)

    os.makedirs(warm_dir)
    os.makedirs(timed_dir)
    warm = write(os.path.join(warm_dir, "part-0000.parquet"), devices)
    for f in range(cfg["warmup_files"]):
        warm += write(os.path.join(warm_dir, f"part-{f + 1:04d}.parquet"),
                      g.rng.choices(devices, cum_weights=cum, k=cfg["rows_per_file"]))
    timed = 0
    for f in range(cfg["timed_files"]):
        timed += write(os.path.join(timed_dir, f"part-{f:04d}.parquet"),
                       g.rng.choices(devices, cum_weights=cum, k=cfg["rows_per_file"]))
    return warm, timed, user


def check_log(spark, store, input_dirs: list[str], n_rows: int) -> list[str]:
    """The log holds exactly the input rows: count, dense positions,
    distinct ids, every input id under its own stream, and per-stream
    versions contiguous in input order."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    errors = []
    log = store.log_df()
    n, n_pos, lo, hi, n_ids = log.agg(
        F.count("*"), F.countDistinct("position"), F.min("position"),
        F.max("position"), F.countDistinct("message_id"),
    ).first()
    if n != n_rows:
        errors.append(f"log_df() count {n} != {n_rows} input rows")
    if (n_pos, lo, hi) != (n, 0, n - 1):
        errors.append(f"positions not dense: {n_pos} distinct in [{lo}, {hi}]")
    if n_ids != n:
        errors.append(f"{n - n_ids} duplicate message ids")
    inp = spark.read.schema(SCHEMA).parquet(*input_dirs).select(
        "message_id", F.col("stream_id").alias("in_stream"), "seq")
    w = Window.partitionBy("stream_id").orderBy("stream_version")
    joined = (
        log.join(inp, "message_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("prev_seq", F.lag("seq").over(w))
    )
    matched, bad = joined.agg(
        F.count("*"),
        F.sum(F.when(
            (F.col("stream_id") != F.col("in_stream"))
            | (F.col("stream_version") != F.col("rn") - 1)
            | (F.col("prev_seq") >= F.col("seq")), 1).otherwise(0)),
    ).first()
    if matched != n_rows:
        errors.append(f"{matched} of {n_rows} input ids found in the log")
    if bad:
        errors.append(f"{bad} rows out of stream, version or input order")
    return errors


def run_round(args) -> dict:
    cfg = SIZES[args.size]
    warm_dir = os.path.join(args.workdir, "input-warmup")
    timed_dir = os.path.join(args.workdir, "input-timed")
    n_warm, n_timed, user = write_inputs(args.seed, cfg, warm_dir, timed_dir)
    store_path = os.path.join(args.workdir, "store")
    tracer = harness.Tracer() if args.trace else harness.NullTracer()

    t0 = time.perf_counter()
    from sqlstreamstore_spark.session import get_spark
    from sqlstreamstore_spark.store import SparkParquetStreamStore
    from sqlstreamstore_spark.streaming import store_sink

    ts = time.perf_counter()
    spark = get_spark(app_name="streambench-sink")
    spark_start_s = time.perf_counter() - ts
    sc = spark.sparkContext
    store = SparkParquetStreamStore(spark, store_path)

    def stream(path: str):
        return spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(path)

    tw = time.perf_counter()
    store_sink(store, stream(warm_dir), "seq", query_name="warmup").awaitTermination()
    warmup_s = time.perf_counter() - tw
    setup_s = time.perf_counter() - t0

    commits: list[tuple[int, int]] = []
    progress: list[dict] = []
    handle = store
    listener = None
    if args.trace:
        handle = harness.TimedProxy(store, tracer, around=job_group(sc, commits))
        listener = progress_listener(progress)
        spark.streams.addListener(listener)
    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    jvm0, drv0 = harness.proc_cpu_s(jvm_pid), harness.proc_cpu_s()
    t1 = time.perf_counter()
    q = store_sink(handle, stream(timed_dir), "seq", query_name="timed")
    q.awaitTermination()
    wall = time.perf_counter() - t1
    jvm_cpu, drv_cpu = harness.proc_cpu_s(jvm_pid) - jvm0, harness.proc_cpu_s() - drv0
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    if listener is not None:
        deadline = time.monotonic() + 30
        while len([p for p in progress if p["numInputRows"] > 0]) < len(batches) \
                and time.monotonic() < deadline:
            time.sleep(0.05)
        spark.streams.removeListener(listener)

    errors = []
    if q.exception() is not None:
        errors.append(f"timed query failed: {q.exception()}")
    if len(batches) != cfg["timed_files"]:
        errors.append(f"{len(batches)} micro-batches for {cfg['timed_files']} files")
    errors += check_log(spark, store, [warm_dir, timed_dir], n_warm + n_timed)
    latencies = [float(p["durationMs"]["triggerExecution"]) for p in batches]
    lsum = harness.summarize(latencies)
    res = {
        "e2e": {
            "setup_s": setup_s,
            "throughput_per_s": n_timed / wall,
            "latency_p50_ms": lsum["p50"],
            "latency_tail_ms": lsum["tail"],
            "disk_bytes_per_user_byte": harness.dir_bytes(store_path) / user,
            "peak_rss_mb": harness.proc_hwm_mb(),
        },
        "latency": lsum,
        "attempted": cfg["timed_files"],
        "failed": len(errors),
        "errors": errors,
        "info": {"spark_master": sc.master},
    }
    if args.trace:
        timed = [p for p in progress if p["numInputRows"] > 0]
        layers = {
            name: harness.median([float(p["durationMs"].get(key, 0)) for p in timed])
            for name, key in DURATIONS.items()
        }
        layers["store.bulk_append_ms"] = harness.median(tracer.durations("store.bulk_append"))
        layers["spark.jobs_per_commit"] = harness.median([c[0] for c in commits])
        layers["spark.tasks_per_commit"] = harness.median([c[1] for c in commits])
        layers["jvm.cpu_s"] = jvm_cpu
        layers["driver.cpu_s"] = drv_cpu
        layers["setup.spark_start_s"] = spark_start_s
        layers["setup.warmup_s"] = warmup_s
        layers["store.data_files_end"] = harness.count_files(os.path.join(store_path, "data"))
        layers["store.history_files_end"] = harness.count_files(
            os.path.join(store_path, "manifest.history"))
        res["layers"] = layers
        res["tracer"] = tracer
    spark.stop()
    return res


def job_group(sc, commits: list):
    """``around`` hook for the store proxy: runs each call in its own
    Spark job group, then counts the group's jobs and completed tasks
    with the status tracker. The stream's own group is restored."""
    counter = itertools.count()
    keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

    @contextmanager
    def around(_name: str):
        group = f"streambench-commit-{next(counter)}"
        prev = [sc.getLocalProperty(k) for k in keys]
        sc.setJobGroup(group, "streambench commit")
        try:
            yield
        finally:
            for k, v in zip(keys, prev):
                sc.setLocalProperty(k, v)
            tracker = sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(group)
            tasks = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    stage = tracker.getStageInfo(sid)
                    tasks += stage.numCompletedTasks if stage else 0
            commits.append((len(jobs), tasks))

    return around


def progress_listener(sink: list):
    """A StreamingQueryListener appending every progress of the timed
    query (as a dict) to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.name == "timed":
                sink.append({"numInputRows": p.numInputRows, "durationMs": dict(p.durationMs)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()
