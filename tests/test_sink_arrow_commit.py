"""The driver-side Arrow commit writer (``SparkParquetStreamStore._commit_table``)
and the streaming sink's use of it: a ``pyarrow.Table`` bulk_append gives
the same store as the Spark DataFrame path, a within-limit sink micro-batch
costs two Spark jobs (and the store call none), a batch over the row or
byte limit falls back to the Spark path, and the sink's exactly-once epoch
marker survives a reopen."""

from __future__ import annotations

import datetime as dt
import os
import random
import uuid
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sqlstreamstore_spark.schema import ExpectedVersion
from sqlstreamstore_spark.store import NewStreamMessage, SparkParquetStreamStore
from sqlstreamstore_spark.streaming import sink as sink_mod

SCHEMA = (
    "stream_id string, message_id string, type string, json_data string, "
    "json_metadata string, created_utc timestamp, seq long"
)
COLUMNS = ["stream_id", "message_id", "type", "json_data", "json_metadata",
           "created_utc", "seq"]


def _rows(rng: random.Random, seqs: list, streams: list[str]) -> list[tuple]:
    """One row per seq, stream ids Zipf-skewed over ``streams``, in a
    shuffled (unsorted) order, with some null json_metadata."""
    weights = [1.0 / (r + 1) ** 1.2 for r in range(len(streams))]
    rows = [
        (
            rng.choices(streams, weights=weights)[0],
            str(uuid.UUID(int=rng.getrandbits(128))),
            f"t{rng.randrange(3)}",
            '{"n":%d}' % rng.randrange(1 << 20),
            None if rng.random() < 0.3 else '{"m":%d}' % rng.randrange(9),
            dt.datetime(2024, 1, 1) + dt.timedelta(seconds=rng.randrange(10**6),
                                                   microseconds=rng.randrange(10**6)),
            s,
        )
        for s in seqs
    ]
    rng.shuffle(rows)
    return rows


def _table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[] for _ in COLUMNS]
    return pa.table(
        {name: list(col) for name, col in zip(COLUMNS, cols)},
        schema=pa.schema([
            ("stream_id", pa.string()), ("message_id", pa.string()),
            ("type", pa.string()), ("json_data", pa.string()),
            ("json_metadata", pa.string()), ("created_utc", pa.timestamp("us")),
            ("seq", pa.int64()),
        ]),
    )


def _log_rows(store) -> list[tuple]:
    return [tuple(r) for r in store.log_df().orderBy("position").collect()]


def assert_same_store(a, b) -> None:
    assert _log_rows(a) == _log_rows(b)
    assert a._manifest["streams"] == b._manifest["streams"]
    assert a._manifest["head_position"] == b._manifest["head_position"]


@contextmanager
def count_jobs(sc, counts: list):
    """Run the block in its own job group; append the group's job count."""
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        counts.append(len(sc.statusTracker().getJobIdsForGroup(group)))


def test_arrow_and_spark_bulk_append_give_identical_stores(spark, tmp_path):
    rng = random.Random(11)
    now = lambda: dt.datetime(2024, 5, 1)  # noqa: E731
    arrow = SparkParquetStreamStore(spark, str(tmp_path / "arrow"), get_utc_now=now)
    sparky = SparkParquetStreamStore(spark, str(tmp_path / "spark"), get_utc_now=now)
    for store in (arrow, sparky):
        # an existing stream with a message, and one created empty
        store.append_to_stream(
            "old", ExpectedVersion.NO_STREAM,
            [NewStreamMessage(str(uuid.UUID(int=1)), "t", "{}")],
        )
        store.append_to_stream("empty", ExpectedVersion.NO_STREAM, [])

    def both(rows, allow_existing):
        got = arrow.bulk_append(_table(rows), "seq", allow_existing=allow_existing)
        want = sparky.bulk_append(
            spark.createDataFrame(rows, SCHEMA), "seq", allow_existing=allow_existing
        )
        assert got == want
        assert_same_store(arrow, sparky)

    # new streams only, several per batch
    both(_rows(rng, list(range(0, 300)), [f"new-{i}" for i in range(6)]), False)
    # existing (incl. the empty one) and new streams, Zipf-skewed
    streams = ["old", "empty"] + [f"new-{i}" for i in range(6)] + ["late-a", "late-b"]
    both(_rows(rng, list(range(1000, 1400)), streams), True)
    # a null order value sorts first within its stream on both paths
    rows = _rows(rng, list(range(2000, 2050)), ["old", "late-a"])
    rows.append(("late-a", str(uuid.UUID(int=7)), "t", "{}", None,
                 dt.datetime(2024, 2, 1), None))
    rng.shuffle(rows)
    both(rows, True)

    # the same refusal on existing streams without allow_existing
    bad = _rows(rng, list(range(3000, 3010)), ["new-1", "brand-new"])
    with pytest.raises(ValueError) as e_arrow:
        arrow.bulk_append(_table(bad), "seq")
    with pytest.raises(ValueError) as e_spark:
        sparky.bulk_append(spark.createDataFrame(bad, SCHEMA), "seq")
    assert str(e_arrow.value) == str(e_spark.value)
    assert_same_store(arrow, sparky)

    # an empty table commits nothing
    version, files = arrow.manifest_version, list(arrow._manifest["files"])
    head = arrow.read_head_position()
    assert arrow.bulk_append(_table([]), "seq", allow_existing=True) == (0, head)
    assert arrow.manifest_version == version
    assert arrow._manifest["files"] == files
    # so does a table with a null in a non-null message column
    nulls = _table([("old", None, "t", "{}", None, dt.datetime(2024, 3, 1), 9)])
    with pytest.raises(ValueError, match="message_id must not be null"):
        arrow.bulk_append(nulls, "seq", allow_existing=True)
    assert arrow.manifest_version == version
    assert arrow._manifest["files"] == files

    # reopened handles agree too, and the Arrow files read back JVM-free
    assert_same_store(
        SparkParquetStreamStore(spark, arrow.path),
        SparkParquetStreamStore(spark, sparky.path),
    )
    jvm_free = SparkParquetStreamStore(None, arrow.path)
    for sid in streams:
        got = jvm_free.read_stream_forwards(sid, 0, 10_000).messages
        want = sparky.read_stream_forwards(sid, 0, 10_000).messages
        assert [(m.position, m.stream_version, m.message_id, m.created_utc)
                for m in got] == [(m.position, m.stream_version, m.message_id,
                                   m.created_utc) for m in want], sid


def _write_inputs(src: str, sizes: list[int], seed: int, big: tuple = ()) -> None:
    """One input file per size; files whose index is in ``big`` carry
    5,000-byte json_data."""
    rng = random.Random(seed)
    os.makedirs(src)
    lo = 0
    for i, n in enumerate(sizes):
        rows = _rows(rng, list(range(lo, lo + n)), [f"d{k}" for k in range(5)])
        if i in big:
            rows = [r[:3] + ('{"p":"%s"}' % ("x" * 4992),) + r[4:] for r in rows]
        pq.write_table(_table(rows), os.path.join(src, f"part-{i:04d}.parquet"))
        lo += n


def _run_sink(spark, store, src: str, query_name: str) -> None:
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    q = sink_mod.store_sink(store, stream, order_col="seq", query_name=query_name)
    q.awaitTermination(300)
    assert q.exception() is None


def test_sink_micro_batch_costs_two_jobs_and_arrow_bulk_append_none(spark, tmp_path):
    src = str(tmp_path / "in")
    _write_inputs(src, [40], seed=3)
    batch = spark.read.schema(SCHEMA).parquet(src)
    store = SparkParquetStreamStore(spark, str(tmp_path / "store"))
    handle = sink_mod._sink_handler(store, "seq", "q")
    sc = spark.sparkContext
    jobs: list[int] = []
    with count_jobs(sc, jobs):
        handle(batch, 0)
    with count_jobs(sc, jobs):
        handle(batch, 0)  # replay of the committed epoch
    tbl = pq.read_table(os.path.join(src, "part-0000.parquet"))
    with count_jobs(sc, jobs):
        store.bulk_append(tbl, "seq", allow_existing=True)
    assert jobs == [2, 0, 0]  # sizes + toArrow; replay; Arrow commit
    assert store.read_head_position() == 79
    assert store._manifest["sink_epochs"] == {"q": 0}


def _spy_inputs(store) -> list[str]:
    """Record which path each bulk_append call of ``store`` takes."""
    inputs: list[str] = []
    real = store.bulk_append

    def spy(new_messages, *a, **k):
        inputs.append("arrow" if isinstance(new_messages, pa.Table) else "spark")
        return real(new_messages, *a, **k)

    store.bulk_append = spy
    return inputs


def test_over_limit_batch_takes_the_spark_path(spark, tmp_path, monkeypatch):
    src = str(tmp_path / "in")
    _write_inputs(src, [4, 30, 5, 12], seed=8)
    reference = SparkParquetStreamStore(spark, str(tmp_path / "arrow"))
    _run_sink(spark, reference, src, "q")

    monkeypatch.setattr(sink_mod, "ARROW_COMMIT_MAX_ROWS", 5)
    store = SparkParquetStreamStore(spark, str(tmp_path / "mixed"))
    inputs = _spy_inputs(store)
    _run_sink(spark, store, src, "q")
    assert inputs == ["arrow", "spark", "arrow", "spark"]
    assert_same_store(store, reference)
    assert store._manifest["sink_epochs"] == reference._manifest["sink_epochs"] == {"q": 3}


def test_large_messages_take_the_spark_path(spark, tmp_path, monkeypatch):
    """A batch of few rows but large messages stays off the driver."""
    src = str(tmp_path / "in")
    _write_inputs(src, [6, 3, 6], seed=9, big=(1,))
    reference = SparkParquetStreamStore(spark, str(tmp_path / "arrow"))
    reference_inputs = _spy_inputs(reference)
    _run_sink(spark, reference, src, "q")
    assert reference_inputs == ["arrow"] * 3

    # 3 rows of 5,000-byte json_data exceed 10,000 bytes; 6 small rows don't
    monkeypatch.setattr(sink_mod, "ARROW_COMMIT_MAX_BYTES", 10_000)
    store = SparkParquetStreamStore(spark, str(tmp_path / "mixed"))
    inputs = _spy_inputs(store)
    _run_sink(spark, store, src, "q")
    assert inputs == ["arrow", "spark", "arrow"]
    assert_same_store(store, reference)
    assert store._manifest["sink_epochs"] == {"q": 2}


def test_byte_budget_stays_under_max_result_size(monkeypatch):
    monkeypatch.setattr(sink_mod, "ARROW_COMMIT_MAX_BYTES", 64 << 20)
    assert sink_mod._byte_budget(0) == 64 << 20  # maxResultSize unlimited
    assert sink_mod._byte_budget(1 << 30) == 64 << 20  # Spark's 1g default
    assert sink_mod._byte_budget(32 << 20) == 8 << 20


@pytest.mark.parametrize("sink_name", ["store_sink", "deduped_store_sink"])
def test_sink_epoch_marker_survives_reopen(spark, tmp_path, sink_name):
    """Three epochs, then a crash between the store commit and Spark's
    commit log: a fresh handle must hold the marker, so the restarted
    query's replay of the last epoch appends nothing."""
    src = str(tmp_path / "in")
    _write_inputs(src, [6, 7, 8], seed=5)
    path = str(tmp_path / "store")
    run = getattr(sink_mod, sink_name)

    def start(store):
        stream = spark.readStream.schema(SCHEMA).option(
            "maxFilesPerTrigger", 1).parquet(src)
        q = run(store, stream, order_col="seq", query_name="q")
        q.awaitTermination(300)
        assert q.exception() is None

    start(SparkParquetStreamStore(spark, path))
    before = _log_rows(SparkParquetStreamStore(spark, path))
    assert len(before) == 21

    reopened = SparkParquetStreamStore(None, path)
    assert reopened.manifest_version == 3
    assert reopened._manifest["sink_epochs"] == {"q": 2}

    commits = os.path.join(path, "checkpoints", "q", "commits")
    for fn in ("2", ".2.crc"):
        if os.path.exists(os.path.join(commits, fn)):
            os.remove(os.path.join(commits, fn))
    fresh = SparkParquetStreamStore(spark, path)
    start(fresh)  # Spark re-runs epoch 2 from its offset log
    assert _log_rows(fresh) == before
    assert _log_rows(SparkParquetStreamStore(spark, path)) == before
