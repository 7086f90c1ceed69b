"""The Parquet store's per-file footer index: every pruned read must equal
a brute-force scan of ALL manifest files, a commit must cost exactly one
footer read, a stream read must open only the files that hold the
stream, and concurrent compactions must never share output file names."""

from __future__ import annotations

import os
import random
import threading
import uuid

import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

from sqlstreamstore_spark.exceptions import ConcurrentWriteError
from sqlstreamstore_spark.schema import ExpectedVersion, arrow_messages_schema
from sqlstreamstore_spark.store import NewStreamMessage, SparkParquetStreamStore


def _msg(rng: random.Random) -> NewStreamMessage:
    n = rng.randrange(1 << 30)
    return NewStreamMessage(
        str(uuid.UUID(int=rng.getrandbits(128))), f"t{n % 3}",
        '{"n":%d,"pad":"%s"}' % (n, "x" * rng.randrange(40)),
    )


def _all_rows(store) -> list[dict]:
    """Every row of every manifest file, read with no pruning at all."""
    files = [os.path.join(store._data_dir, fn) for fn in store._manifest["files"]]
    if not files:
        return []
    return ds.dataset(
        files, format="parquet", schema=arrow_messages_schema()
    ).to_table().to_pylist()


def _live(store, rows: list[dict]) -> list[dict]:
    m = store._manifest
    out = []
    for r in rows:
        cut = m["deleted_streams"].get(r["stream_id"])
        if cut is not None and r["position"] <= cut:
            continue
        if r["message_id"] in m["deleted_messages"].get(r["stream_id"], []):
            continue
        out.append(r)
    return out


def _key(m) -> tuple:
    get = m.get if isinstance(m, dict) else lambda k: getattr(m, k)
    return tuple(get(k) for k in (
        "position", "stream_id", "stream_version", "message_id", "type",
        "json_data", "json_metadata", "created_utc",
    ))


def assert_pruned_reads_match_brute_force(store, rng: random.Random) -> None:
    rows = _all_rows(store)
    live = _live(store, rows)
    m = store._manifest
    streams = sorted(
        {r["stream_id"] for r in rows} | set(m["streams"])
        | set(m["deleted_streams"]) | {"never-written"}
    )
    for sid in streams:
        srows = sorted(
            (r for r in live if r["stream_id"] == sid),
            key=lambda r: r["stream_version"],
        )
        store._ids_cache.pop(sid, None)  # force the cold (scanning) load
        assert store._stream_stored_ids(sid) == [r["message_id"] for r in srows], sid
        top = srows[-1]["stream_version"] if srows else 0
        for frm in {0, rng.randint(0, top + 1), top, top + 1}:
            for count in (1, 3, 1000):
                fwd = [r for r in srows if r["stream_version"] >= frm][:count]
                bwd = [r for r in reversed(srows) if r["stream_version"] <= frm][:count]
                got_f = store._read_stream_slice(sid, frm, count, True)
                got_b = store._read_stream_slice(sid, frm, count, False)
                assert [_key(x) for x in got_f] == [_key(r) for r in fwd], (sid, frm, count)
                assert [_key(x) for x in got_b] == [_key(r) for r in bwd], (sid, frm, count)
        live_json = {r["message_id"]: r["json_data"] for r in srows}
        for mid in {r["message_id"] for r in rows if r["stream_id"] == sid}:
            assert store._point_json_data(sid, mid) == live_json.get(mid), (sid, mid)
    by_pos = sorted(live, key=lambda r: r["position"])
    head = m["head_position"]
    for frm in {0, rng.randint(0, max(head, 0)), head, head + 3}:
        for count in (1, 7, 40, 10_000):
            fwd = [r for r in by_pos if r["position"] >= frm][:count]
            bwd = [r for r in reversed(by_pos) if r["position"] <= frm][:count]
            got_f = store._read_all_slice(frm, count, True)
            got_b = store._read_all_slice(frm, count, False)
            assert [_key(x) for x in got_f] == [_key(r) for r in fwd], (frm, count)
            assert [_key(x) for x in got_b] == [_key(r) for r in bwd], (frm, count)


def _random_appends(store, rng, streams, n_ops) -> None:
    for _ in range(n_ops):
        store.append_to_stream(
            rng.choice(streams), ExpectedVersion.ANY,
            [_msg(rng) for _ in range(rng.randint(1, 3))],
        )


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_pruned_reads_equal_brute_force_sparkless(tmp_path, seed):
    rng = random.Random(seed)
    path = str(tmp_path / "store")
    store = SparkParquetStreamStore(None, path)
    streams = [f"s-{i}" for i in range(6)]
    _random_appends(store, rng, streams, 40)
    assert_pruned_reads_match_brute_force(store, rng)
    mid_version = store.manifest_version

    # delete a stream, then re-create it: old-incarnation files fall
    # below the cutoff and must stay invisible
    store.delete_stream("s-0")
    _random_appends(store, rng, ["s-0", "s-1"], 8)
    # per-message deletes
    for sid in ("s-1", "s-2"):
        ids = store._stream_stored_ids(sid)
        store.delete_message(sid, rng.choice(ids))
    # max-count purge
    store.set_stream_metadata("s-3", max_count=2)
    _random_appends(store, rng, ["s-3"], 3)
    assert_pruned_reads_match_brute_force(store, rng)

    # a second handle's commits, seen through refresh()
    other = SparkParquetStreamStore(None, path)
    _random_appends(other, rng, streams + ["s-new"], 12)
    other.delete_stream("s-4")
    store.refresh()
    assert store.manifest_version == other.manifest_version
    assert_pruned_reads_match_brute_force(store, rng)

    # time travel: a snapshot reads only its own version's files
    snap = store.as_of(mid_version)
    assert_pruned_reads_match_brute_force(snap, rng)


def test_files_without_statistics_are_never_pruned(tmp_path):
    rng = random.Random(7)
    path = str(tmp_path / "nostats")
    store = SparkParquetStreamStore(None, path)
    _random_appends(store, rng, ["a", "b", "c"], 15)
    # rewrite some commit files the way a writer without statistics
    # would: same rows, no min/max in the footer
    for fn in store._manifest["files"][::3]:
        p = os.path.join(store._data_dir, fn)
        pq.write_table(pq.read_table(p), p, write_statistics=False)
    fresh = SparkParquetStreamStore(None, path)
    entries = fresh._file_index()
    assert any(e.position_min is None and e.stream_min is None for e in entries)
    assert_pruned_reads_match_brute_force(fresh, rng)


def test_pruned_reads_equal_brute_force_bulk_and_by_stream_compaction(spark, tmp_path):
    import datetime as dt

    rng = random.Random(11)
    store = SparkParquetStreamStore(spark, str(tmp_path / "bulk"))
    _random_appends(store, rng, ["tx-a", "tx-b"], 6)
    rows = [
        (f"dev-{rng.randrange(12):02d}", str(uuid.UUID(int=rng.getrandbits(128))),
         "reading", '{"v":%d}' % i, None, dt.datetime(2024, 1, 1), i)
        for i in range(300)
    ]
    df = spark.createDataFrame(
        rows,
        "stream_id string, message_id string, type string, json_data string, "
        "json_metadata string, created_utc timestamp, seq long",
    ).repartition(3)
    store.bulk_append(df, "seq")
    # multi-stream files: a stream's rows spread over several files
    assert any(
        e.stream_min != e.stream_max for e in store._file_index()
    )
    _random_appends(store, rng, ["tx-a", "dev-03"], 6)
    assert_pruned_reads_match_brute_force(store, rng)

    store.delete_message("dev-05", store._stream_stored_ids("dev-05")[0])
    store.compact(target_files=4, layout="by_stream")
    # by_stream files overlap in position: the kth-position bound decides
    assert len(store._manifest["files"]) > 1
    _random_appends(store, rng, ["dev-01", "tx-b"], 6)
    store.delete_stream("dev-07")
    assert_pruned_reads_match_brute_force(store, rng)


def test_one_footer_read_per_commit_and_stream_reads_open_only_their_files(
    tmp_path, monkeypatch
):
    rng = random.Random(3)
    store = SparkParquetStreamStore(None, str(tmp_path / "count"))
    streams = ["s0", "s1", "s2", "s3"]
    _random_appends(store, rng, streams, 16)
    store.read_all_forwards(0, 10)  # the index now covers every file

    footer_reads: list[str] = []
    real_md = pq.read_metadata

    def counting_md(where, *a, **k):
        footer_reads.append(str(where))
        return real_md(where, *a, **k)

    opened: list[set[str]] = []
    real_dataset = ds.dataset

    def counting_dataset(source, *a, **k):
        opened.append({os.path.basename(str(p)) for p in source})
        return real_dataset(source, *a, **k)

    def files_of(sid: str) -> set[str]:
        return {
            fn for fn in store._manifest["files"]
            if sid in pq.read_table(
                os.path.join(store._data_dir, fn), columns=["stream_id"]
            ).column("stream_id").to_pylist()
        }

    expected = {sid: files_of(sid) for sid in streams}
    monkeypatch.setattr(pq, "read_metadata", counting_md)
    monkeypatch.setattr(ds, "dataset", counting_dataset)

    # each commit costs exactly one footer read, whatever reads follow
    for n in range(1, 4):
        store.append_to_stream("s1", ExpectedVersion.ANY, [_msg(rng)])
        store.read_all_backwards(-1, 5)
        store.read_stream_forwards("s2", 0, 100)
        store.read_all_forwards(0, 1000)
        assert len(footer_reads) == n
    assert footer_reads[-1].endswith(store._manifest["files"][-1])
    monkeypatch.setattr(pq, "read_metadata", real_md)
    expected["s1"] = files_of("s1")

    # a stream read opens only that stream's files
    opened.clear()
    store.read_stream_forwards("s2", 0, 100)
    assert opened == [expected["s2"]]

    # a cold id load (behind an append) opens only that stream's files
    store._ids_cache.clear()
    opened.clear()
    head = store.read_stream_head_version("s3")
    store.append_to_stream("s3", head, [_msg(rng)])
    assert opened and set().union(*opened) == expected["s3"]

    # a re-created stream's reads skip its deleted incarnation's files
    store.delete_stream("s0")
    store.append_to_stream("s0", ExpectedVersion.NO_STREAM, [_msg(rng)])
    opened.clear()
    page = store.read_stream_forwards("s0", 0, 100)
    assert len(page.messages) == 1
    assert opened == [{store._manifest["files"][-1]}]


def test_concurrent_compactions_at_one_version_keep_the_winners_files(spark, tmp_path):
    """Both handles compact from the same manifest version. The loser
    renames its outputs into data/ after the winner's renames but before
    the winner's manifest save; with shared names the winner's manifest
    would point at the loser's bytes (rows lost or duplicated)."""
    rng = random.Random(5)
    path = str(tmp_path / "cc")
    writer = SparkParquetStreamStore(None, path)
    _random_appends(writer, rng, [f"s{i}" for i in range(5)], 30)
    winner = SparkParquetStreamStore(spark, path)
    loser = SparkParquetStreamStore(spark, path)

    def rows_of(store):
        return sorted(
            (r.stream_id, r.stream_version, r.message_id, r.position)
            for r in store.log_df().collect()
        )

    expected = rows_of(winner)
    loser_renamed = threading.Event()
    winner_saved = threading.Event()
    loser_errors: list[BaseException] = []
    real_winner_save = winner._save_manifest
    real_loser_save = loser._save_manifest

    def loser_save(*a, **k):
        loser_renamed.set()
        assert winner_saved.wait(timeout=600)
        return real_loser_save(*a, **k)

    def run_loser():
        try:
            loser.compact(target_files=3)
        except BaseException as e:  # noqa: BLE001 — asserted below
            loser_errors.append(e)
        finally:
            loser_renamed.set()

    def winner_save(*a, **k):
        t = threading.Thread(target=run_loser)
        t.start()
        assert loser_renamed.wait(timeout=600)
        try:
            return real_winner_save(*a, **k)
        finally:
            winner_saved.set()
            t.join(timeout=600)

    winner._save_manifest = winner_save
    loser._save_manifest = loser_save
    winner.compact(target_files=2)

    assert len(loser_errors) == 1
    assert isinstance(loser_errors[0], ConcurrentWriteError)
    assert rows_of(winner) == expected
    assert rows_of(SparkParquetStreamStore(spark, path)) == expected
    assert_pruned_reads_match_brute_force(SparkParquetStreamStore(None, path), rng)
    # neither the winner nor the CAS loser leaves its temp directory
    assert [d for d in os.listdir(path) if d.startswith("compact-")] == []
