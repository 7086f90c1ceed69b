"""Self-tests of the benchmark harness. Run from the repository root:

    python3 -m pytest streambench -q

The smoke tests run every workload at its tiny size through the same
command the benchmark uses (the sink one starts Spark twice, ~1 min).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import subprocess
import sys
import uuid

import pytest

import harness
import run

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


# --------------------------------------------------------------- tail rule


@pytest.mark.parametrize("n, pct, beyond", [
    (20, 50.0, 10),
    (100, 90.0, 10),
    (150, 100 * 140 / 150, 10),
    (1000, 99.0, 10),
    (20000, 99.9, 20),
])
def test_tail_percentile_examples(n, pct, beyond):
    assert harness.tail_percentile(n) == (pytest.approx(pct), beyond)


def test_tail_percentile_is_the_highest_with_ten_beyond():
    for n in range(2 * harness.MIN_BEYOND, 5000):
        pct, beyond = harness.tail_percentile(n)
        assert beyond >= harness.MIN_BEYOND
        if pct < harness.MAX_TAIL_PCT:
            # one more rank up leaves fewer than MIN_BEYOND beyond it
            assert n - harness.nearest_rank(n, pct) == harness.MIN_BEYOND


def test_too_few_samples_fall_back_to_the_maximum():
    assert harness.tail_percentile(19) == (100.0, 0)
    s = harness.summarize([5.0, 1.0, 3.0])
    assert (s["p50"], s["tail"], s["tail_pct"], s["beyond"]) == (3.0, 5.0, 100.0, 0)


def test_summarize_uses_nearest_rank():
    s = harness.summarize([float(v) for v in range(100, 0, -1)])
    assert (s["n"], s["p50"], s["tail"], s["tail_pct"], s["beyond"]) == (100, 50.0, 90.0, 90.0, 10)


def test_windowed_rate_is_the_median_window_rate():
    times = [0.01 * (i + 1) for i in range(100)]  # 100 events/s from 0
    assert harness.windowed_rate(0.0, times) == pytest.approx(100.0)
    stalled = [t + (1.0 if t > 0.05 else 0.0) for t in times]  # one 1-s stall
    assert harness.windowed_rate(0.0, stalled) == pytest.approx(100.0)
    assert len(stalled) / stalled[-1] < 60


# ------------------------------------------------------------ disk bytes


def test_dir_bytes_counts_every_file_below(tmp_path):
    (tmp_path / "a").write_bytes(b"x" * 10)
    (tmp_path / "sub" / "deeper").mkdir(parents=True)
    (tmp_path / "sub" / "b").write_bytes(b"y" * 100)
    (tmp_path / "sub" / "deeper" / "c").write_bytes(b"")
    assert harness.dir_bytes(str(tmp_path)) == 110
    assert harness.count_files(str(tmp_path / "sub")) == 2
    assert harness.count_files(str(tmp_path / "missing")) == 0


def test_user_bytes_are_utf8_data_plus_metadata():
    assert harness.user_bytes('{"a":"é"}', None) == 10
    assert harness.user_bytes("{}", '{"m":1}') == 9
    assert harness.user_bytes("{}", "") == 2


def test_store_disk_ratio_counts_data_and_manifest(tmp_path):
    from sqlstreamstore_spark.schema import ExpectedVersion
    from sqlstreamstore_spark.store import NewStreamMessage, SparkParquetStreamStore

    store = SparkParquetStreamStore(None, str(tmp_path / "store"))
    store.append_to_stream("s", ExpectedVersion.NO_STREAM,
                           [NewStreamMessage(str(uuid.uuid4()), "t", '{"x":1}', "")])
    files = [os.path.join(r, f) for r, _d, fs in os.walk(tmp_path / "store") for f in fs]
    assert any("data" in f for f in files) and any("manifest" in f for f in files)
    assert harness.dir_bytes(str(tmp_path / "store")) == sum(os.path.getsize(f) for f in files)


# ----------------------------------------------------------------- proxy


class _Target:
    def __init__(self):
        self.path = "/somewhere"
        self._manifest = {"version": 3}
        self.hook = lambda: None

    def method(self, a, b=2):
        return (a, b, self)

    def boom(self):
        raise KeyError("boom")


def test_proxy_passes_calls_returns_and_attributes_through():
    target, tracer = _Target(), harness.Tracer()
    proxy = harness.TimedProxy(target, tracer, prefix="t")
    assert proxy.method(1, b=5) == (1, 5, target)
    assert proxy.path == "/somewhere"
    assert proxy._manifest is target._manifest
    assert proxy.hook is target.hook
    proxy.path = "/elsewhere"
    assert target.path == "/elsewhere"
    with pytest.raises(KeyError, match="boom"):
        proxy.boom()
    assert [s[2] for s in tracer.spans] == ["t.method", "t.boom"]


def test_proxy_around_a_real_store_changes_nothing(tmp_path):
    from sqlstreamstore_spark.exceptions import WrongExpectedVersionError
    from sqlstreamstore_spark.schema import ExpectedVersion
    from sqlstreamstore_spark.store import NewStreamMessage, SparkParquetStreamStore

    store = SparkParquetStreamStore(None, str(tmp_path / "store"))
    tracer = harness.Tracer()
    calls = []

    def around(name):
        calls.append(name)
        return contextlib.nullcontext()

    proxy = harness.TimedProxy(store, tracer, around=around)
    msgs = [NewStreamMessage(str(uuid.UUID(int=i)), "t", "{}") for i in range(3)]
    r = proxy.append_to_stream("s", ExpectedVersion.NO_STREAM, msgs)
    assert (r.current_version, r.current_position) == (2, 2)
    page = proxy.read_stream_forwards("s", 0, 10)
    direct = store.read_stream_forwards("s", 0, 10)
    assert [m.message_id for m in page.messages] == [m.message_id for m in direct.messages]
    assert proxy.read_head_position() == 2
    assert proxy.on_appended is store.on_appended and hasattr(proxy.on_appended, "add")
    assert proxy._manifest is store._manifest and proxy.path == store.path
    with pytest.raises(WrongExpectedVersionError):
        proxy.append_to_stream("s", 0, [NewStreamMessage(str(uuid.UUID(int=9)), "t", "{}")])
    assert calls == ["append_to_stream", "read_stream_forwards", "read_head_position",
                     "append_to_stream"]
    rows = {s[2]: s[6] for s in tracer.spans}
    assert rows["store.read_stream_forwards"] == 3


def test_self_times_subtract_direct_children():
    spans = [
        (1, None, "op", None, 0.0, 10.0, None),
        (2, 1, "read", None, 1.0, 4.0, None),
        (3, 1, "append", None, 5.0, 9.0, None),
        (4, 3, "write", None, 6.0, 7.0, None),
    ]
    assert harness.self_times(spans) == {"op": 3.0, "read": 3.0, "append": 3.0, "write": 1.0}


def test_tracer_nests_spans_and_inherits_the_op():
    tracer = harness.Tracer()
    with tracer.span("outer", op=7):
        with tracer.span("inner") as rec:
            rec["rows"] = 4
    inner, outer = tracer.spans
    assert inner[1] == outer[0] and inner[3] == 7 and inner[6] == 4
    assert tracer.local.last[0] == "outer"


# ------------------------------------------------------ disturbed rounds


def test_disturbed_rounds_are_left_out_of_the_medians():
    def rnd(value, disturbed):
        return {"e2e": {name: value for name, _u in run.END_TO_END}, "disturbed": disturbed}

    rounds = [rnd(1.0, False), rnd(9.0, True), rnd(3.0, False)]
    assert set(run.e2e_medians(rounds).values()) == {2.0}
    assert set(run.e2e_medians([rnd(4.0, True), rnd(6.0, True)]).values()) == {5.0}


def test_steal_share_reads_proc_stat():
    stolen, total = run.cpu_ticks()
    assert 0 <= stolen <= total
    assert run.steal_share((10, 100), (15, 200)) == 0.05
    assert run.steal_share((10, 100), (10, 100)) == 0.0


# ------------------------------------------------- metric list and smoke


def test_metric_lists_match_benchmark_json():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("no BENCHMARK.json beside the benchmark")
    with open(path) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.PER_LAYER
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS)


def _bench(*args, cwd=ROOT):
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "streambench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_tiny_traced_run_of_every_workload(workload):
    code, lines = _bench("--workload", workload, "--seed", "7", "--seconds", "1",
                         "--trace", "1", "--size", "tiny")
    assert code == 0, lines[-20:]
    result = json.loads(lines[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert list(result["metrics"]) == [name for name, _u in run.PER_LAYER]
    assert any(line.startswith("trace_overhead latency_p50_ms") for line in lines)


def test_tiny_untraced_run_reports_end_to_end_metrics():
    code, lines = _bench("--workload", "http_commands", "--seed", "3", "--seconds", "1",
                         "--trace", "0", "--size", "tiny")
    assert code == 0, lines[-20:]
    metrics = json.loads(lines[-1])["metrics"]
    assert {k: v["unit"] for k, v in metrics.items()} == dict(run.END_TO_END)
    assert all(v["value"] > 0 for v in metrics.values())


def test_fails_without_a_result_when_the_program_is_missing(tmp_path):
    shutil.copytree(HERE, tmp_path / "streambench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, lines = _bench("--workload", "feed_followers", "--seed", "1", "--seconds", "1",
                         "--trace", "0", "--size", "tiny", cwd=str(tmp_path))
    assert code != 0
    assert not any(line.startswith('{"correct"') for line in lines)
