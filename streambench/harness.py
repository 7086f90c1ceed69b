"""Shared pieces of the stream-store benchmark: the tail-percentile rule,
latency summaries, in-memory span tracing, the timing proxy that wraps a
store handle from the outside, /proc counters and disk accounting.

Nothing here imports the package under test, pyspark or pyarrow, so a
workload can start its set-up clock before the first
``sqlstreamstore_spark`` import.
"""

from __future__ import annotations

import inspect
import itertools
import json
import math
import os
import random
import statistics
import string
import threading
import time
import uuid
from contextlib import contextmanager, nullcontext

#: Public store calls the per-layer metrics time one by one.
STORE_CALLS = [
    "read_stream_forwards", "read_all_backwards", "read_all_forwards",
    "append_to_stream", "read_head_position",
]
#: A tail percentile must have at least this many samples beyond it.
MIN_BEYOND = 10
#: ... and is never reported above this one.
MAX_TAIL_PCT = 99.9


def nearest_rank(n: int, pct: float) -> int:
    """1-based nearest-rank index of percentile ``pct`` over ``n`` samples."""
    return max(1, math.ceil(round(pct / 100.0 * n, 9)))


def tail_percentile(n: int) -> tuple[float, int]:
    """(percentile, samples beyond it): the highest percentile that leaves
    at least MIN_BEYOND of ``n`` samples above its nearest rank, capped
    at MAX_TAIL_PCT. When not even the median qualifies (fewer than
    2 * MIN_BEYOND samples), the maximum: percentile 100, nothing beyond."""
    if n < 2 * MIN_BEYOND:
        return 100.0, 0
    pct = min(MAX_TAIL_PCT, 100.0 * (n - MIN_BEYOND) / n)
    return pct, n - nearest_rank(n, pct)


def percentile(values: list[float], pct: float) -> float:
    ordered = sorted(values)
    return ordered[nearest_rank(len(ordered), pct) - 1]


def summarize(values: list[float]) -> dict:
    """Median and rule-chosen tail of a latency sample (same unit)."""
    if not values:
        return {"n": 0, "p50": 0.0, "tail": 0.0, "tail_pct": 100.0, "beyond": 0}
    pct, beyond = tail_percentile(len(values))
    return {
        "n": len(values),
        "p50": percentile(values, 50.0),
        "tail": percentile(values, pct),
        "tail_pct": pct,
        "beyond": beyond,
    }


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def windowed_rate(start: float, times: list[float], windows: int = 10) -> float:
    """Events per second: the median over ``windows`` consecutive runs of
    equally many events, each timed from the previous run's last event
    (the first from ``start``). A short stall of the host slows one or
    two windows, not the median."""
    times = sorted(times)
    k = len(times) // windows
    if k == 0:
        return len(times) / (times[-1] - start) if times else 0.0
    edges = [start] + [times[(j + 1) * k - 1] for j in range(windows)]
    return median([k / (edges[j + 1] - edges[j]) for j in range(windows)])


class Gen:
    """Seeded source of every generated input: message ids, choices and
    JSON payloads. The same label always yields the same sequence."""

    def __init__(self, label: str):
        self.rng = random.Random(label)
        self._pool = "".join(self.rng.choices(string.ascii_letters + string.digits, k=1 << 16))

    def message_id(self) -> str:
        return str(uuid.UUID(int=self.rng.getrandbits(128), version=4))

    def payload(self, lo: int, hi: int) -> str:
        """A JSON object of roughly ``lo``..``hi`` bytes."""
        n = self.rng.randint(lo, hi) - 20
        o = self.rng.randrange(len(self._pool) - n)
        return json.dumps({"v": self.rng.randint(0, 999999), "body": self._pool[o:o + n]})


# ------------------------------------------------------------------ tracing


class Tracer:
    """In-memory spans: (id, parent, name, op, start, end, rows). The
    parent is the innermost open span of the same thread; ``op`` is
    inherited from the parent when not given. Written out at exit."""

    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self.local = threading.local()

    @contextmanager
    def span(self, name: str, op=None):
        parent = getattr(self.local, "span", None)
        parent_op = getattr(self.local, "op", None)
        sid = next(self._ids)
        op = parent_op if op is None else op
        self.local.span, self.local.op = sid, op
        rec = {"rows": None}
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            self.local.span, self.local.op = parent, parent_op
            self.local.last = (name, t0, t1, rec["rows"])
            self.spans.append((sid, parent, name, op, t0, t1, rec["rows"]))

    def durations(self, name: str) -> list[float]:
        """Durations in ms of the spans called ``name``."""
        return [(s[5] - s[4]) * 1e3 for s in self.spans if s[2] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dict(zip(
                    ("id", "parent", "name", "op", "start", "end", "rows"), s
                ))) + "\n")


class NullTracer:
    """Stands in for a Tracer in untraced rounds: records nothing."""

    def __init__(self) -> None:
        self.local = threading.local()

    def span(self, name: str, op=None):
        return nullcontext({"rows": None})


def self_times(spans: list[tuple]) -> dict[str, float]:
    """Total self time in seconds per span name: each span's duration
    minus the time its direct children cover."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s[1] is not None:
            child_time[s[1]] = child_time.get(s[1], 0.0) + (s[5] - s[4])
    out: dict[str, float] = {}
    for s in spans:
        out[s[2]] = out.get(s[2], 0.0) + (s[5] - s[4]) - child_time.get(s[0], 0.0)
    return out


class TimedProxy:
    """Stands in for ``target`` everywhere the benchmark hands it over.
    Every attribute read, write and call reaches the target unchanged;
    public bound methods additionally run inside a span named
    ``<prefix>.<method>``, with the returned page's message count as
    ``rows``. ``around(name)`` may return a context manager entered
    around each timed call."""

    def __init__(self, target, tracer: Tracer, prefix: str = "store", around=None):
        object.__setattr__(self, "_target", target)
        object.__setattr__(self, "_tracer", tracer)
        object.__setattr__(self, "_prefix", prefix)
        object.__setattr__(self, "_around", around)

    def __getattr__(self, name):
        attr = getattr(self._target, name)
        if name.startswith("_") or not inspect.ismethod(attr):
            return attr
        span_name = f"{self._prefix}.{name}"
        tracer, around = self._tracer, self._around

        def timed(*args, **kwargs):
            with tracer.span(span_name) as rec:
                if around is None:
                    result = attr(*args, **kwargs)
                else:
                    with around(name):
                        result = attr(*args, **kwargs)
                messages = getattr(result, "messages", None)
                if messages is not None:
                    rec["rows"] = len(messages)
                return result

        return timed

    def __setattr__(self, name, value):
        setattr(self._target, name, value)


def layer_metrics(tracer: Tracer, names: list[str]) -> dict[str, float]:
    """p50 / tail / calls / busy seconds for each span name."""
    out = {}
    for name in names:
        d = tracer.durations(name)
        s = summarize(d)
        out[f"{name}_ms.p50"] = s["p50"]
        out[f"{name}_ms.tail"] = s["tail"]
        out[f"{name}.calls"] = len(d)
        out[f"{name}.busy_s"] = sum(d) / 1e3
    return out


# ------------------------------------------------------------ /proc and disk


def proc_cpu_s(pid: int | str = "self") -> float:
    """User + system CPU seconds of a process, from /proc/<pid>/stat."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    # fields[0] is field 3 (state); utime and stime are fields 14 and 15
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def proc_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_bytes(path: str) -> int:
    """Apparent size of every regular file under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            st = os.lstat(os.path.join(root, fn))
            total += st.st_size
    return total


def user_bytes(json_data: str, json_metadata: str | None) -> int:
    """Bytes a client asked the store to keep for one message."""
    return len(json_data.encode()) + len((json_metadata or "").encode())


def count_files(path: str) -> int:
    return sum(len(files) for _root, _dirs, files in os.walk(path)) if os.path.isdir(path) else 0
