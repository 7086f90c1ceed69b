"""feed_followers: in-process projections following the log; no HTTP, no
Spark.

Set-up appends a history in a few large commits. Phase A: a fresh
``subscribe_to_all`` drains the history (throughput, messages/s). Phase B:
a writer thread appends 1-5-message batches to a few hot streams on an
open-loop schedule at one fixed rate while the same ``$all`` follower and
a ``subscribe_to_stream`` follower on one hot stream tail the log.
Latency is delivery time minus the batch's due time, per message and per
follower. Followers use the library defaults (page_size=10,
poll_interval=0.05).
"""

from __future__ import annotations

import json
import os
import threading
import time

import harness

SIZES = {
    "full": {"history_commits": 20, "history_per_commit": 200, "tail_batches": 30,
             "rate_per_s": 10.0},
    "tiny": {"history_commits": 4, "history_per_commit": 25, "tail_batches": 10,
             "rate_per_s": 20.0},
}
#: Nominal length of one round in seconds; a run makes
#: round(--seconds / ROUND_S) rounds.
ROUND_S = 5.0
HOT_STREAMS = ["hot-0", "hot-1", "hot-2"]
#: The stream follower tails this hot stream.
FOLLOWED = HOT_STREAMS[0]
DRAIN_TIMEOUT_S = 60.0


def plan(seed: int, cfg: dict) -> tuple[list, list]:
    """(history commits, tail batches); each is [(stream, [(message_id,
    type, json_data, json_metadata)])]."""
    g = harness.Gen(f"feed-{seed}")
    history = [
        (f"hist-{c:03d}", [
            (g.message_id(), "Recorded", g.payload(100, 300), "")
            for _ in range(cfg["history_per_commit"])
        ])
        for c in range(cfg["history_commits"])
    ]
    # exact counts, so every seed tails the same number of messages: the
    # hot streams take turns and each one's batch sizes cycle 1..5, both
    # in shuffled order
    streams = [HOT_STREAMS[i % len(HOT_STREAMS)] for i in range(cfg["tail_batches"])]
    g.rng.shuffle(streams)
    sizes = {}
    for s in HOT_STREAMS:
        sizes[s] = [1 + i % 5 for i in range(streams.count(s))]
        g.rng.shuffle(sizes[s])
    tail = [
        (stream, [
            (g.message_id(), "Ticked", g.payload(100, 300), json.dumps({"batch": i}))
            for _ in range(sizes[stream].pop())
        ])
        for i, stream in enumerate(streams)
    ]
    return history, tail


class Follower:
    """Collects what a subscription delivers, with the read that
    delivered each message when the round is traced."""

    def __init__(self, tracer, expect: int, head: list[int]):
        self.tracer = tracer
        self.head = head
        # (position, stream_version, message_id, t, read, committed head)
        self.got: list[tuple] = []
        self.expect = expect
        self.done = threading.Event()

    def __call__(self, m) -> None:
        t = time.perf_counter()
        read = getattr(self.tracer.local, "last", None)
        self.got.append((m.position, m.stream_version, m.message_id, t, read, self.head[0]))
        if len(self.got) >= self.expect:
            self.done.set()


def run_round(args) -> dict:
    cfg = SIZES[args.size]
    history, tail = plan(args.seed, cfg)
    n_hist = sum(len(msgs) for _s, msgs in history)
    n_tail = sum(len(msgs) for _s, msgs in tail)
    followed_ids = [m[0] for s, msgs in tail if s == FOLLOWED for m in msgs]
    expected_ids = [m[0] for _s, msgs in history + tail for m in msgs]
    tracer = harness.Tracer() if args.trace else harness.NullTracer()

    t0 = time.perf_counter()
    from sqlstreamstore_spark.schema import ExpectedVersion
    from sqlstreamstore_spark.store import NewStreamMessage, SparkParquetStreamStore
    from sqlstreamstore_spark.streaming import subscribe_to_all, subscribe_to_stream

    store_path = os.path.join(args.workdir, "store")
    store = SparkParquetStreamStore(None, store_path)
    for stream, msgs in history:
        store.append_to_stream(stream, ExpectedVersion.NO_STREAM,
                               [NewStreamMessage(*m) for m in msgs])
    setup_s = time.perf_counter() - t0

    def handle():
        return harness.TimedProxy(store, tracer) if args.trace else store

    errors: list[str] = []
    # Phase A: catch-up over the history
    head = [n_hist - 1]  # last position the writer has seen committed
    all_f = Follower(tracer, n_hist, head)
    ta = time.perf_counter()
    sub_all = subscribe_to_all(handle(), all_f)
    stream_f = None
    sub_stream = None
    try:
        if not all_f.done.wait(DRAIN_TIMEOUT_S):
            errors.append(f"catch-up delivered {len(all_f.got)} of {n_hist}")
        catch_up = harness.windowed_rate(ta, [g[3] for g in all_f.got])

        # Phase B: open-loop writer, two followers tailing
        all_f.expect = n_hist + n_tail
        all_f.done.clear()
        stream_f = Follower(tracer, len(followed_ids), head)
        sub_stream = subscribe_to_stream(handle(), FOLLOWED, stream_f)
        writer = handle()
        interval = 1.0 / cfg["rate_per_s"]
        tb = time.perf_counter() + 0.2
        due = {m[0]: tb + i * interval for i, (_s, msgs) in enumerate(tail) for m in msgs}
        committed: dict[str, float] = {}
        lateness: list[float] = []
        for i, (stream, msgs) in enumerate(tail):
            wait = tb + i * interval - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            lateness.append((time.perf_counter() - (tb + i * interval)) * 1e3)
            with tracer.span("writer.batch", op=f"batch-{i}"):
                r = writer.append_to_stream(stream, ExpectedVersion.ANY,
                                            [NewStreamMessage(*m) for m in msgs])
            done = time.perf_counter()
            for m in msgs:
                committed[m[0]] = done
            head[0] = r.current_position
        for name, f in (("$all", all_f), (FOLLOWED, stream_f)):
            if not f.done.wait(DRAIN_TIMEOUT_S):
                errors.append(f"{name} follower got {len(f.got)} of {f.expect}")
        phase_b_s = time.perf_counter() - tb
    finally:
        sub_all.dispose()
        if sub_stream is not None:
            sub_stream.dispose()

    for sub, name in ((sub_all, "$all"), (sub_stream, FOLLOWED)):
        if sub.dropped_exception is not None:
            errors.append(f"{name} subscription dropped: {sub.dropped_exception!r}")
    if [g[0] for g in all_f.got] != list(range(n_hist + n_tail)):
        errors.append("$all follower: positions not delivered exactly once in order")
    if [g[2] for g in all_f.got] != expected_ids:
        errors.append("$all follower: message ids differ from the appended order")
    if [g[2] for g in stream_f.got] != followed_ids or \
            [g[1] for g in stream_f.got] != list(range(len(stream_f.got))):
        errors.append(f"{FOLLOWED} follower: not every message exactly once in order")

    tail_got = all_f.got[n_hist:] + stream_f.got
    latencies = [(g[3] - due[g[2]]) * 1e3 for g in tail_got if g[2] in due]
    lsum = harness.summarize(latencies)
    user = sum(harness.user_bytes(m[2], m[3]) for _s, msgs in history + tail for m in msgs)
    res = {
        "e2e": {
            "setup_s": setup_s,
            "throughput_per_s": catch_up,
            "latency_p50_ms": lsum["p50"],
            "latency_tail_ms": lsum["tail"],
            "disk_bytes_per_user_byte": harness.dir_bytes(store_path) / user,
            "peak_rss_mb": harness.proc_hwm_mb(),
        },
        "latency": lsum,
        "attempted": n_hist + len(tail),
        "failed": len(errors),
        "errors": errors,
        "info": {},
    }
    if args.trace:
        res["layers"] = layers(tracer, tail_got, all_f.got[n_hist:], committed,
                               lateness, tb, phase_b_s, store_path)
        res["tracer"] = tracer
    return res


def layers(tracer, tail_got, all_tail, committed, lateness, tb, phase_b_s,
           store_path) -> dict:
    out = harness.layer_metrics(tracer, [f"store.{c}" for c in harness.STORE_CALLS])
    reads = [s for s in tracer.spans if s[2].startswith("store.read_") and s[6] is not None]
    out["store.rows_per_read"] = sum(s[6] for s in reads) / max(1, len(reads))
    out["store.data_files_end"] = harness.count_files(os.path.join(store_path, "data"))
    out["store.history_files_end"] = harness.count_files(
        os.path.join(store_path, "manifest.history"))
    # read = (name, start, end, rows) of the read that delivered the message
    pickup = [(g[4][1] - committed[g[2]]) * 1e3 for g in tail_got if g[4] and g[2] in committed]
    dispatch = [(g[3] - g[4][2]) * 1e3 for g in tail_got if g[4]]
    out["sub.pickup_ms"] = harness.median(pickup)
    out["sub.dispatch_ms"] = harness.median(dispatch)
    tail_reads = [s for s in reads if s[4] >= tb and s[2] != "store.read_head_position"]
    out["sub.empty_read_share"] = (
        sum(1 for s in tail_reads if s[6] == 0) / max(1, len(tail_reads)))
    busy = [
        sum(s[5] - s[4] for s in tail_reads if s[2] == name) / phase_b_s
        for name in ("store.read_all_forwards", "store.read_stream_forwards")
    ]
    out["sub.busy_share"] = sum(busy) / len(busy)
    # backlog: positions committed but not yet delivered to the $all follower
    out["sub.max_backlog_positions"] = max((g[5] - g[0] for g in all_tail), default=0)
    out["writer.lateness_ms"] = harness.summarize(lateness)["tail"]
    return out
