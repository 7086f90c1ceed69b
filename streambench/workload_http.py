"""http_commands: application command handlers over HAL, closed loop.

A server process hosts one ``SparkParquetStreamStore(spark=None)`` behind
``StreamStoreHttpServer``, prefilled through ``append_to_stream`` with one
commit per aggregate stream. This process runs three
``HttpClientStreamStore`` clients on three threads; each owns a disjoint
set of aggregates, so a 409 is a bug, not contention. Op mix per client:

- 70% commands: GET the aggregate's page from version 0, then POST 1-3
  events with the read version as ``SSS-ExpectedVersion``; one command
  in five creates a new aggregate with ``NO_STREAM``;
- 15% ``read_all_backwards`` head pages (m=20);
- 15% ``read_head_position``.

Every command commits one Parquet file, so the per-file stream scan and
the commit path are loaded while the file count climbs through the round.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time

import harness

SIZES = {
    "full": {"prefill_aggregates": 150, "ops_per_client": 35},
    "tiny": {"prefill_aggregates": 12, "ops_per_client": 8},
}
#: Nominal length of one round in seconds; a run makes
#: round(--seconds / ROUND_S) rounds.
ROUND_S = 5.0
CLIENTS = 3
#: Share of commands on existing aggregates that touch one for the first
#: time (its stored-id cache in the server is cold).
COLD_SHARE = 0.6
READ_MAX = 1000
TAIL_PAGE = 20


def prefill_plan(seed: int, n_aggregates: int) -> list[tuple[str, list[tuple]]]:
    """[(aggregate, [(message_id, type, json_data, json_metadata)])]:
    one commit of 1-3 events per aggregate."""
    g = harness.Gen(f"http-prefill-{seed}")
    return [
        (f"agg-{i:04d}", [
            (g.message_id(), "Created" if k == 0 else "Changed", g.payload(100, 400),
             json.dumps({"by": "prefill"}))
            for k in range(g.rng.randint(1, 3))
        ])
        for i in range(n_aggregates)
    ]


def client_ops(seed: int, client: int, owned: list[str], n_ops: int) -> list[tuple]:
    """A client's fixed op sequence: ("command", aggregate, is_new,
    messages), ("tail",) or ("head",). The mix is exact, not sampled, so
    every seed does the same amount of each kind of work: 70% commands
    (a fifth create an aggregate; of the rest, COLD_SHARE go to a
    prefilled aggregate not yet touched, the others to one already
    appended to), 15% tail pages, 15% head reads, and equal numbers of
    1-, 2- and 3-event commands."""
    g = harness.Gen(f"http-ops-{seed}-{client}")
    n_cmd = round(n_ops * 0.70)
    n_tail = round(n_ops * 0.15)
    n_new = n_cmd // 5
    n_cold = round((n_cmd - n_new) * COLD_SHARE)
    kinds = (["new"] * n_new + ["cold"] * n_cold + ["warm"] * (n_cmd - n_new - n_cold)
             + ["tail"] * n_tail + ["head"] * (n_ops - n_cmd - n_tail))
    g.rng.shuffle(kinds)
    # a warm command needs an aggregate appended to before it
    first_cold = kinds.index("cold")
    first_warm = kinds.index("warm") if "warm" in kinds else first_cold
    if first_warm < first_cold:
        kinds[first_warm], kinds[first_cold] = "cold", "warm"
    sizes = [1 + k % 3 for k in range(n_cmd)]
    g.rng.shuffle(sizes)
    untouched = g.rng.sample(owned, n_cold)
    touched: list[str] = []
    ops = []
    for k, kind in enumerate(kinds):
        if kind in ("tail", "head"):
            ops.append((kind,))
            continue
        if kind == "new":
            agg = f"agg-c{client}-{k:04d}"
        elif kind == "cold":
            agg = untouched.pop()
            touched.append(agg)
        else:
            agg = g.rng.choice(touched)
        msgs = [
            (g.message_id(), "Changed", g.payload(100, 400), json.dumps({"by": f"c{client}"}))
            for _ in range(sizes.pop())
        ]
        ops.append(("command", agg, kind == "new", msgs))
    return ops


def first_touch_share(all_ops: list[list[tuple]]) -> float:
    """Share of commands whose append is the first versioned append to
    that stream in the server's life — its stored-id cache is cold and
    the append scans every commit file. Creates scan nothing."""
    seen: set[str] = set()
    commands = cold = 0
    for ops in all_ops:
        for op in ops:
            if op[0] != "command":
                continue
            commands += 1
            if not op[2]:
                cold += op[1] not in seen
                seen.add(op[1])
    return cold / max(1, commands)


# ------------------------------------------------------------------ server


def serve(args) -> int:
    """Server process: prefill, serve until stdin says stop, then write
    acks, spans and counters to <workdir>/server.json."""
    cfg = SIZES[args.size]
    plan = prefill_plan(args.seed, cfg["prefill_aggregates"])
    t0 = time.perf_counter()
    from sqlstreamstore_spark.http.server import StreamStoreHttpServer
    from sqlstreamstore_spark.schema import ExpectedVersion
    from sqlstreamstore_spark.store import NewStreamMessage, SparkParquetStreamStore

    store = SparkParquetStreamStore(None, os.path.join(args.workdir, "store"))
    acks = []
    for agg, msgs in plan:
        r = store.append_to_stream(
            agg, ExpectedVersion.NO_STREAM, [NewStreamMessage(*m) for m in msgs]
        )
        acks.append((agg, [m[0] for m in msgs], r.current_version, r.current_position))
    tracer = harness.Tracer() if args.trace else harness.NullTracer()
    handle = harness.TimedProxy(store, tracer) if args.trace else store
    server = StreamStoreHttpServer(handle).start()
    setup_s = time.perf_counter() - t0
    print(json.dumps({"url": server.url, "setup_s": setup_s}), flush=True)
    sys.stdin.readline()
    server.stop()
    with open(os.path.join(args.workdir, "server.json"), "w") as f:
        json.dump({
            "setup_s": setup_s,
            "acks": acks,
            "spans": tracer.spans if args.trace else [],
            "peak_rss_mb": harness.proc_hwm_mb(),
        }, f)
    return 0


# -------------------------------------------------------------------- load


def run_client(c, client, ops, tracer, expected_versions, lat, out, errors):
    """Closed loop over client ``c``'s ops; appends (end time, ms) to
    ``lat`` and acks to ``out``. Each op is a span ``client.<kind>`` with
    op id ``c<client>-<index>``."""
    from sqlstreamstore_spark.exceptions import WrongExpectedVersionError
    from sqlstreamstore_spark.schema import ExpectedVersion
    from sqlstreamstore_spark.store import NewStreamMessage

    for k, op in enumerate(ops):
        t0 = time.perf_counter()
        try:
            with tracer.span(f"client.{op[0]}", op=f"c{c}-{k}"):
                if op[0] == "command":
                    _kind, agg, is_new, msgs = op
                    page = client.read_stream_forwards(agg, 0, READ_MAX)
                    if is_new:
                        ok = page.status == "StreamNotFound"
                        expected = ExpectedVersion.NO_STREAM
                    else:
                        expected = page.last_stream_version
                        ok = (page.status == "Success" and page.is_end
                              and expected == expected_versions[agg]
                              and len(page.messages) == expected + 1)
                    if not ok:
                        errors.append(f"{agg}: read {page.status} v{page.last_stream_version}")
                    r = client.append_to_stream(
                        agg, expected, [NewStreamMessage(*m) for m in msgs]
                    )
                    expected_versions[agg] = r.current_version
                    out.append((agg, [m[0] for m in msgs], r.current_version,
                                r.current_position))
                elif op[0] == "tail":
                    page = client.read_all_backwards(-1, TAIL_PAGE)
                    if len(page.messages) != TAIL_PAGE:
                        errors.append(f"tail page of {len(page.messages)} messages")
                elif client.read_head_position() < 0:
                    errors.append("negative head position")
        except WrongExpectedVersionError as e:
            errors.append(f"409 on {op[1]}: {e}")
        except Exception as e:  # noqa: BLE001 - every failure is counted
            errors.append(f"{op[0]} failed: {e!r}")
        t1 = time.perf_counter()
        lat.append((t1, (t1 - t0) * 1e3))


def check_store(path: str, acks: list[tuple]) -> list[str]:
    """Reopen the store with a fresh handle: every acknowledged append
    reads back at its acknowledged versions and positions, positions are
    dense from 0 to head, versions contiguous per stream, and nothing
    else is stored."""
    from sqlstreamstore_spark.store import SparkParquetStreamStore

    store = SparkParquetStreamStore(None, path)
    messages = []
    pos = 0
    while True:
        page = store.read_all_forwards(pos, 5000)
        messages.extend(page.messages)
        if page.is_end:
            break
        pos = page.next_position
    errors = []
    head = store.read_head_position()
    if [m.position for m in messages] != list(range(head + 1)):
        errors.append(f"positions not dense 0..{head}")
    by_id = {m.message_id: m for m in messages}
    versions: dict[str, list[int]] = {}
    for m in messages:
        versions.setdefault(m.stream_id, []).append(m.stream_version)
    for sid, vs in versions.items():
        if vs != list(range(len(vs))):
            errors.append(f"{sid}: versions not contiguous")
    n_acked = 0
    for sid, mids, version, position in acks:
        n = len(mids)
        n_acked += n
        for k, mid in enumerate(mids):
            m = by_id.get(mid)
            want = (sid, version - n + 1 + k, position - n + 1 + k)
            if m is None or (m.stream_id, m.stream_version, m.position) != want:
                errors.append(f"{sid}/{mid}: acked at {want[1:]}, read {m and (m.stream_version, m.position)}")
    if n_acked != len(messages):
        errors.append(f"{len(messages)} messages stored, {n_acked} acknowledged")
    return errors


def run_round(args) -> dict:
    cfg = SIZES[args.size]
    seed = args.seed
    plan = prefill_plan(seed, cfg["prefill_aggregates"])
    owned = [[agg for i, (agg, _m) in enumerate(plan) if i % CLIENTS == c] for c in range(CLIENTS)]
    all_ops = [client_ops(seed, c, owned[c], cfg["ops_per_client"]) for c in range(CLIENTS)]
    expected_versions = {agg: len(msgs) - 1 for agg, msgs in plan}
    sizes = {
        m[0]: harness.user_bytes(m[2], m[3])
        for msgs in [p[1] for p in plan] + [op[3] for ops in all_ops for op in ops
                                            if op[0] == "command"]
        for m in msgs
    }
    tracer = harness.Tracer() if args.trace else harness.NullTracer()

    server = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
         "--role", "serve", "--workload", "http_commands", "--seed", str(seed),
         "--trace", str(args.trace), "--size", args.size, "--workdir", args.workdir],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        ready = json.loads(server.stdout.readline())
        from sqlstreamstore_spark.http.client import HttpClientStreamStore

        clients = []
        for _c in range(CLIENTS):
            client = HttpClientStreamStore(ready["url"])
            client.read_head_position()  # warm the client's transport
            clients.append(harness.TimedProxy(client, tracer, prefix="client")
                           if args.trace else client)
        lat: list[list] = [[] for _ in range(CLIENTS)]
        acked: list[list] = [[] for _ in range(CLIENTS)]
        errors: list[list] = [[] for _ in range(CLIENTS)]
        cpu0 = harness.proc_cpu_s(server.pid)
        t0 = time.perf_counter()
        threads = [
            threading.Thread(target=run_client, args=(
                c, clients[c], all_ops[c], tracer, expected_versions, lat[c], acked[c],
                errors[c]))
            for c in range(CLIENTS)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        server_cpu = harness.proc_cpu_s(server.pid) - cpu0
        server.stdin.write("stop\n")
        server.stdin.flush()
        server.wait(timeout=60)
    finally:
        if server.poll() is None:
            server.kill()
            server.wait()
    with open(os.path.join(args.workdir, "server.json")) as f:
        srv = json.load(f)

    latencies = [ms for per in lat for _t, ms in per]
    commands = [a for per in acked for a in per]
    errs = [e for per in errors for e in per]
    n_ops = sum(len(ops) for ops in all_ops)
    store_path = os.path.join(args.workdir, "store")
    acks = [tuple(a) for a in srv["acks"]] + commands
    check = check_store(store_path, acks)
    user_bytes = sum(sizes[mid] for a in acks for mid in a[1])
    lsum = harness.summarize(latencies)
    res = {
        "e2e": {
            "setup_s": srv["setup_s"],
            "throughput_per_s": harness.windowed_rate(t0, [t for per in lat for t, _ms in per]),
            "latency_p50_ms": lsum["p50"],
            "latency_tail_ms": lsum["tail"],
            "disk_bytes_per_user_byte": harness.dir_bytes(store_path) / user_bytes,
            "peak_rss_mb": srv["peak_rss_mb"],
        },
        "latency": lsum,
        "attempted": n_ops,
        "failed": len(errs) + len(check),
        "errors": errs + check,
        "info": {},
    }
    if args.trace:
        offset = 1 << 40  # server span ids must not collide with ours
        tracer.spans.extend(
            (s[0] + offset, None, *s[2:]) for s in (tuple(x) for x in srv["spans"])
        )
        res["layers"] = layers(tracer, all_ops, store_path, server_cpu, n_ops)
        res["tracer"] = tracer
    return res


def layers(tracer, all_ops, store_path, server_cpu, n_ops) -> dict:
    out = harness.layer_metrics(tracer, [f"store.{c}" for c in harness.STORE_CALLS])
    reads = [s[6] for s in tracer.spans if s[2].startswith("store.read_") and s[6] is not None]
    out["store.rows_per_read"] = sum(reads) / max(1, len(reads))
    out["store.data_files_end"] = harness.count_files(os.path.join(store_path, "data"))
    out["store.history_files_end"] = harness.count_files(os.path.join(store_path, "manifest.history"))
    out["store.first_touch_share"] = first_touch_share(all_ops)
    out["client.command_ms"] = harness.median(tracer.durations("client.command"))
    out["client.tail_page_ms"] = harness.median(tracer.durations("client.read_all_backwards"))
    out["client.head_ms"] = harness.median(tracer.durations("client.read_head_position"))
    kinds = ["read_stream_forwards", "append_to_stream", "read_all_backwards", "read_head_position"]
    client_ms = sum(sum(tracer.durations(f"client.{k}")) for k in kinds)
    server_ms = sum(sum(tracer.durations(f"store.{k}")) for k in kinds)
    requests = sum(len(tracer.durations(f"client.{k}")) for k in kinds)
    out["http.overhead_ms"] = (client_ms - server_ms) / max(1, requests)
    out["server.cpu_ms_per_op"] = server_cpu * 1e3 / n_ops
    return out
