"""Stream-store benchmark: one command, three workloads.

    python3 streambench/run.py --workload http_commands --seed 1 --seconds 20 --trace 0

Each workload is a fixed, seeded sequence of operations (a *round*) on a
fresh store built through the public API. A round runs in its own
process, so its set-up clock starts at the first ``sqlstreamstore_spark``
import. An untraced run makes ``round(--seconds / ROUND_S)`` rounds (at
least one; ``ROUND_S`` is the workload's nominal round length), each on
the next derived seed, and reports the median of every end-to-end metric
over its rounds. The amount of work is thus fixed by the arguments, never
by how fast the host happens to be. A round during which the hypervisor
stole more than STEAL_MAX of the machine's CPU time (``/proc/stat``) is
marked disturbed: it still counts in ``attempted`` and ``failed`` but not
in the medians, and a run of two or more rounds may add one extra round
on the next seed to replace it. A traced run
(``--trace 1``) makes one traced and then one untraced round on the same
seed, reports the per-layer metrics of the traced one, writes its spans under
``.streambench/traces/`` and prints the tracing overhead (traced minus
untraced end-to-end metrics).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Every round checks
the store's outputs; a failed check or a failed operation makes
``correct`` false and the exit code 1. A round that crashes (for example
when the package cannot be imported) aborts the run with exit code 2 and
no result line.
"""

from __future__ import annotations

import argparse
import importlib
import importlib.metadata
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

import harness  # noqa: E402  (the benchmark's own module, next to this file)

WORKLOADS = {
    "http_commands": "workload_http",
    "feed_followers": "workload_feed",
    "sink_ingest": "workload_sink",
}

#: (name, unit) of every end-to-end metric, reported by untraced runs.
END_TO_END = [
    ("setup_s", "s"),
    ("throughput_per_s", "1/s"),
    ("latency_p50_ms", "ms"),
    ("latency_tail_ms", "ms"),
    ("disk_bytes_per_user_byte", "B/B"),
    ("peak_rss_mb", "MB"),
]

#: (name, unit) of every per-layer metric, reported by traced runs. A
#: layer a workload does not pass through reports 0.
PER_LAYER = (
    [
        (f"store.{c}{suffix}", unit)
        for c in harness.STORE_CALLS
        for suffix, unit in (
            ("_ms.p50", "ms"), ("_ms.tail", "ms"), (".calls", "count"), (".busy_s", "s"),
        )
    ]
    + [
        ("store.rows_per_read", "count"),
        ("store.data_files_end", "count"),
        ("store.history_files_end", "count"),
        ("store.first_touch_share", "share"),
        ("client.command_ms", "ms"),
        ("client.tail_page_ms", "ms"),
        ("client.head_ms", "ms"),
        ("http.overhead_ms", "ms"),
        ("server.cpu_ms_per_op", "ms"),
        ("sub.pickup_ms", "ms"),
        ("sub.dispatch_ms", "ms"),
        ("sub.empty_read_share", "share"),
        ("sub.busy_share", "share"),
        ("sub.max_backlog_positions", "count"),
        ("writer.lateness_ms", "ms"),
        ("sink.trigger_ms", "ms"),
        ("sink.add_batch_ms", "ms"),
        ("sink.query_planning_ms", "ms"),
        ("sink.get_batch_ms", "ms"),
        ("sink.wal_commit_ms", "ms"),
        ("sink.commit_offsets_ms", "ms"),
        ("store.bulk_append_ms", "ms"),
        ("spark.jobs_per_commit", "count"),
        ("spark.tasks_per_commit", "count"),
        ("jvm.cpu_s", "s"),
        ("driver.cpu_s", "s"),
        ("setup.spark_start_s", "s"),
        ("setup.warmup_s", "s"),
    ]
)

#: Spark runs at local[SPARK_CPUS]: fewer cores than the host's 4, so the
#: load process keeps a core of its own.
SPARK_CPUS = 2
SPARK_DRIVER_MEM = "2g"
#: Stop starting rounds once a run could no longer finish inside this.
WALL_LIMIT_S = 150.0
#: A round during which the hypervisor stole more than this share of the
#: machine's CPU time was slowed by other tenants, not by the program:
#: it is reported but left out of the medians. A run of two or more
#: planned rounds makes at most one extra round to replace one.
STEAL_MAX = 0.02


def round_seed(seed: int, i: int) -> int:
    return seed * 1000 + i


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def pinned_env(work: str) -> dict:
    """Environment for every process a run starts: Spark's cores and heap
    are fixed here (the package would otherwise default the driver heap
    to 16g), and every temporary file lands under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(SPARK_CPUS),
        "SPARK_GRAFT_DRIVER_MEM": SPARK_DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONHASHSEED": "0",
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    })
    return env


def _group_alive(pgid: int) -> list[int]:
    alive = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state, fields[2] the process group
        if int(fields[2]) == pgid and fields[0] != "Z":
            alive.append(int(d))
    return alive


def reap_group(pgid: int, grace_s: float = 15.0) -> None:
    """Wait for every process of a round's group (its Spark JVM, its
    server) to end; kill what is left after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while _group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.1)
    if _group_alive(pgid):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        while _group_alive(pgid):
            time.sleep(0.05)


def run_child(cmd: list[str], env: dict, cwd: str, timeout: float) -> int:
    """Run one round process in its own process group; returns its exit
    code (-9 when it had to be killed)."""
    proc = subprocess.Popen(cmd, env=env, cwd=cwd, start_new_session=True)
    code = -9
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        pass
    finally:  # also on SIGTERM: leave no process of the round behind
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        reap_group(proc.pid)
    return code


def run_round(args, i: int, seed: int, traced: bool, work: str, env: dict,
              timeout: float) -> dict | None:
    rdir = os.path.join(work, f"round-{i}")
    os.makedirs(rdir)
    out = os.path.join(rdir, "result.json")
    cmd = [
        sys.executable, os.path.abspath(__file__), "--role", "round",
        "--workload", args.workload, "--seed", str(seed),
        "--trace", "1" if traced else "0", "--size", args.size,
        "--workdir", rdir, "--out", out,
    ]
    if traced:
        cmd += ["--spans", spans_path(args)]
    code = run_child(cmd, env, rdir, timeout)
    if code != 0 or not os.path.exists(out):
        print(f"round {i} (seed {seed}) ended with code {code} and no result",
              file=sys.stderr)
        return None
    with open(out) as f:
        return json.load(f)


def spans_path(args) -> str:
    d = os.path.join(ROOT, ".streambench", "traces")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, f"{args.workload}-seed{args.seed}-{args.size}.spans.jsonl")


def environment() -> dict:
    def version(pkg: str) -> str:
        try:
            return importlib.metadata.version(pkg)
        except importlib.metadata.PackageNotFoundError:
            return "absent"

    return {
        "nproc": os.cpu_count(),
        "cpus_usable": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "pyspark": version("pyspark"),
        "pyarrow": version("pyarrow"),
        "spark_cpus": SPARK_CPUS,
        "spark_driver_mem": SPARK_DRIVER_MEM,
    }


def orchestrate(args) -> int:
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work_root = os.path.join(ROOT, ".streambench", "tmp")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-s{args.seed}-", dir=work_root)
    env = pinned_env(work)
    info = environment()
    info["loadavg_before"] = os.getloadavg()
    planned = 2 if args.trace else max(
        1, round(args.seconds / importlib.import_module(WORKLOADS[args.workload]).ROUND_S))
    # at most one extra round, to replace a disturbed one
    limit = planned + (1 if planned >= 2 and not args.trace else 0)
    t0 = time.monotonic()
    steal0 = cpu_ticks()
    rounds: list[dict] = []
    try:
        longest = 0.0
        while len(rounds) < limit and sum(not r["disturbed"] for r in rounds) < planned:
            elapsed = time.monotonic() - t0
            if rounds and elapsed + 1.3 * longest > WALL_LIMIT_S:
                print(f"stopping after {len(rounds)} rounds: another would pass "
                      f"{WALL_LIMIT_S:g} s", file=sys.stderr)
                break
            # traced first: if time runs short, the overhead reference goes
            traced = bool(args.trace) and not rounds
            seed = round_seed(args.seed, 0 if args.trace else len(rounds))
            r0, s0 = time.monotonic(), cpu_ticks()
            res = run_round(args, len(rounds), seed, traced, work, env,
                            timeout=max(10.0, 170.0 - elapsed))
            if res is None:
                return 2
            longest = max(longest, time.monotonic() - r0)
            res["steal_share"] = steal_share(s0, cpu_ticks())
            res["disturbed"] = res["steal_share"] > STEAL_MAX and not args.trace
            res["traced"], res["seed"] = traced, seed
            rounds.append(res)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    info["loadavg_after"] = os.getloadavg()
    info["spark_master"] = sorted({r["info"].get("spark_master", "none") for r in rounds})
    info["rounds"] = len(rounds)
    info["steal_share"] = round(steal_share(steal0, cpu_ticks()), 5)
    info["wall_s"] = round(time.monotonic() - t0, 3)
    return report(args, rounds, info)


def e2e_medians(rounds: list[dict]) -> dict[str, float]:
    """Each end-to-end metric's median over the undisturbed rounds (over
    all rounds when every one was disturbed)."""
    kept = [r for r in rounds if not r["disturbed"]] or rounds
    return {name: harness.median([r["e2e"][name] for r in kept]) for name, _u in END_TO_END}


def report(args, rounds: list[dict], info: dict) -> int:
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} size {args.size}")
    print("environment " + json.dumps(info, sort_keys=True))
    for r in rounds:
        lat = r["latency"]
        print(
            f"round seed={r['seed']} traced={int(r['traced'])} "
            f"steal={r['steal_share']:.4f}{' disturbed' if r['disturbed'] else ''} "
            f"attempted={r['attempted']} failed={r['failed']} "
            f"error_share={r['failed'] / max(1, r['attempted']):.6f} "
            f"latency n={lat['n']} tail=p{lat['tail_pct']:g} "
            f"({lat['beyond']} beyond) "
            + " ".join(f"{k}={v:.6g}" for k, v in sorted(r["e2e"].items()))
        )
        for err in r["errors"][:20]:
            print(f"  check failed: {err}")
    attempted = sum(r["attempted"] for r in rounds)
    failed = sum(r["failed"] for r in rounds)
    if args.trace:
        traced = rounds[0]
        for plain in rounds[1:]:
            for name, unit in END_TO_END:
                t, p = traced["e2e"][name], plain["e2e"][name]
                print(f"trace_overhead {name} = {t - p:+.6g} {unit} "
                      f"(untraced {p:.6g}, traced {t:.6g})")
        for name, secs in sorted(traced.get("self_s", {}).items()):
            print(f"self_time {name} = {secs:.6g} s")
        print(f"spans written to {os.path.relpath(spans_path(args), ROOT)}")
        spec, values = PER_LAYER, traced["layers"]
    else:
        spec, values = END_TO_END, e2e_medians(rounds)
    metrics = {}
    for name, unit in spec:
        metrics[name] = {"value": float(values.get(name, 0.0)), "unit": unit}
        print(f"metric {name} = {metrics[name]['value']:.6g} {unit}")
    print(f"metric error_share = {failed / max(1, attempted):.6g} share "
          f"({failed} of {attempted})")
    correct = failed == 0
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    return 0 if correct else 1


def round_main(args) -> int:
    """One round, in this process; writes its result JSON to --out."""
    module = importlib.import_module(WORKLOADS[args.workload])
    res = module.run_round(args)
    if args.trace and args.spans:
        res["tracer"].dump(args.spans)
        res["self_s"] = harness.self_times(res["tracer"].spans)
    res.pop("tracer", None)
    with open(args.out, "w") as f:
        json.dump(res, f)
    return 0


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: a seconds-long smoke version of each workload")
    # internal: how the orchestrator starts round and server processes
    ap.add_argument("--role", choices=("main", "round", "serve"), default="main",
                    help=argparse.SUPPRESS)
    ap.add_argument("--workdir", help=argparse.SUPPRESS)
    ap.add_argument("--out", help=argparse.SUPPRESS)
    ap.add_argument("--spans", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.role == "round":
        return round_main(args)
    if args.role == "serve":
        return importlib.import_module(WORKLOADS[args.workload]).serve(args)
    return orchestrate(args)


if __name__ == "__main__":
    sys.exit(main())
