"""Benchmark entry point: one run of one workload, in a fresh process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The run gets a private directory under
``.perfbench/`` holding its inputs, ``TMPDIR``, ``SPARK_LOCAL_DIRS``
and the session's working directory; it is removed when the run ends,
so the program's on-disk caches (XML split plans, the shipped package
zip, signature and index stores) start empty every run. The session
gets ``local[$(nproc)]`` and a driver heap sized from physical memory,
which G1 grows only when live data needs it (``-XX:GCTimeRatio=1``).

The worker process (``worker.py``) does the measuring; this process
starts it, samples the summed RSS of it and all its descendants from
``/proc`` with one thread, stops every process it left behind, and
prints a readable report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones (spans go to
``.perfbench/spans-<workload>-<seed>.json``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())

RUN_TIMEOUT_S = 150.0  # leaves time to stop what is left within 180 s
SAMPLE_EVERY_S = 0.1
PAGE = os.sysconf("SC_PAGE_SIZE")


def driver_mem_gb() -> int:
    """Driver heap: a quarter of physical memory, between 2 and 8 GiB."""
    total = os.sysconf("SC_PHYS_PAGES") * PAGE
    return max(2, min(8, total // 4 >> 30))


def _proc_table() -> dict[int, tuple[int, int, str]]:
    """pid -> (parent pid, start time in clock ticks, state) of every process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        out[int(d)] = (int(fields[1]), int(fields[19]), fields[0])
    return out


def _descendants(root: int, table: dict) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except OSError:
        return 0


class Watcher(threading.Thread):
    """Until stopped, samples the summed RSS of this process and all its
    descendants (keeping the peak) and remembers every descendant seen,
    so that any left running can be stopped. PySpark's worker daemon
    moves to its own process group, so a group kill would miss it."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self.seen: dict[int, int] = {}  # pid -> start time
        self._stop_evt = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._stop_evt.is_set():
            table = _proc_table()
            pids = _descendants(me, table)
            for pid in pids:
                self.seen.setdefault(pid, table[pid][1])
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in [me, *pids]))
            self._stop_evt.wait(SAMPLE_EVERY_S)

    def stop(self):
        self._stop_evt.set()
        self.join()


def stop_all(seen: dict[int, int]) -> None:
    """Stop every remembered process that still runs and wait for it."""
    def alive() -> list[int]:
        table = _proc_table()
        return [pid for pid, start in seen.items()
                if pid in table and table[pid][1] == start and table[pid][2] != "Z"]

    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = alive()
        if not left:
            return
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 5
        while alive() and time.monotonic() < deadline:
            time.sleep(0.1)
    if alive():
        raise RuntimeError(f"processes {alive()} would not stop")


def report(workload: str, trace: bool, res: dict, metrics: dict) -> None:
    print(f"# perfbench {workload} trace={int(trace)}: "
          f"{res['failed']}/{res['attempted']} ops failed "
          f"(failed_frac {res['failed'] / res['attempted']:.4f})")
    for p in res["passes"]:
        ops = " ".join(f"{k}={v:.3f}" for k, v in p["ops"].items())
        print(f"#   {p['label']}{'*' if p['traced'] else ''} {p['wall']:.3f}s "
              f"steal={p['steal']:.3f}  {ops}")
    for name, v in metrics.items():
        print(f"#   {name} = {v['value']:.6g} {v['unit']}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in BENCH["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=BENCH["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    checkout = Path.cwd()
    base = checkout / ".perfbench"
    run_dir = base / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    tmp, local, data = run_dir / "tmp", run_dir / "local", run_dir / "data"
    for d in (tmp, local, data):
        d.mkdir(parents=True)
    cpus = len(os.sched_getaffinity(0))
    env = dict(
        os.environ,
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(local),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM=f"{driver_mem_gb()}g",
        # G1 grows the heap when GC pauses pass a share of wall time, which
        # CPU steal on a shared host moves from run to run; at 50% it
        # grows when live data needs room, so peak_rss_mb follows the
        # program's memory rather than the host's load
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:GCTimeRatio=1",
        PYSPARK_PYTHON=sys.executable,
        PYTHONDONTWRITEBYTECODE="1",
        TZ="UTC",
    )
    env.pop("OMP_NUM_THREADS", None)
    out = run_dir / "result.json"
    cmd = [sys.executable, str(HERE / "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data-dir", str(data), "--out", str(out)]
    if args.trace:
        cmd += ["--spans", str(base / f"spans-{args.workload}-{args.seed}.json")]
    # a TERM sent to this process still stops the worker, the JVM and the
    # Python workers, and removes the run directory (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    watcher = Watcher()
    watcher.start()
    code = None
    try:
        env["PERFBENCH_SPAWN_T"] = repr(time.monotonic())
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {RUN_TIMEOUT_S:.0f}s", file=sys.stderr)
            proc.kill()
            proc.wait()
    finally:
        watcher.stop()
        stop_all(watcher.seen)
        res = json.loads(out.read_text()) if out.is_file() else None
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or res is None:
        print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
        return 1

    if args.trace:
        # a layer this workload does not exercise reads 0
        metrics = {m["name"]: {"value": res["layers"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in BENCH["per_layer"]}
    else:
        values = dict(res["metrics"], peak_rss_mb=watcher.peak / 1e6)
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in BENCH["end_to_end"]}
    report(args.workload, bool(args.trace), res, metrics)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
