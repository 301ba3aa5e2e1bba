"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (see ``BENCHMARK.json``) in a child process with a
pinned environment, reads the peak resident memory of the client (the
child's Python process and its JVM) from ``/proc``, stops every process
the run started, and prints as its last line one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``). The line before it is a JSON object of run details:
setup phases, sample counts, the tail percentile used, the load average
at start and the pinned environment.

Everything the run writes goes under ``perfbench/.work`` in the
checkout; span traces of ``--trace 1`` runs are kept there, the rest is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
CHECKOUT = HERE.parent
sys.path.insert(0, str(CHECKOUT))

from perfbench import config as C  # noqa: E402

TIMEOUT_S = 170
POLL_S = 0.5


def _group(pgid: int) -> dict[int, str]:
    """pid -> command name of every process in process group ``pgid``."""
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                head, _, rest = f.read().rpartition(")")
        except OSError:
            continue
        if int(rest.split()[2]) == pgid:  # stat field 5: process group
            procs[int(entry)] = head.partition("(")[2]
    return procs


def _hwm_kb(pid: int) -> int:
    """Peak resident set size of ``pid`` so far (VmHWM)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _stop_group(pgid: int, grace_s: float) -> None:
    """Wait for the process group to end on its own, then kill it."""
    deadline = time.monotonic() + grace_s
    while _group(pgid) and time.monotonic() < deadline:
        time.sleep(0.1)
    if _group(pgid):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        while _group(pgid):
            time.sleep(0.05)


def pinned_env(work: Path) -> dict[str, str]:
    env = dict(os.environ)
    cpus = min(C.CPUS, os.cpu_count() or 1)
    tmp = work / "tmp"
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": C.HEAP,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        "PYTHONPATH": os.pathsep.join(filter(None, [str(CHECKOUT), env.get("PYTHONPATH")])),
        "PYTHONHASHSEED": "0",
        # JVM temp files inside the checkout; no hsperfdata under /tmp
        "SPARK_SUBMIT_OPTS": " ".join(filter(None, [
            env.get("SPARK_SUBMIT_OPTS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
        ])),
    })
    return env


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bench = json.loads((CHECKOUT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    base = HERE / ".work"
    work = base / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    env = pinned_env(work)
    load_avg = os.getloadavg()

    cmd = [sys.executable, "-m", "perfbench.worker", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", str(work), "--out", str(out)]
    # Peak memory of the client: the high-water marks of its Python
    # process and of its JVM (the largest java process in the group;
    # Spark's launcher runs a short-lived one first). Python workers are
    # executors and not counted. The marks only grow, so sparse polling
    # loses at most the last rise.
    hwm_kb: dict[int, int] = {}
    child = subprocess.Popen(cmd, cwd=CHECKOUT, env=env, stdout=sys.stderr,
                             start_new_session=True)
    deadline = time.monotonic() + TIMEOUT_S
    try:
        while child.poll() is None:
            if time.monotonic() > deadline:
                print(f"{args.workload}: timed out after {TIMEOUT_S}s", file=sys.stderr)
                os.killpg(child.pid, signal.SIGKILL)
                child.wait()
                break
            for pid, comm in _group(child.pid).items():
                if pid == child.pid or comm == "java":
                    hwm_kb[pid] = max(hwm_kb.get(pid, 0), _hwm_kb(pid))
            time.sleep(POLL_S)
    finally:
        if child.poll() is None:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
        _stop_group(child.pid, grace_s=20)
    try:
        if child.returncode != 0 or not out.exists():
            print(f"{args.workload}: worker exited with {child.returncode}", file=sys.stderr)
            return 1
        doc = json.loads(out.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = doc["n_failures"]  # failed operations and failed output checks
    for f in doc["failures"]:
        print(f"check failed: {f}", file=sys.stderr)
    attempted = doc["attempted"]
    if args.trace:
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        values = doc["per_layer"]
    else:
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        values = {
            "setup_s": doc["setup_s"],
            "latency_p50_s": doc["latency_p50_s"],
            "latency_tail_s": doc["latency_tail_s"],
            "throughput_rows_per_s": doc["throughput_rows_per_s"],
            "storage_bytes_per_user_byte": doc["storage_bytes_per_user_byte"],
            "peak_rss_mb": (hwm_kb.pop(child.pid, 0) + max(hwm_kb.values(), default=0)) / 1024,
        }
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    details = {
        "workload": args.workload, "seed": args.seed,
        "phases": doc["phases"], "ops": doc["ops"],
        "op_latency_s": doc["op_latency_s"],
        "tail_percentile": doc["tail_percentile"], "failed_ratio": failed / attempted,
        "load_avg_at_start": load_avg,
        "env": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "SPARK_LOCAL_DIRS")},
    }
    print(json.dumps(details))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
