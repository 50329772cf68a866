"""Paper-path benchmark for scida_spark: snapshot scan, halo catalog and
halo lookup over a generated npy snapshot.

    python3 pathbench/run.py --workload snapshot_scan --seed 1 --seconds 12 --trace 0

Run from the repository root. Each run generates (or reuses) the seeded
snapshot outside the timed region, then starts one fresh driver process
that sets up (``setup_s``: process start to ready) and measures passes.
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.

``--workload known_defects`` runs the unmeasured defect check instead
(see defects.py); ``--rows`` overrides the snapshot size (self-test).
"""

from __future__ import annotations

import argparse
import json
import os
import select
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# PartType0 rows per workload (sizes and bytes are recorded in README.md)
ROWS = {"snapshot_scan": 8_000_000, "halo_catalog": 1_000_000, "halo_lookup": 4_000_000}
WORKER_TIMEOUT_S = 165   # the whole run must end within 180 s


def fail(msg: str) -> None:
    print(f"pathbench: {msg}", file=sys.stderr)
    sys.exit(2)


def host_env() -> dict:
    """Child environment: all cores, a driver heap that fits the host,
    and private scratch directories under the benchmark's work dir."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    env = dict(os.environ)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, int(mem_gb // 4)))}g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        "PYTHONPATH": ROOT,
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    env.pop("OMP_NUM_THREADS", None)
    return env


def _stat(pid) -> tuple[int, int] | None:
    """(parent pid, start time) of a live process, None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            # fields after the ")" closing the command name start at "state"
            f = fh.read().rsplit(")", 1)[1].split()
        return int(f[1]), int(f[19])
    except (OSError, ValueError, IndexError):
        return None


def _tree(root: int) -> dict[int, int]:
    """{pid: start time} of ``root`` and all its live descendants. The
    JVM's Python workers run in process groups of their own, so the tree
    is followed by parent pid."""
    stats = {int(p): _stat(p) for p in os.listdir("/proc") if p.isdigit()}
    kids: dict[int, list[int]] = {}
    for pid, st in stats.items():
        if st:
            kids.setdefault(st[0], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if stats.get(pid):
            out[pid] = stats[pid][1]
            todo.extend(kids.get(pid, ()))
    return out


def _reap(procs: dict[int, int], grace: float) -> None:
    """Wait up to ``grace`` seconds for every recorded process to exit,
    then kill the ones left and wait until they are gone."""
    def alive():
        return [p for p, t in procs.items() if (_stat(p) or (0, None))[1] == t]

    end = time.monotonic() + grace
    while alive() and time.monotonic() < end:
        time.sleep(0.05)
    for pid in alive():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while alive():
        time.sleep(0.05)


def run_worker(args: list[str], env: dict, log: str) -> tuple[float, dict]:
    """Start one worker (stderr to ``log``); return (seconds from start to
    ready, result). Waits first until the worker, its JVM and the JVM's
    Python workers have all exited."""
    cmd = [sys.executable, "-m", "pathbench.worker", *args]
    t0 = time.perf_counter()
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stderr=err, text=True)
    ready_s, result, procs = None, None, {}
    deadline = time.monotonic() + WORKER_TIMEOUT_S
    try:
        while True:
            left = deadline - time.monotonic()
            if left <= 0:
                raise TimeoutError(f"worker exceeded {WORKER_TIMEOUT_S} s")
            if not select.select([proc.stdout], [], [], left)[0]:
                continue
            line = proc.stdout.readline()
            if not line:
                break
            if line.startswith("@@ready"):
                ready_s = time.perf_counter() - t0
                procs.update(_tree(proc.pid))
            elif line.startswith("@@result "):
                result = json.loads(line[9:])
                procs.update(_tree(proc.pid))
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    finally:
        procs.update(_tree(proc.pid))
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        _reap(procs, 30.0)
    if proc.returncode != 0 or ready_s is None or result is None:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"worker {' '.join(args)} exited with {proc.returncode}")
    return ready_s, result


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*ROWS, "known_defects"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=None)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "scida_spark", "__init__.py")):
        fail(f"no scida_spark package beside {HERE}; run from a full checkout")
    sys.path.insert(0, ROOT)
    from pathbench import snapshot

    env = host_env()
    if a.workload == "known_defects":
        out = subprocess.run([sys.executable, "-m", "pathbench.defects"], cwd=ROOT,
                             env=env, stdout=subprocess.PIPE, text=True, check=False,
                             timeout=WORKER_TIMEOUT_S)
        sys.stdout.write(out.stdout)
        sys.exit(out.returncode)

    rows = a.rows or ROWS[a.workload]
    snap = snapshot.ensure(os.path.join(WORK, "snap"), rows, a.seed)
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    base = ["--workload", a.workload, "--snapshot", snap, "--work", work,
            "--seconds", str(a.seconds), "--trace", str(a.trace)]

    setup_s, res = run_worker(base, env, os.path.join(work, "worker.log"))
    metrics = {k: {"value": v, "unit": u} for k, (u, v) in res["metrics"].items()}
    if not a.trace:
        metrics["setup_s"] = {"value": setup_s, "unit": "s"}

    print(f"pathbench: {a.workload} rows={rows} seed={a.seed} setup_s={setup_s:.3f} "
          f"passes={res['passes']} "
          f"failures={res['failures']}", file=sys.stderr)
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
