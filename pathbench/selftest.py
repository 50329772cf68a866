"""Tiny-size self-test of the benchmark (about five minutes on 4 cores).

    python3 pathbench/selftest.py

Runs every workload (halo_lookup too) untraced and traced on a
6,000-row snapshot and checks that each prints every metric
BENCHMARK.json names, with its unit, and that every ground-truth check
passes. Then checks that
``known_defects`` reports exactly its two defects, and that the
benchmark refuses to run (non-zero exit, no result line) from a
directory holding only BENCHMARK.json and the benchmark's files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ROWS = 6000


def run(args, cwd=ROOT):
    return subprocess.run([sys.executable, os.path.join("pathbench", "run.py"), *args],
                          cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=300, check=False)


def last_json(proc):
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]) if lines else None


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    # halo_lookup is not in BENCHMARK.json (see README.md) but stays runnable
    for w in [*(x["name"] for x in spec["workloads"]), "halo_lookup"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            p = run(["--workload", w, "--seed", "3", "--seconds", "1",
                     "--trace", str(trace), "--rows", str(ROWS)])
            out = last_json(p) if p.returncode == 0 else None
            tag = f"{w} trace={trace}"
            if out is None:
                problems.append(f"{tag}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if got != want:
                problems.append(f"{tag}: metrics {sorted(got.items())} != {sorted(want.items())}")
            if not (out["correct"] and out["failed"] == 0 and out["attempted"] > 0):
                problems.append(f"{tag}: checks failed: {out}")
            print(f"ok {tag}: attempted={out['attempted']} failed={out['failed']}")

    d = last_json(run(["--workload", "known_defects", "--seed", "1", "--seconds", "1"]))
    if not d or d["failures"] != ["uid_filter_leak", "add_subhalo_ids_last_halo_empty"]:
        problems.append(f"known_defects: {d}")

    bare = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "pathbench"),
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = run(["--workload", spec["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
             "--trace", "0"], cwd=bare)
    if p.returncode == 0 or p.stdout.strip():
        problems.append(f"bare directory: exit {p.returncode}, stdout {p.stdout!r}")
    shutil.rmtree(bare)

    for msg in problems:
        print("FAIL", msg)
    print("selftest:", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
