"""Spark-side half of the benchmark: one process is one fresh driver and
JVM. ``run.py`` starts it, times it from process start to the ``@@ready``
line (set-up), and reads its ``@@result`` line.

    python3 -m pathbench.worker --workload W --snapshot DIR --work DIR \
        --seconds S --trace 0|1

Set-up is ``get_spark`` + ``load()`` (+ the workload's first-access
preparation) + one discarded warm-up pass. The worker then runs one
settling pass (checked, not timed) and measured passes until
``--seconds`` have gone by (at least ``MIN_PASSES``). With ``--trace 1``
it alternates untraced and traced passes of the workload, then runs one
traced pass of each other workload, so every per-layer metric is emitted.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys
import time

import numpy as np

WORKLOADS = ("snapshot_scan", "halo_catalog", "halo_lookup")
MIN_PASSES = 2  # measured passes of each kind: untraced, and traced with --trace 1


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def spark_session(work: str):
    """The engine's session, with every scratch path under ``work``."""
    from scida_spark.session import get_spark

    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return get_spark("pathbench", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    })


class Bench:
    """Per-process state: the session, the loaded handle and the
    workload preparations, each made once and traced as set-up spans."""

    def __init__(self, rec, root: str, work: str):
        self.rec, self.root, self.work = rec, root, work
        with np.load(os.path.join(root, "truth.npz")) as t:
            self.truth = {k: t[k] for k in t.files}
        self.spark = self.ds = self.temp = self.bounds = None

    def start(self) -> None:
        with self.rec.span("session.get_spark"):
            self.spark = spark_session(self.work)
        self.rec.sc = self.spark.sparkContext

    def prepare(self, workload: str) -> None:
        from pathbench import ops

        rec = self.rec
        if self.ds is None:
            with rec.span("dataset.load"):
                self.ds = ops.load_snapshot(self.spark, self.root)
        if workload == "snapshot_scan" and self.temp is None:
            with rec.span("fields.build"):
                self.temp = ops.build_temperature(self.ds["PartType0"])
        if workload == "halo_lookup" and self.bounds is None:
            with rec.span("setup.catalog_offsets"):
                self.bounds = ops.catalog_offsets(self.ds, self.truth)

    def run_pass(self, workload: str) -> float:
        """One pass; returns its wall time. Checks run afterwards."""
        from pathbench import ops

        rec = self.rec
        with rec.span("pass"):
            t0 = time.perf_counter()
            if workload == "snapshot_scan":
                ops.scan_pass(rec, self.ds["PartType0"], self.temp, self.truth)
            elif workload == "halo_catalog":
                ops.catalog_pass(rec, self.ds, self.truth)
            else:
                ops.lookup_pass(rec, self.spark, self.root, self.bounds, self.truth,
                                os.path.join(self.work, "cutout"))
            dt = time.perf_counter() - t0
        rec.run_checks()
        return dt

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this driver process plus its JVM."""
        jvm = self.spark.sparkContext._gateway.proc.pid
        return (vm_hwm_kb(os.getpid()) + vm_hwm_kb(jvm)) / 1024.0

    def scan_columns(self) -> int:
        """BatchScan output columns in the executed plan of Masses.sum."""
        from pyspark.sql import functions as F

        df = self.ds["PartType0"].df.agg(F.sum("Masses"))
        plan = df._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"BatchScan npydir\[([^\]]*)\]", plan)
        return len(m.group(1).split(",")) if m else 0


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def layer_metrics(bench: Bench, workload: str, passes: dict, setup_spans: list,
                  probe_ops: list) -> dict:
    """Per-layer metrics from the traced passes of ``workload`` (first
    choice), the set-up spans, then the probe passes of the others."""
    from pathbench import ops as O

    own_ops = [o for _, pass_ops in passes["traced"] for o in pass_ops]
    timed = [[(o.name, o.seconds) for o in own_ops],
             [(s["name"], s["end"] - s["start"]) for s in setup_spans],
             [(o.name, o.seconds) for o in probe_ops]]

    def durations(name):
        for src in timed:
            xs = [sec for n, sec in src if n == name]
            if xs:
                return xs
        return []

    def ops_named(name):
        return [o for o in own_ops if o.name == name] or [
            o for o in probe_ops if o.name == name]

    def leaf(o):
        return [s for s in o.stages if s["shuffle_read_bytes"] == 0]

    t = bench.truth
    rows = int(t["pt0_rows"])
    n_splits = -(-rows // O.ROWS_PER_SPLIT)
    cores = bench.spark.sparkContext.defaultParallelism
    scans = ops_named("sources.npy.scan")
    scan_s = _median([o.seconds for o in scans])
    k = len(t["lookup_halo"]) - 1
    row_bytes = sum(np.load(os.path.join(bench.root, "PartType0", f), mmap_mode="r")[:1].nbytes
                    for f in os.listdir(os.path.join(bench.root, "PartType0")))

    own_passes = passes["traced"]
    m = {
        "session.get_spark_s": ("s", _median(durations("session.get_spark"))),
        "dataset.load_s": ("s", _median(durations("dataset.load"))),
        "dataset.save_s": ("s", _median(durations("dataset.save"))),
        "dataset.save_bytes_per_input_byte": ("B/B", O.saved_bytes(
            os.path.join(bench.work, "cutout")) / (int(t["lookup_len"][k]) * row_bytes)),
        "sources.npy.scan_s": ("s", scan_s),
        "sources.npy.read_gbps": ("GB/s", rows * 8 / 1e9 / scan_s),
        "sources.npy.cols_scanned_ratio": ("ratio", bench.scan_columns() / 1.0),
        "sources.npy.tasks_full": ("count", _median(
            [sum(s["tasks"] for s in leaf(o)) for o in scans])),
        "sources.npy.split_read_ratio": ("ratio", _median(
            [sum(s["tasks"] for s in leaf(o)) / n_splits
             for o in ops_named("selector.lookup")])),
        "sources.npy.exec_busy_s": ("s", _median(
            [sum(s["run_ms"] for s in leaf(o)) / 1000.0 for o in scans])),
        "fields.build_s": ("s", _median(durations("fields.build"))),
        "fields.recipe_s": ("s", _median(durations("fields.recipe"))),
        "operators.histogram.histogram2d_s": (
            "s", _median(durations("operators.histogram.histogram2d"))),
    }
    for op in ("group_offsets", "add_group_ids_build", "grouped_sum",
               "subhalo_ids_rangejoin", "add_group_quantity", "segmented_apply"):
        m[f"operators.catalog.{op}_s"] = ("s", _median(durations(f"operators.catalog.{op}")))
    cat_passes = [pass_ops for _, pass_ops in own_passes] if workload == "halo_catalog" \
        else [[o for o in probe_ops if o.name.startswith("operators.catalog.")]]
    m["operators.catalog.shuffle_write_mb"] = ("MB", _median(
        [sum(s["shuffle_write_bytes"] for o in p for s in o.stages) / 1e6 for p in cat_passes]))
    m["selector.lookup_s"] = ("s", _median(durations("selector.lookup")))
    m["spark.jobs_per_pass"] = ("count", _median(
        [sum(o.jobs for o in p) for _, p in own_passes]))
    m["spark.exec_busy_frac"] = ("ratio", _median(
        [sum(s["run_ms"] for o in p for s in o.stages) / 1000.0 / (dt * cores)
         for dt, p in own_passes]))
    m["trace.overhead_frac"] = ("ratio", _median([dt for dt, _ in own_passes])
                                / _median(passes["untraced"]) - 1.0)
    return m


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--snapshot", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    from pathbench.trace import Recorder

    rec = Recorder()
    rec.traced = bool(a.trace)
    bench = Bench(rec, a.snapshot, a.work)
    bench.start()
    # a traced run also probes the other workloads, so that every
    # per-layer metric is emitted whichever workload is measured
    others = [w for w in WORKLOADS if w != a.workload] if a.trace else []
    for w in [a.workload, *others]:
        bench.prepare(w)
    # warm-up (discarded timings; results still checked)
    for w in [a.workload, *others]:
        rec.begin_pass(f"warmup-{w}", traced=False)
        bench.run_pass(w)
    setup_spans = list(rec.spans)
    print("@@ready", flush=True)

    # The first pass after the warm-up is still settling (often 10-20 %
    # slower): run it, check it, discard its time.
    rec.begin_pass("settle", traced=False)
    bench.run_pass(a.workload)
    passes = {"untraced": [], "traced": []}
    need = {"untraced": MIN_PASSES, "traced": MIN_PASSES if a.trace else 0}
    deadline = time.perf_counter() + a.seconds
    i = 0
    while time.perf_counter() < deadline or any(len(passes[k]) < n for k, n in need.items()):
        traced = bool(a.trace) and i % 2 == 1
        rec.begin_pass(f"pass-{i}", traced)
        dt = bench.run_pass(a.workload)
        if traced:
            rec.collect_stages()
            passes["traced"].append((dt, rec.ops))
        else:
            passes["untraced"].append(dt)
        i += 1
    if a.trace:
        probe_ops = []
        for w in others:
            rec.begin_pass(f"probe-{w}", traced=True)
            bench.run_pass(w)
            rec.collect_stages()
            probe_ops.extend(rec.ops)
        metrics = layer_metrics(bench, a.workload, passes, setup_spans, probe_ops)
        metrics["peak_rss_mb"] = ("MB", bench.peak_rss_mb())
        rec.dump(os.path.join(a.work, f"spans-{a.workload}.json"))
    else:
        metrics = {"pass_s": ("s", _median(passes["untraced"]))}
    result = {"metrics": metrics, "passes": [round(x, 3) for x in passes["untraced"]],
              "attempted": rec.attempted, "failed": rec.failed,
              "failures": sorted(set(rec.failures))}
    bench.spark.stop()
    print("@@result " + json.dumps(result), flush=True)


if __name__ == "__main__":
    sys.exit(main())
