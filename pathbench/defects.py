"""Unmeasured ``known_defects`` check: reproduces two scida_spark defects
on a small generated snapshot and reports each as a failure until it is
fixed. The measured workloads avoid both triggers (a fresh handle per
lookup; subhalo IDs through the range join), so a fix lowers this
check's failure count without moving any timing.

    python3 pathbench/run.py --workload known_defects --seed 1 --seconds 1

1. ``uid_filter_leak``: a uid-range selection on a loaded handle leaks
   its narrowed split bounds into later scans of the same handle, so a
   following ``count()`` sees only the selected split(s).
2. ``add_subhalo_ids_last_halo_empty``: ``add_subhalo_ids`` raises
   ``IndexError`` when the last halo has ``GroupNsubs=0``.

A third check, ``subhalo_ids_rangejoin``, is the control: the range-join
path gives the right IDs on the same catalog.
"""

from __future__ import annotations

import json
import os
import sys
import traceback

import numpy as np
from pyspark.sql import functions as F

ROWS = 40_000
ROWS_PER_SPLIT = 4096


def main() -> None:
    from scida_spark.dataset import load
    from scida_spark.operators import catalog as C

    from pathbench import snapshot
    from pathbench.worker import spark_session

    work = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work", "defects")
    root = snapshot.ensure(os.path.join(work, "snap"), ROWS, 1)
    spark = spark_session(work)
    glen = np.load(os.path.join(root, "Group", "GroupLen.npy"))
    nsubs = np.load(os.path.join(root, "Group", "GroupNsubs.npy"))
    slen = np.load(os.path.join(root, "Subhalo", "SubhaloLen.npy"))

    def uid_filter_leak() -> bool:
        df = load(root, spark, rows_per_split=ROWS_PER_SPLIT)["PartType0"].df
        lo = 3 * ROWS_PER_SPLIT + 100
        n_sel = df.filter((F.col("uid") >= lo) & (F.col("uid") < lo + 1000)).count()
        n_all = df.count()
        print(f"known_defects: selected {n_sel} rows, then count() = {n_all} "
              f"(want {ROWS})", file=sys.stderr)
        return n_sel == 1000 and n_all == ROWS

    def add_subhalo_ids_last_halo_empty() -> bool:
        ds = load(root, spark, rows_per_split=ROWS_PER_SPLIT)
        assert nsubs[-1] == 0, "fixture must end with a halo without subhalos"
        out = C.add_subhalo_ids(ds["PartType0"].df, ds["Group"].df, ds["Subhalo"].df,
                                group_order_col="uid", sub_order_col="uid")
        return _subhalo_counts_ok(out)

    def subhalo_ids_rangejoin() -> bool:
        ds = load(root, spark, rows_per_split=ROWS_PER_SPLIT)
        out = C.add_subhalo_ids_rangejoin(
            ds["PartType0"].df, ds["Group"].df, ds["Subhalo"].df,
            group_order_col="uid", sub_order_col="uid")
        return _subhalo_counts_ok(out)

    def _subhalo_counts_ok(df) -> bool:
        got = {r["SubhaloID"]: r["count"] for r in df.groupBy("SubhaloID").count().collect()}
        want = dict(enumerate(slen.tolist()))
        want[snapshot.SENTINEL] = ROWS - int(slen.sum())
        return got == want and int(glen.sum()) <= ROWS

    checks = [uid_filter_leak, add_subhalo_ids_last_halo_empty, subhalo_ids_rangejoin]
    failures = []
    for check in checks:
        try:
            ok = check()
        except Exception:  # noqa: BLE001 — a raising defect is a reported failure
            traceback.print_exc()
            ok = False
        print(f"known_defects: {check.__name__}: {'ok' if ok else 'FAILED'}", file=sys.stderr)
        if not ok:
            failures.append(check.__name__)
    spark.stop()
    print(json.dumps({"correct": not failures, "attempted": len(checks),
                      "failed": len(failures), "failures": failures, "metrics": {}}))


if __name__ == "__main__":
    main()
