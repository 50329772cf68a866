"""The operations each workload times, and their ground-truth checks.

Every ``*_pass`` function runs one pass of a workload's fixed operation
sequence through ``scida_spark``'s public functions. Each operation runs
inside ``rec.op(name)``, which times it (and, when tracing, records a
span and tags its Spark jobs); the fetched result is handed to
``rec.check`` together with a checker that compares it with the numpy
ground truth *after* the pass, outside the timed region.
"""

from __future__ import annotations

import glob
import os

import numpy as np
from pyspark.sql import functions as F

from scida_spark.dataset import Dataset, load, register_default_fields
from scida_spark.fields import FieldContainer
from scida_spark.operators import catalog as C
from scida_spark.operators.histogram import histogram2d

from pathbench.snapshot import BOX, HIST_BINS, N_APPLY_HALOS, SENTINEL

RTOL = 1e-9           # float reductions: Spark and numpy sum in other orders
ROWS_PER_SPLIT = 1 << 20


def close(got, want, rtol=RTOL) -> bool:
    return bool(np.allclose(np.asarray(got, float), np.asarray(want, float),
                            rtol=rtol, atol=0.0))


def load_snapshot(spark, root: str) -> Dataset:
    return load(root, spark, rows_per_split=ROWS_PER_SPLIT)


# -- snapshot_scan ------------------------------------------------------------


def build_temperature(pt0: FieldContainer):
    """Register the bundled recipes and take the first (driver-side)
    access of Temperature."""
    register_default_fields(pt0)
    return pt0["Temperature"]


def scan_pass(rec, pt0: FieldContainer, temp, truth) -> None:
    df = pt0.df
    with rec.op("sources.npy.scan") as o:
        o.result = df.agg(F.sum("Masses")).collect()[0][0]
    rec.check(o, lambda r: close(r, truth["masses_sum"]))

    with rec.op("fields.recipe") as o:
        o.result = df.agg(F.avg(temp)).collect()[0][0]
    rec.check(o, lambda r: close(r, truth["temperature_mean"]))

    with rec.op("operators.histogram.histogram2d") as o:
        xy = df.select(F.col("Coordinates")[0].alias("x"),
                       F.col("Coordinates")[1].alias("y"), "Masses")
        o.result = histogram2d(xy, "x", "y", (0.0, BOX), (0.0, BOX),
                               (HIST_BINS, HIST_BINS), weight_col="Masses").collect()
    rec.check(o, lambda rows: _check_hist(rows, truth))


def _check_hist(rows, truth) -> bool:
    count = np.zeros(HIST_BINS ** 2, np.int64)
    weight = np.zeros(HIST_BINS ** 2)
    for r in rows:
        count[r["xbin"] * HIST_BINS + r["ybin"]] = r["count"]
        weight[r["xbin"] * HIST_BINS + r["ybin"]] = r["weight_sum"]
    return (np.array_equal(count, truth["hist_count"])
            and close(weight, truth["hist_weight"]))


# -- halo_catalog -------------------------------------------------------------


def vdisp_frame(g):
    """Per-halo pandas kernel: particle count and mass-weighted 3-D
    velocity dispersion."""
    import pandas as pd

    m = g["Masses"].to_numpy()
    v = g[["vx", "vy", "vz"]].to_numpy()
    vm = (m[:, None] * v).sum(axis=0) / m.sum()
    disp = np.sqrt((m * ((v - vm) ** 2).sum(axis=1)).sum() / m.sum())
    return pd.DataFrame({"GroupID": [g["GroupID"].iloc[0]], "npart": [len(g)],
                         "vdisp": [disp]})


def catalog_pass(rec, ds: Dataset, truth) -> None:
    parts, groups, subs = ds["PartType0"].df, ds["Group"].df, ds["Subhalo"].df

    with rec.op("operators.catalog.group_offsets") as o:
        o.result = (C.group_offsets(groups, "GroupLen", "uid")
                    .select("uid", "offset").toPandas())
    rec.check(o, lambda pdf: np.array_equal(
        pdf.sort_values("uid")["offset"].to_numpy(), truth["group_offsets"]))

    with rec.op("operators.catalog.add_group_ids_build"):
        withgid = C.add_group_ids_auto(parts, groups, length_col="GroupLen",
                                       group_order_col="uid")

    with rec.op("operators.catalog.grouped_sum") as o:
        o.result = C.grouped(withgid, "Masses").sum().mean().evaluate().toPandas()
    rec.check(o, lambda pdf: _check_grouped(pdf, truth))

    with rec.op("operators.catalog.subhalo_ids_rangejoin") as o:
        withsid = C.add_subhalo_ids_rangejoin(
            parts, groups, subs, group_order_col="uid", sub_order_col="uid")
        o.result = withsid.groupBy("SubhaloID").count().toPandas()
    rec.check(o, lambda pdf: _check_keyed(pdf, "SubhaloID", "count",
                                          truth["subhalo_count"], exact=True))

    with rec.op("operators.catalog.add_group_quantity") as o:
        gq = C.add_group_quantity(
            withgid, groups.select(F.col("uid").alias("GroupID"), "GroupMass"),
            ["GroupMass"])
        o.result = gq.agg(F.sum("GroupMass")).collect()[0][0]
    rec.check(o, lambda r: close(r, truth["group_quantity_sum"]))

    with rec.op("operators.catalog.segmented_apply") as o:
        first = withgid.filter(F.col("GroupID") < N_APPLY_HALOS).select(
            "GroupID", "Masses", *(F.col("Velocities")[i].alias(c)
                                   for i, c in enumerate(("vx", "vy", "vz"))))
        o.result = C.segmented_apply(
            first, "GroupID", vdisp_frame,
            "GroupID long, npart long, vdisp double").toPandas()
    rec.check(o, lambda pdf: _check_apply(pdf, truth))


def _keyed(pdf, key: str, val: str, n: int):
    """Per-ID values as a dense array of n entries, sentinel row last."""
    out = np.full(n, np.nan)
    k = pdf[key].to_numpy()
    idx = np.where(k == SENTINEL, n - 1, k)
    if len(pdf) != n or np.any(idx >= n) or len(np.unique(idx)) != n:
        return None
    out[idx] = pdf[val].to_numpy()
    return out


def _check_keyed(pdf, key, val, want, exact=False) -> bool:
    got = _keyed(pdf, key, val, len(want))
    if got is None:
        return False
    return np.array_equal(got, want) if exact else close(got, want)


def _check_grouped(pdf, truth) -> bool:
    return (_check_keyed(pdf, "GroupID", "sum_Masses", truth["group_mass_sum"])
            and _check_keyed(pdf, "GroupID", "mean_Masses", truth["group_mass_mean"]))


def _check_apply(pdf, truth) -> bool:
    pdf = pdf.sort_values("GroupID")
    n = len(truth["apply_npart"])
    return (np.array_equal(pdf["GroupID"].to_numpy(), np.arange(n))
            and np.array_equal(pdf["npart"].to_numpy(), truth["apply_npart"])
            and close(pdf["vdisp"].to_numpy(), truth["apply_vdisp"]))


# -- halo_lookup --------------------------------------------------------------


def catalog_offsets(ds: Dataset, truth) -> np.ndarray:
    """Halo uid bounds [offset, offset + len) from the group catalog
    (lookup set-up)."""
    groups = ds["Group"].df
    pdf = C.group_offsets(groups, "GroupLen", "uid").select("uid", "offset", "GroupLen").toPandas()
    pdf = pdf.sort_values("uid")
    off, length = pdf["offset"].to_numpy(), pdf["GroupLen"].to_numpy()
    if not np.array_equal(off, truth["group_offsets"]):
        raise RuntimeError("group catalog offsets disagree with the ground truth")
    return np.stack([off, off + length], axis=1)


def _halo_reduce(df, lo: int, hi: int):
    """Mass, centre of mass and velocity dispersion of uid range [lo, hi)."""
    sel = df.filter((F.col("uid") >= lo) & (F.col("uid") < hi))
    x, v = F.col("Coordinates"), F.col("Velocities")
    return sel.agg(
        F.sum("Masses"),
        *(F.sum(F.col("Masses") * x[i]) for i in range(3)),
        sum(F.var_pop(v[i]) for i in range(3)),
        F.count("*"),
    ).collect()[0]


def _check_lookup(row, want) -> bool:
    mass, mx, my, mz, var, n = row
    com = np.array([mx, my, mz]) / mass
    return (int(n) == int(want[5]) and close(mass, want[0])
            and close(com, want[1:4]) and close(np.sqrt(var), want[4], rtol=1e-7))


def lookup_pass(rec, spark, root: str, bounds, truth, out_dir: str) -> None:
    """Each lookup opens a fresh handle and reduces one halo by its uid
    range; the pass ends with a parquet save of one cutout and its
    re-open."""
    halos = truth["lookup_halo"]
    for i, h in enumerate(halos):
        with rec.op("dataset.load"):
            pt0 = load_snapshot(spark, root)["PartType0"].df
        lo, hi = (int(b) for b in bounds[h])
        with rec.op("selector.lookup") as o:
            o.result = _halo_reduce(pt0, lo, hi)
        rec.check(o, lambda r, want=truth["lookup_values"][i]: _check_lookup(r, want))

    # cutout: the last (smallest) lookup halo
    k = len(halos) - 1
    lo, hi = (int(b) for b in bounds[halos[k]])
    with rec.op("dataset.load"):
        pt0 = load_snapshot(spark, root)["PartType0"].df
    with rec.op("dataset.save"):
        cut = FieldContainer(name="cutout")
        cut["PartType0"] = FieldContainer(
            pt0.filter((F.col("uid") >= lo) & (F.col("uid") < hi)), name="PartType0")
        Dataset(path=root, data=cut).save(out_dir)
    with rec.op("dataset.reopen") as o:
        back = load(out_dir, spark)["PartType0"].df
        o.result = back.agg(F.count("*"), F.sum("Masses"), F.min("uid"),
                            F.max("uid")).collect()[0]
    want = truth["lookup_values"][k]
    rec.check(o, lambda r: (int(r[0]) == hi - lo and close(r[1], want[0])
                            and (r[2], r[3]) == (lo, hi - 1)))


def saved_bytes(out_dir: str) -> int:
    return sum(os.path.getsize(p) for p in
               glob.glob(os.path.join(out_dir, "*.parquet", "*.parquet")))
