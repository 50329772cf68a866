"""Seeded gadget-style snapshot generator (numpy only) with numpy ground
truth for every operation the benchmark times.

Layout written under ``<root>/``::

    PartType0/{Coordinates,Velocities,ParticleIDs,Masses,Density,
               InternalEnergy,ElectronAbundance}.npy
    Group/{GroupLen,GroupLenType,GroupFirstSub,GroupNsubs,GroupPos,GroupMass}.npy
    Subhalo/{SubhaloLen,SubhaloLenType,SubhaloGrNr,SubhaloPos,SubhaloMass}.npy
    truth.npz        ground truth (plain arrays, no pickles)
    DONE             written last, after every file is fsync'ed

Row order follows the catalog invariant: particles of halo g are
contiguous and ordered by g, subhalo members come first inside their
halo (in subhalo order), the rest of the halo is inner fuzz, and the
unbound particles form the tail. Halo lengths follow a truncated power
law drawn at stratified quantiles, so every seed gives the same size
profile with different values; halos are ordered by mass; the smallest
halos, the last ones included, own no subhalos.

Run as a script to generate one snapshot and print its sizes::

    python3 pathbench/snapshot.py --rows 4000000 --seed 1 --out /tmp/snap
"""

from __future__ import annotations

import argparse
import json
import os
import shutil

import numpy as np

BOX = 100.0
SENTINEL = np.iinfo(np.int64).max
HIST_BINS = 64            # histogram2d is HIST_BINS x HIST_BINS over the box
UNBOUND_FRACTION = 0.1
ROWS_PER_HALO = 400       # mean particles per halo (sets the halo count)
N_APPLY_HALOS = 64        # segmented_apply runs on the first (largest) halos
# Lookup halos: one seed-chosen halo from each halo-rank stratum; the
# second one is also the saved cutout.
LOOKUP_STRATA = ((8, 64), (256, 2048))

# Temperature recipe constants (scida_spark.functions.physics).
_XH, _GAMMA, _M_P, _K_B, _UF = 0.76, 5.0 / 3.0, 1.672622e-24, 1.380650e-16, 1e10


def temperature(xe: np.ndarray, u: np.ndarray) -> np.ndarray:
    """Same expression order as the engine's recipe, term for term."""
    mu = 4.0 / (1.0 + 3.0 * _XH + (4.0 * _XH) * xe) * _M_P
    return _UF * (_GAMMA - 1.0) * u / _K_B * mu


def _halo_lengths(rng, n_bound: int, n_halos: int) -> np.ndarray:
    """Truncated power-law lengths (dN/dL ~ L^-1.9 over three decades),
    drawn at jittered stratified quantiles and scaled to sum to n_bound;
    sorted descending (mass order)."""
    a = 0.9
    u = (np.arange(n_halos) + rng.uniform(0.1, 0.9, n_halos)) / n_halos
    lo, hi = 1.0, 2000.0
    raw = (lo ** -a + u * (hi ** -a - lo ** -a)) ** (-1.0 / a)
    lens = np.maximum(8, np.floor(raw * n_bound / raw.sum())).astype(np.int64)
    lens = np.sort(lens)[::-1].copy()
    lens[0] += n_bound - lens.sum()
    return lens


def _subhalos(rng, glen: np.ndarray):
    """(nsubs per halo, subhalo lengths): a halo's subhalos cover 70-95 %
    of it (the rest is inner fuzz); only halos above ~100 particles host
    any, and the last tenth of the halos never do."""
    n = len(glen)
    p = np.clip((glen - 100) / 400.0, 0.0, 1.0)
    nsubs = np.where(rng.random(n) < p, 1 + rng.poisson(glen / 2000.0), 0)
    nsubs = np.minimum(nsubs, 24).astype(np.int64)
    nsubs[int(0.9 * n):] = 0
    slens = []
    for g in np.flatnonzero(nsubs):
        k = int(nsubs[g])
        bound = int(glen[g] * rng.uniform(0.7, 0.95))
        frac = np.sort(rng.dirichlet(np.full(k, 0.7)))[::-1]
        s = 1 + np.floor(frac * (bound - k)).astype(np.int64)
        slens.append(s)
    slen = np.concatenate(slens) if slens else np.zeros(0, np.int64)
    return nsubs, slen


def _len_type(length: np.ndarray) -> np.ndarray:
    """Per-particle-type lengths: every particle is PartType0."""
    return np.pad(length[:, None], ((0, 0), (0, 5)))


def _shuffled_ids(rng, n: int) -> np.ndarray:
    """Unique IDs 1..n in a seeded affine order (a full permutation
    without the cost of rng.permutation)."""
    a = int(rng.integers(n // 3, n)) | 1
    while np.gcd(a, n) != 1:
        a += 2
    return (np.arange(n, dtype=np.int64) * a + int(rng.integers(n))) % n + 1


def generate(rows: int, seed: int) -> dict[str, dict[str, np.ndarray]]:
    """All three containers as {container: {field: array}}."""
    rng = np.random.default_rng(abs(seed))
    n_halos = max(4, rows // ROWS_PER_HALO)
    n_bound = rows - int(rows * UNBOUND_FRACTION)
    glen = _halo_lengths(rng, n_bound, n_halos)
    nsubs, slen = _subhalos(rng, glen)
    goff = np.concatenate([[0], np.cumsum(glen)])
    gid = np.repeat(np.arange(n_halos), glen)

    centre = rng.uniform(10.0, 90.0, (n_halos, 3))
    radius = 0.02 * np.cbrt(glen)
    bulk = rng.normal(0.0, 150.0, (n_halos, 3))
    sigma = 8.0 * np.cbrt(glen)
    n_unb = rows - n_bound
    coords = np.empty((rows, 3))
    coords[:n_bound] = centre[gid] + rng.standard_normal((n_bound, 3)) * radius[gid, None]
    coords[n_bound:] = rng.uniform(0.0, BOX, (n_unb, 3))
    np.clip(coords, 0.0, np.nextafter(BOX, 0.0), out=coords)
    vel = np.empty((rows, 3))
    vel[:n_bound] = bulk[gid] + rng.standard_normal((n_bound, 3)) * sigma[gid, None]
    vel[n_bound:] = rng.normal(0.0, 50.0, (n_unb, 3))
    masses = rng.uniform(0.5, 1.5, rows) * 1e-3

    gmass = np.add.reduceat(masses[:n_bound], goff[:-1])
    first = np.concatenate([[0], np.cumsum(nsubs)])[:-1]
    firstsub = np.where(nsubs > 0, first, -1).astype(np.int64)
    sgrnr = np.repeat(np.arange(n_halos), nsubs)
    # subhalo start = its halo's offset + prior siblings' lengths
    scs = np.concatenate([[0], np.cumsum(slen)])
    sstart = goff[sgrnr] + scs[:-1] - scs[first[sgrnr]]
    smass = np.array([masses[a:a + b].sum() for a, b in zip(sstart, slen)])

    return {
        "PartType0": {
            "Coordinates": coords,
            "Velocities": vel,
            "ParticleIDs": _shuffled_ids(rng, rows),
            "Masses": masses,
            "Density": rng.lognormal(0.0, 1.0, rows),
            "InternalEnergy": rng.lognormal(7.0, 1.0, rows),
            "ElectronAbundance": rng.uniform(0.0, 1.2, rows),
        },
        "Group": {
            "GroupLen": glen,
            "GroupLenType": _len_type(glen),
            "GroupFirstSub": firstsub,
            "GroupNsubs": nsubs,
            "GroupPos": centre,
            "GroupMass": gmass,
        },
        "Subhalo": {
            "SubhaloLen": slen,
            "SubhaloLenType": _len_type(slen),
            "SubhaloGrNr": sgrnr.astype(np.int64),
            "SubhaloPos": centre[sgrnr],
            "SubhaloMass": smass,
        },
    }


def ground_truth(snap: dict, seed: int) -> dict[str, np.ndarray]:
    """numpy results of every timed operation (see ops.py)."""
    p, g = snap["PartType0"], snap["Group"]
    m, x, v = p["Masses"], p["Coordinates"], p["Velocities"]
    glen = g["GroupLen"]
    goff = np.concatenate([[0], np.cumsum(glen)])
    n_bound = int(goff[-1])
    rows = len(m)

    width = BOX / HIST_BINS
    xb = np.minimum(np.floor(x[:, 0] / width).astype(np.int64), HIST_BINS - 1)
    yb = np.minimum(np.floor(x[:, 1] / width).astype(np.int64), HIST_BINS - 1)
    cell = xb * HIST_BINS + yb
    hist_count = np.bincount(cell, minlength=HIST_BINS ** 2)
    hist_weight = np.bincount(cell, weights=m, minlength=HIST_BINS ** 2)

    gsum = np.append(np.add.reduceat(m[:n_bound], goff[:-1]), m[n_bound:].sum())
    gcnt = np.append(glen, rows - n_bound)
    slen = snap["Subhalo"]["SubhaloLen"]

    na = min(N_APPLY_HALOS, len(glen))
    apply_vdisp = np.array([_vdisp_weighted(m[a:b], v[a:b])
                            for a, b in zip(goff[:na], goff[1:na + 1])])

    rng = np.random.default_rng([abs(seed), 7])
    strata = [(lo, min(hi, len(glen))) for lo, hi in LOOKUP_STRATA if lo < len(glen)]
    lookup = np.array([rng.integers(lo, hi) for lo, hi in strata], dtype=np.int64)
    lk = []
    for h in lookup:
        a, b = goff[h], goff[h + 1]
        mm = m[a:b]
        com = (mm[:, None] * x[a:b]).sum(axis=0) / mm.sum()
        lk.append([mm.sum(), *com, np.sqrt(v[a:b].var(axis=0).sum()), b - a])

    return {
        "masses_sum": np.array(m.sum()),
        "temperature_mean": np.array(
            temperature(p["ElectronAbundance"], p["InternalEnergy"]).mean()),
        "hist_count": hist_count,
        "hist_weight": hist_weight,
        "group_offsets": goff[:-1],
        "group_mass_sum": gsum,           # per GroupID, unbound (sentinel) last
        "group_mass_mean": gsum / gcnt,
        "subhalo_count": np.append(slen, rows - slen.sum()),  # sentinel last
        "group_quantity_sum": np.array((g["GroupMass"] * glen).sum()),
        "apply_vdisp": apply_vdisp,
        "apply_npart": glen[:na],
        "lookup_halo": lookup,
        "lookup_offset": goff[lookup],
        "lookup_len": glen[lookup],
        "lookup_values": np.array(lk),    # mass, com x/y/z, vdisp, npart
        "pt0_rows": np.array(rows),
    }


def _vdisp_weighted(m: np.ndarray, v: np.ndarray) -> float:
    """Mass-weighted 3-D velocity dispersion (the segmented_apply kernel)."""
    vm = (m[:, None] * v).sum(axis=0) / m.sum()
    return float(np.sqrt((m * ((v - vm) ** 2).sum(axis=1)).sum() / m.sum()))


def _write_synced(path: str, arr: np.ndarray) -> None:
    with open(path, "wb") as fh:
        np.save(fh, arr)
        fh.flush()
        os.fsync(fh.fileno())


def write(root: str, rows: int, seed: int) -> None:
    """Generate and write one snapshot plus its ground truth; DONE last."""
    snap = generate(rows, seed)
    truth = ground_truth(snap, seed)
    tmp = root + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    for cname, fields in snap.items():
        os.makedirs(os.path.join(tmp, cname))
        for fname, arr in fields.items():
            _write_synced(os.path.join(tmp, cname, fname + ".npy"), arr)
    with open(os.path.join(tmp, "truth.npz"), "wb") as fh:
        np.savez(fh, **truth)
        fh.flush()
        os.fsync(fh.fileno())
    sizes = {c: {f: int(a.nbytes) for f, a in fs.items()} for c, fs in snap.items()}
    with open(os.path.join(tmp, "sizes.json"), "w") as fh:
        json.dump({"rows": rows, "seed": seed, "halos": len(snap["Group"]["GroupLen"]),
                   "subhalos": len(snap["Subhalo"]["SubhaloLen"]), "bytes": sizes}, fh)
    shutil.rmtree(root, ignore_errors=True)
    os.replace(tmp, root)
    with open(os.path.join(root, "DONE"), "w") as fh:
        fh.flush()
        os.fsync(fh.fileno())


def ensure(cache_dir: str, rows: int, seed: int) -> str:
    """Snapshot for (rows, seed) under ``cache_dir``, generated on a miss.
    Other cached snapshots are removed first, so the cache holds one."""
    name = f"r{rows}-s{seed}"
    root = os.path.join(cache_dir, name)
    if os.path.exists(os.path.join(root, "DONE")):
        return root
    os.makedirs(cache_dir, exist_ok=True)
    for entry in os.listdir(cache_dir):
        if entry != name:
            shutil.rmtree(os.path.join(cache_dir, entry), ignore_errors=True)
    write(root, rows, seed)
    return root


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    write(a.out, a.rows, a.seed)
    with open(os.path.join(a.out, "sizes.json")) as fh:
        print(fh.read())


if __name__ == "__main__":
    main()
