"""Deterministic Group-A fixture generator (FIXTURES.md §A1-A9).

Synthesizes the fusion-shaped long-format tables the catalog layer
reads: logbook, 1-D waveforms (ip/vloop, ms time axis), multi-channel
arrays (bes, magnetics, usxr), 2-D profiles (mpts, chers), per-name
time axes (filterscopes), equilibrium tables + availability, and the
metadata node leaves. Everything is seeded — tests compare Spark plans
against numpy/DuckDB oracles on identical bytes.

Scale: the generator is linear in ``scale``; tests use the default
(small) size. These tables model the 100 TB layout: every fact table
carries ``shot`` as the partition key and is time-ordered within a
shot, so a cluster deployment partitions by shot and gets min/max
time-range pruning for free.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from fdf_spark.catalog.descriptors import EFIT_CANDIDATES

DEFAULT_SHOTS = tuple(range(141000, 141008))
XPS = (1048, 1049)
RUNDATES = (20240101, 20240102)


def _time_grid(rng: np.random.Generator, n: int, uniform: bool, t0: float = 0.0, dt: float = 1e-3) -> np.ndarray:
    if uniform:
        return t0 + dt * np.arange(n)
    # non-uniform: jittered spacing, strictly increasing (nearest-sample tests)
    steps = dt * (0.5 + rng.random(n))
    return t0 + np.cumsum(steps)


def generate(data_dir: str, shots: tuple[int, ...] = DEFAULT_SHOTS, seed: int = 42) -> str:
    os.makedirs(data_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = lambda base: max(8, int(base))

    frames: dict[str, pd.DataFrame] = {}

    # A1 logbook -----------------------------------------------------------
    rows = []
    dbkey = 0
    for shot in shots:
        xp = XPS[shot % len(XPS)]
        rundate = RUNDATES[shot % len(RUNDATES)]
        for _ in range(int(rng.integers(2, 6))):
            dbkey += 1
            rows.append(
                dict(
                    dbkey=dbkey,
                    username=f"user{int(rng.integers(1, 5))}",
                    rundate=rundate,
                    shot=shot,
                    xp=xp,
                    topic=str(rng.choice(["physics", "ops", "rf", "nbi"])),
                    text=f"entry {dbkey} for shot {shot}",
                    entered=pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=dbkey * 7),
                    voided=None if rng.random() > 0.03 else "x",
                )
            )
    frames["logbook"] = pd.DataFrame(rows)

    # A2 ip / vloop: ms time axis, half the shots non-uniform --------------
    for mod, amp in (("ip", 800.0), ("vloop", 2.0)):
        parts = []
        for i, shot in enumerate(shots):
            m = n(2000)
            t_ms = _time_grid(rng, m, uniform=(i % 2 == 0), dt=0.5)
            val = amp * np.sin(np.linspace(0, 3, m)) + rng.normal(0, amp * 0.01, m)
            parts.append(pd.DataFrame(dict(shot=shot, time_ms=t_ms, value=val)))
        frames[f"signal_{mod}"] = pd.concat(parts, ignore_index=True)

    # A3 bes: 32 channels, shared per-shot time grid -----------------------
    parts = []
    for shot in shots:
        m = n(512)
        t = _time_grid(rng, m, uniform=True, dt=2e-6)
        for ch in range(1, 33):
            val = -9.5 + 0.3 * np.sin(2 * np.pi * (ch % 7 + 1) * 1e4 * t) + rng.normal(0, 0.05, m)
            parts.append(pd.DataFrame(dict(shot=shot, channel=ch, time=t, value=val)))
    frames["signal_bes"] = pd.concat(parts, ignore_index=True)

    # magnetics: named series + highn channel table ------------------------
    parts = []
    for shot in shots:
        for name in ("highf", "lowf_oddn", "lowf_evenn", "midf_oddn", "midf_evenn"):
            m = n(1024)
            t = _time_grid(rng, m, uniform=True, dt=1e-5)
            val = rng.normal(0, 1.0, m)
            parts.append(pd.DataFrame(dict(shot=shot, name=name, time=t, value=val)))
    frames["signal_magnetics"] = pd.concat(parts, ignore_index=True)
    parts = []
    for shot in shots:
        m = n(512)
        t = _time_grid(rng, m, uniform=True, dt=1e-5)
        for ch in range(1, 17):
            parts.append(
                pd.DataFrame(dict(shot=shot, channel=ch, time=t, value=rng.normal(0, 1.0, m)))
            )
    frames["signal_magnetics_highn"] = pd.concat(parts, ignore_index=True)

    # A4 usxr: 3 arrays × 16 channels, known +offset for baseline check ----
    parts = []
    for shot in shots:
        m = n(1100)
        t = _time_grid(rng, m, uniform=True, dt=1e-4)
        for arr in ("vtop", "hup", "hdown"):
            for ch in range(16):
                offset = 100.0 + 10.0 * ch
                val = offset + np.sin(np.linspace(0, 6, m)) + rng.normal(0, 0.1, m)
                parts.append(
                    pd.DataFrame(dict(shot=shot, array=arr, channel=ch, time=t, value=val))
                )
    frames["signal_usxr"] = pd.concat(parts, ignore_index=True)

    # A5 mpts (+spline): 2-D profiles, cm radius, non-uniform time ---------
    for tbl, has_err in (("signal_mpts", True), ("signal_mpts_spline", False)):
        parts = []
        for shot in shots:
            nt, nr = n(60), n(30)
            times = _time_grid(rng, nt, uniform=False, dt=1e-2)
            radii = np.sort(20 + 130 * rng.random(nr))  # cm
            tt, rr = np.meshgrid(times, radii, indexing="ij")
            te = 2.0 * np.exp(-((rr - 100) ** 2) / 4000.0) * (1 + 0.1 * np.sin(tt * 50))
            ne = 5e13 * np.exp(-((rr - 100) ** 2) / 6000.0)
            d = dict(
                shot=shot,
                time=tt.ravel(),
                radius_cm=rr.ravel(),
                te=te.ravel(),
                ne=ne.ravel(),
            )
            if has_err:
                d["te_err"] = 0.05 * np.abs(te.ravel()) + 0.01
                d["ne_err"] = 0.05 * np.abs(ne.ravel()) + 1e11
            parts.append(pd.DataFrame(d))
        frames[tbl] = pd.concat(parts, ignore_index=True)

    # A6 chers (+derived+spline): different radius grid than mpts ----------
    base_cols = dict(
        signal_chers=("ti", "vt", "ft", "nc"),
        signal_chers_derived=("zeff", "nd", "pi"),
        signal_chers_spline=("tis", "vts", "zeffs", "ncs"),
    )
    for tbl, cols in base_cols.items():
        parts = []
        for shot in shots:
            nt, nr = n(40), n(20)
            times = _time_grid(rng, nt, uniform=False, dt=1.5e-2)
            radii = np.sort(25 + 120 * rng.random(nr))
            tt, rr = np.meshgrid(times, radii, indexing="ij")
            d = dict(shot=shot, time=tt.ravel(), radius=rr.ravel())
            for c in cols:
                v = rng.normal(1.0, 0.2) * np.exp(-((rr - 90) ** 2) / 5000.0)
                d[c] = v.ravel()
                if tbl != "signal_chers_spline":
                    d[f"d{c}"] = 0.05 * np.abs(v.ravel()) + 1e-3
            parts.append(pd.DataFrame(d))
        frames[tbl] = pd.concat(parts, ignore_index=True)

    # A8 filterscopes: five names, five different sample rates -------------
    parts = []
    names = (
        "bayg_dalpha_eies",
        "bayi_opipe_dalpha",
        "baye_dalf_haifa",
        "bayd_dalpha_haifa",
        "bayi_dalpha_eies",
    )
    for shot in shots:
        for k, name in enumerate(names):
            m = n(300 + 100 * k)
            t = _time_grid(rng, m, uniform=(k % 2 == 0), dt=1e-3 * (k + 1))
            parts.append(
                pd.DataFrame(
                    dict(shot=shot, name=name, time=t, value=np.abs(rng.normal(1, 0.3, m)))
                )
            )
    frames["signal_filterscopes"] = pd.concat(parts, ignore_index=True)

    # A7 efit tables + availability ----------------------------------------
    avail_rows, sc_parts, q_parts, p_parts = [], [], [], []
    for i, shot in enumerate(shots):
        trees = ["efit01", "efit02"] if i % 2 == 0 else ["efit01", "lrdfit01"]
        for tree in trees:
            avail_rows.append(dict(shot=shot, efit=tree))
            nt = n(50)
            times = _time_grid(rng, nt, uniform=True, dt=2e-2)
            wmhd = 2e5 * np.sin(np.linspace(0, 2, nt)) ** 2
            sc_parts.append(pd.DataFrame(dict(shot=shot, efit=tree, time=times, wmhd=wmhd)))
            psin = np.linspace(0, 1, n(20))
            tt, pp = np.meshgrid(times, psin, indexing="ij")
            q_parts.append(
                pd.DataFrame(
                    dict(shot=shot, efit=tree, time=tt.ravel(), psin=pp.ravel(),
                         qpsi=(1 + 3 * pp**2).ravel())
                )
            )
            nt3 = n(12)
            r = np.linspace(0.2, 1.6, n(16))
            z = np.linspace(-1.5, 1.5, n(16))
            tt, rr2, zz = np.meshgrid(times[:nt3], r, z, indexing="ij")
            p_parts.append(
                pd.DataFrame(
                    dict(shot=shot, efit=tree, time=tt.ravel(), r=rr2.ravel(), z=zz.ravel(),
                         psi=(np.exp(-((rr2 - 0.9) ** 2 + zz**2))).ravel())
                )
            )
    frames["efit_availability"] = pd.DataFrame(avail_rows)
    frames["efit_scalar"] = pd.concat(sc_parts, ignore_index=True)
    frames["efit_qpsi"] = pd.concat(q_parts, ignore_index=True)
    frames["efit_psirz"] = pd.concat(p_parts, ignore_index=True)

    # A9-adjacent: metadata node leaves (factory.py:1072-1101) -------------
    node_rows = []
    for shot in shots:
        for path in ("mpts", "mpts.spline", "chers", "chers.derived", "chers.spline"):
            node_rows.append(dict(shot=shot, container_path=path, node="valid", value="1"))
        node_rows.append(
            dict(shot=shot, container_path="mpts", node="comment", value=f"shot {shot} ok")
        )
    frames["signal_nodes"] = pd.DataFrame(node_rows)

    for name, df in frames.items():
        df.to_parquet(os.path.join(data_dir, f"{name}.parquet"), index=False)
    return data_dir
