"""Seeded benchmark inputs and their Spark-free reference results.

Inputs are materialized once per (workload, seed) under the work directory,
outside every timed phase, so the engine only ever receives generated
files. References are computed here with NumPy from the same arrays, never
through Spark.

Coordinates sit on a half-offset 1e-6-degree lattice, so no point lies
within 5e-7 degrees of a grid or admin edge: the integer ground truth below
is then unambiguous under any floating-point rounding of the engine's cell
arithmetic."""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EARTH_RADIUS_KM = 6371.0088
ADMINS = 10  # the synthetic country is 10 x 10 one-degree admins from (100E, 10N)

# assign_hotspot
HOT_POINTS = 1_000_000
HOT_SMALL = 200_000  # warms a fresh 1-core context before the scaling run
HOT_FILES = 8
HOT_ID_STRIDE = 10_000_000  # seed s owns point ids [s*stride, (s+1)*stride)

# raster_daily: QUERY_GRID geometry (0.05 degrees, 200 x 200 cells)
RASTER_DX = 0.05
RASTER_N = 200
RASTER_DAYS = 2  # jobs cycle through the days, each into an output of its own
RASTER_FILES = 4
UTC_SHIFT = 7  # local time of the synthetic country (lon 100-110E)


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer: a counter-based hash, so each point is a pure
    function of its id."""
    x = x.astype(np.uint64)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _unit(pid: np.ndarray, salt: int) -> np.ndarray:
    return (_mix(pid.astype(np.uint64) ^ np.uint64(salt)) >> np.uint64(11)).astype(
        np.float64
    ) / 2.0**53


def _lattice(u: np.ndarray, cells: int) -> np.ndarray:
    """Integer lattice index in [0, cells)."""
    return np.minimum((u * cells).astype(np.int64), cells - 1)


def _fresh(path: str) -> bool:
    """True when ``path`` still has to be generated (no completion marker)."""
    if os.path.exists(os.path.join(path, "_DONE")):
        return False
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return True


def _evict(parent: str, prefix: str, keep: str, retain: int = 4) -> None:
    """Keep the inputs of at most ``retain`` seeds per workload on disk."""
    if not os.path.isdir(parent):
        return
    old = sorted(
        (os.path.getmtime(os.path.join(parent, d)), d)
        for d in os.listdir(parent)
        if d.startswith(prefix) and d != keep
    )
    for _, d in old[: max(0, len(old) - (retain - 1))]:
        shutil.rmtree(os.path.join(parent, d), ignore_errors=True)


def hotspot_points(seed: int, n: int, offset: int = 0) -> dict[str, np.ndarray]:
    """80 % of points in the 0.5-degree hotspot inside admin 24's interior,
    the rest uniform over the country; ``value`` is integer-valued so every
    per-admin sum is exact in double precision."""
    pid = np.int64(seed) * HOT_ID_STRIDE + offset + np.arange(n, dtype=np.int64)
    hot = _mix(pid.astype(np.uint64) ^ np.uint64(0x5EED)) % np.uint64(5) < np.uint64(4)
    kx_hot = _lattice(_unit(pid, 1), 500_000)
    ky_hot = _lattice(_unit(pid, 2), 500_000)
    kx_uni = _lattice(_unit(pid, 3), 10_000_000)
    ky_uni = _lattice(_unit(pid, 4), 10_000_000)
    # micro-degree lattice offsets from (100E, 10N); hotspot starts at (104.25, 12.25)
    kx = np.where(hot, 4_250_000 + kx_hot, kx_uni)
    ky = np.where(hot, 2_250_000 + ky_hot, ky_uni)
    return {
        "pid": pid,
        "lon": 100.0 + (kx + 0.5) * 1e-6,
        "lat": 10.0 + (ky + 0.5) * 1e-6,
        "value": (pid % 1000).astype(np.float64),
        "admin": (ky // 1_000_000) * ADMINS + kx // 1_000_000,
    }


def _write_points(pts: dict[str, np.ndarray], path: str, files: int) -> None:
    table = pa.table({k: pts[k] for k in ("pid", "lat", "lon", "value")})
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


def hotspot_reference(pts: dict[str, np.ndarray]) -> dict[str, list[float]]:
    """admin_id -> [count, sum, min, max] of ``value``."""
    a, v = pts["admin"], pts["value"]
    n = ADMINS * ADMINS
    count = np.bincount(a, minlength=n)
    total = np.bincount(a, weights=v, minlength=n)
    vmin = np.full(n, np.inf)
    vmax = np.full(n, -np.inf)
    np.minimum.at(vmin, a, v)
    np.maximum.at(vmax, a, v)
    return {
        f"ADM2-{i:02d}": [int(count[i]), float(total[i]), float(vmin[i]), float(vmax[i])]
        for i in range(n)
        if count[i]
    }


def prepare_hotspot(work: str, seed: int) -> dict:
    parent = os.path.join(work, "inputs")
    name = f"assign_hotspot-s{seed}-n{HOT_POINTS}"
    root = os.path.join(parent, name)
    if _fresh(root):
        _evict(parent, "assign_hotspot-", name)
        pts = hotspot_points(seed, HOT_POINTS)
        os.makedirs(os.path.join(root, "points"))
        _write_points(pts, os.path.join(root, "points"), HOT_FILES)
        os.makedirs(os.path.join(root, "small"))
        _write_points(hotspot_points(seed, HOT_SMALL, HOT_POINTS), os.path.join(root, "small"), 4)
        with open(os.path.join(root, "reference.json"), "w") as f:
            json.dump(hotspot_reference(pts), f)
        open(os.path.join(root, "_DONE"), "w").close()
    with open(os.path.join(root, "reference.json")) as f:
        ref = json.load(f)
    return {
        "points": os.path.join(root, "points"),
        "small": os.path.join(root, "small"),
        "rows": HOT_POINTS,
        "reference": ref,
    }


def raster_days(seed: int) -> list[str]:
    start = dt.date(2019, 1, 1) + dt.timedelta(days=seed % 360)
    return [(start + dt.timedelta(days=k)).isoformat() for k in range(RASTER_DAYS)]


def _raster_day(seed: int, k: int) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(lat, lon, hourly values [24, cells] with NaN = missing, valid mask)
    for day ``k``. Pixel centers on the 0.05-degree grid; the NaN mask is a
    fixed sparse 'coastline'."""
    ix, iy = np.meshgrid(np.arange(RASTER_N), np.arange(RASTER_N))
    ix, iy = ix.ravel(), iy.ravel()
    lon = 100.0 + (ix + 0.5) * RASTER_DX
    lat = 10.0 + (iy + 0.5) * RASTER_DX
    phase = (seed % 997) * 0.01 + 0.3 * k
    hours = np.arange(24)[:, None]
    vals = (
        280.0
        + 5.0 * np.sin(lon / 10.0 + phase)[None, :]
        + 3.0 * np.cos(lat / 10.0)[None, :]
        + 0.1 * ((hours + seed) % 24)
        + 0.01 * np.sin(hours * 0.7 + lon[None, :])
    )
    valid = ((ix * 7 + iy * 13) % 23) != 0
    vals[:, ~valid] = np.nan
    return lat, lon, vals, valid


def raster_reference(lat, lon, vals, valid) -> dict[str, list[float]]:
    """admin_id -> [coverage-area count (km2), area-weighted mean of the
    pixel daily means] for one day; every coverage fraction is 1 because
    admin edges fall on the grid."""
    daily = vals[:, valid].mean(axis=0)
    lat, lon = lat[valid], lon[valid]
    y_bot = lat - RASTER_DX / 2
    area = (
        EARTH_RADIUS_KM**2
        * math.radians(RASTER_DX)
        * (np.sin(np.radians(y_bot + RASTER_DX)) - np.sin(np.radians(y_bot)))
    )
    admin = (np.floor(lat - 10.0).astype(np.int64)) * ADMINS + np.floor(lon - 100.0).astype(np.int64)
    n = ADMINS * ADMINS
    cnt = np.bincount(admin, weights=area, minlength=n)
    num = np.bincount(admin, weights=area * daily, minlength=n)
    return {f"ADM2-{i:02d}": [float(cnt[i]), float(num[i] / cnt[i])] for i in range(n)}


def prepare_raster(work: str, seed: int) -> dict:
    parent = os.path.join(work, "inputs")
    name = f"raster_daily-s{seed}-d{RASTER_DAYS}"
    root = os.path.join(parent, name)
    days = raster_days(seed)
    if _fresh(root):
        _evict(parent, "raster_daily-", name)
        ref = {}
        for k, day in enumerate(days):
            lat, lon, vals, valid = _raster_day(seed, k)
            local0 = dt.datetime.fromisoformat(day) - dt.timedelta(hours=UTC_SHIFT)
            times = np.array(
                [np.datetime64(local0 + dt.timedelta(hours=h), "us") for h in range(24)]
            )
            cells = lat.size
            flat = vals.ravel()
            table = pa.table(
                {
                    "time": pa.array(np.repeat(times, cells), pa.timestamp("us", tz="UTC")),
                    "lat": np.tile(lat, 24),
                    "lon": np.tile(lon, 24),
                    "vartype": pa.DictionaryArray.from_arrays(
                        np.zeros(24 * cells, np.int8), pa.array(["instant"])
                    ),
                    "value": pa.array(flat, mask=np.isnan(flat)),
                }
            )
            d = os.path.join(root, f"day={day}")
            os.makedirs(d)
            step = -(-table.num_rows // RASTER_FILES)
            for i in range(RASTER_FILES):
                pq.write_table(table.slice(i * step, step), os.path.join(d, f"part-{i}.parquet"))
            ref[day] = raster_reference(lat, lon, vals, valid)
        with open(os.path.join(root, "reference.json"), "w") as f:
            json.dump(ref, f)
        open(os.path.join(root, "_DONE"), "w").close()
    with open(os.path.join(root, "reference.json")) as f:
        ref = json.load(f)
    return {
        "root": root,
        "days": days,
        "day_rows": 24 * RASTER_N * RASTER_N,
        "reference": ref,
    }
