"""Spark-free microbench of the numpy kernels, on inputs shaped like the
workloads': 256x256 warp blocks, 900-point Delaunay tiles, 65,536-row
batches. Each kernel repeats for a fixed time; the median call gives
operations per second and bytes per second (input bytes the call reads).
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from . import gen

BATCH = 65_536


def _time(fn, budget: float) -> float:
    """Median seconds per call over `budget` seconds (at least 3 calls)."""
    ts = []
    end = time.perf_counter() + budget
    while len(ts) < 3 or time.perf_counter() < end:
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def cases(seed: int):
    """name -> (callable, operations per call, input bytes per call)."""
    from gdal_spark.kernels import codecs as C
    from gdal_spark.kernels import hexcell as HX
    from gdal_spark.kernels import pip as PIP
    from gdal_spark.kernels import s2cell as S2
    from gdal_spark.kernels import warp as WK
    from gdal_spark.kernels import wkb as W
    from gdal_spark.kernels.delaunay import delaunay_np

    r = np.random.default_rng([seed, 7])
    src = gen.raster(seed, 512).astype(np.float64)
    sgt = (-13100000.0, 60.0, 0.0, 4000000.0, 0.0, -60.0)
    lon0, lat0 = WK.transform_coords(sgt[0], sgt[3], "EPSG:3857", "EPSG:4326")
    lon1, lat1 = WK.transform_coords(sgt[0] + 512 * 60.0, sgt[3] - 512 * 60.0, "EPSG:3857", "EPSG:4326")
    dgt = (lon0, (lon1 - lon0) / 512, 0.0, lat0, 0.0, (lat1 - lat0) / 512)

    def warp(res):
        return lambda: WK.warp_block(src, sgt, "EPSG:3857", (256, 256), dgt, "EPSG:4326", res,
                                     0.0, src_total_w=512, src_total_h=512)

    tile = gen.grid_points(seed, 900)
    tx, ty = tile["x"].to_numpy(), tile["y"].to_numpy()
    lat, lon = gen.hotspot_points(r, BATCH)
    zones = gen.zones(seed, 64)["geometry"].tolist()
    poly = zones[1]
    env = W.envelope(poly)
    plon = env[0] + (env[2] - env[0]) * r.random(BATCH) * 1.2
    plat = env[1] + (env[3] - env[1]) * r.random(BATCH) * 1.2
    img = np.repeat(gen.raster(seed, 256)[:, :, None], 3, axis=2)
    png = C.encode_png(img)
    wkb_bytes = sum(len(z) for z in zones)
    return {
        "warp_near": (warp("near"), 1, src.nbytes),
        "warp_cubic": (warp("cubic"), 1, src.nbytes),
        "delaunay": (lambda: delaunay_np(tx, ty), 1, tx.nbytes * 2),
        "pip": (lambda: PIP.points_in_wkb(plon, plat, poly), BATCH, plon.nbytes * 2),
        "hexcell": (lambda: HX.latlon_to_cell(lat, lon, 9), BATCH, lat.nbytes * 2),
        "s2cell": (lambda: S2.latlon_to_leaf(lat, lon), BATCH, lat.nbytes * 2),
        "wkb": (lambda: [W.decode_polygons(z) for z in zones], len(zones), wkb_bytes),
        "codecs": (lambda: C.decode_png(C.encode_png(img)), 1, img.nbytes + len(png)),
    }


def run(seed: int, budget: float = 0.3) -> dict:
    out = {}
    for name, (fn, ops, nbytes) in cases(seed).items():
        fn()  # first call outside the timing (imports, allocator warm-up)
        t = _time(fn, budget)
        out[f"kernel.{name}.per_s"] = ops / t
        out[f"kernel.{name}.bytes_per_s"] = nbytes / t
    return out
