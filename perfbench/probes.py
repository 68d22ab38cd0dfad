"""Traced-only probes: one call into each layer that the end-to-end loops do
not reach. They run once, after the loop, in a workload's traced run, so
the untraced runs and their time budget are untouched.

- `families`: one `__spark_entry__.queries()` entry per query family, cold
  (its first execution in the process) then warm, over a seeded sf
  directory; the warm result must equal the cold one.
- `warp`: `operators.raster.warp` near and cubic, 3857 -> 4326, over
  persisted packed-binary blocks of a seeded raster; every output block
  must equal the numpy `kernels.warp` result for the whole raster.
- `gridding`: `operators.gridding.triangulate_tiled` (the distributed
  side of `grid_linear`) over a seeded point set carrying a linear field,
  then `grid_linear`'s interpolation over its triangles; the triangle
  count must equal numpy `delaunay_np`'s on the same points, and every
  interpolated node must reproduce the plane.
"""

from __future__ import annotations

import hashlib
import io
import os
import re
from contextlib import redirect_stderr

import numpy as np
from pyspark.sql import functions as F

from . import gen

# family -> the query that stands for it
FAMILIES = {
    "pip": "pip_broadcast",
    "tiles": "tile_counts",
    "knn": "knn_cells",
    "dedup": "dedup_exact",
    "ann": "ann_brute",
    "warp": "warp_near",
    "dem": "hillshade",
    "ogr": "vector_translate",
    "overlay": "overlay_intersection",
    "gridding": "grid_linear",
    "polygonize": "polygonize",
}
FAMILY_DOCS, FAMILY_EMBEDDINGS = 5_000, 2_000

WARP_SIZE, WARP_BLOCK = 1024, 256
WARP_SRC_GT = (-13100000.0, 60.0, 0.0, 4000000.0, 0.0, -60.0)
WARP_ATOL = 1e-6  # on byte-valued pixels

# grid_linear sends more than 20,000 points to triangulate_tiled; the probe
# calls it directly on 4,000 (9 tiles), a size a traced run can afford
GRID_POINTS = 4_000
GRID_NODES = (0.0, 0.0, 10.0, 10.0, 100, 60)  # x0, y0, dx, dy, nx, ny
PLANE = (0.37, -1.25, 40.0)  # v = a*x + b*y + c


def write_family_inputs(seed: int, sf_dir: str) -> None:
    """The two tables the family queries read from their sf directory."""
    os.makedirs(sf_dir, exist_ok=True)
    gen.documents(seed, FAMILY_DOCS).to_parquet(f"{sf_dir}/documents.parquet", index=False)
    gen.embeddings(seed, FAMILY_EMBEDDINGS).to_parquet(f"{sf_dir}/embeddings.parquet", index=False)


def _norm(v):
    if isinstance(v, (float, np.floating)):
        return f"{float(v):.9g}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return hashlib.sha256(v).hexdigest()
    return repr(v)


def _digest(pdf) -> tuple:
    rows = sorted(repr(tuple(_norm(v) for v in r)) for r in pdf.itertuples(index=False))
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()


def families(ctx, spark, sf_dir: str) -> None:
    """family.<f>.cold_s / warm_s (wall of build + toPandas) and
    family.<f>.driver_s (build wall plus Catalyst phases of the warm run)."""
    import __spark_entry__ as E

    tr = ctx.tracer
    queries = E.queries()
    for fam, name in FAMILIES.items():
        got = []
        for kind in ("cold", "warm"):
            with tr.span(f"family.{fam}.{kind}") as s:
                df, brec = tr.build(queries[name], spark, sf_dir)
                got.append(_digest(df.toPandas()))
            tr.add(f"family.{fam}.{kind}_s", s["wall_s"])
        tr.add(f"family.{fam}.driver_s", brec["driver.build_s"] + sum(
            s.get(f"driver.{p}_s", 0.0) for p in ("analysis", "optimization", "planning")))
        ctx.check(got[0][0] > 0 and got[0] == got[1],
                  f"family {fam} ({name}): warm result differs from cold or is empty")


def warp(ctx, spark) -> None:
    """warp.near_s / warp.cubic_s: wall of the second (warm) call of each,
    including fetching the output blocks."""
    from gdal_spark.kernels import warp as WK
    from gdal_spark.kernels.warp import transform_coords
    from gdal_spark.operators import raster as R

    tr, n, gt = ctx.tracer, WARP_SIZE, WARP_SRC_GT
    arr = gen.raster(ctx.seed, n).astype(np.float64)
    blocks, src = R.raster_from_array(spark, arr, gt, "EPSG:3857", block=WARP_BLOCK)
    blocks = R.pack_blocks(blocks).persist()
    blocks.count()
    lon0, lat0 = transform_coords(gt[0], gt[3], "EPSG:3857", "EPSG:4326")
    lon1, lat1 = transform_coords(gt[0] + n * gt[1], gt[3] + n * gt[5], "EPSG:3857", "EPSG:4326")
    dgt = (lon0, (lon1 - lon0) / n, 0.0, lat0, 0.0, (lat1 - lat0) / n)
    dst = R.RasterMeta(n, n, dgt, "EPSG:4326", block=WARP_BLOCK)
    for res in ("near", "cubic"):
        for _ in range(2):  # the first call warms workers and codegen
            with tr.span(f"warp.{res}") as s:
                out = R.unpack_blocks(R.warp(blocks, src, dst, res)).toPandas()
        tr.add(f"warp.{res}_s", s["wall_s"])
        ref = WK.warp_block(arr, gt, "EPSG:3857", (n, n), dgt, "EPSG:4326", res, 0.0,
                            src_total_w=n, src_total_h=n)
        b = WARP_BLOCK
        diff = max(
            float(np.abs(np.asarray(r.block).reshape(r.h, r.w)
                         - ref[r.by * b:r.by * b + r.h, r.bx * b:r.bx * b + r.w]).max())
            for r in out.itertuples(index=False)
        )
        # cubic sums 16 weighted taps per pixel; a block window and the whole
        # raster may round the last bits differently
        ctx.check(len(out) == dst.nbx * dst.nby and diff <= WARP_ATOL,
                  f"warp {res}: blocks differ from the numpy kernel by up to {diff}")
    blocks.unpersist()


def gridding(ctx, spark) -> None:
    """grid.triangulate_s (triangulate_tiled: its eager passes plus the count
    of the triangle table), grid.tiles (tiles of its first pass, from its
    verbose log), grid.halo_ratio (rows into its Python UDFs over input
    points), grid.interp_s (grid_linear's node location and barycentric
    interpolation, `_interp_nodes`, over that triangle table)."""
    from gdal_spark.kernels.delaunay import delaunay_np
    from gdal_spark.operators.gridding import _interp_nodes, triangulate_tiled

    tr = ctx.tracer
    pdf = gen.grid_points(ctx.seed, GRID_POINTS)
    a, b, c = PLANE
    pdf["v"] = a * pdf["x"] + b * pdf["y"] + c
    pts = spark.createDataFrame(pdf).select(
        F.col("x").alias("px"), F.col("y").alias("py"), F.col("v").alias("pv")
    ).persist()
    pts.count()
    log = io.StringIO()
    with redirect_stderr(log), tr.span("grid.triangulate") as s:
        tri = triangulate_tiled(pts, verbose=True).persist()
        n_tri = tri.count()
    tiles = re.search(r"tiles=(\d+)", log.getvalue())
    tr.add("grid.triangulate_s", s["wall_s"])
    tr.add("grid.tiles", int(tiles.group(1)) if tiles else 0)
    tr.add("grid.halo_ratio", s.get("udf.rows_in", 0.0) / len(pdf))
    expect = len(delaunay_np(pdf["x"].to_numpy(), pdf["y"].to_numpy())[0])
    ctx.check(n_tri == expect, f"triangulate_tiled: {n_tri} triangles, numpy {expect}")

    x0, y0, dx, dy, nx, ny = GRID_NODES
    with tr.span("grid.interp") as s:
        out = _interp_nodes(spark, tri, x0, y0, dx, dy, nx, ny).toPandas()
    tr.add("grid.interp_s", s["wall_s"])
    plane = a * (x0 + out["ix"] * dx) + b * (y0 + out["iy"] * dy) + c
    ctx.check(len(out) > 0 and np.allclose(out["value"], plane, rtol=0, atol=1e-6),
              "grid interpolation: nodes do not reproduce the linear field")
    tri.unpersist()
    pts.unpersist()
