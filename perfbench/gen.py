"""Seeded input generators. Every table is a pure function of (seed, size).

The engine never generates its own inputs here: each generator returns
numpy/pandas data that the benchmark writes to parquet, or hands to
Spark, before set-up is timed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from gdal_spark.kernels import wkb as W
from gdal_spark.operators.pages import HOTSPOTS

WORDS = (
    "a the row column table query scan join hash merge sort filter group agg "
    "window stream batch vector data key value part line order customer spark "
    "small big fast slow"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]
TEXT_POOL = 4096
HOT = np.array([(lat / 1e7, lon / 1e7) for _, lat, lon in HOTSPOTS])


def rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per table, so resizing one leaves the others."""
    return np.random.default_rng([seed, sum(ord(c) << (8 * i) for i, c in enumerate(stream))])


def documents(seed: int, n: int) -> pd.DataFrame:
    """Text corpus: each document's text is drawn from a seeded pool of
    TEXT_POOL texts of 8-89 words.

    doc_ids are a seeded sample of a 20x wider id space, so the pages that
    ``pages_from_documents`` derives from them (geotags are a hash of
    doc_id) land on different points for every seed."""
    r = rng(seed, "documents")
    ids = np.sort(r.choice(n * 20, size=n, replace=False)).astype(np.int64)
    words = np.array(WORDS)
    pool = np.array(
        [" ".join(words[r.integers(0, len(words), size=k)]) for k in r.integers(8, 90, TEXT_POOL)],
        dtype=object,
    )
    pick = r.integers(0, TEXT_POOL, size=n)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": pool[pick],
            "lang": np.array(LANGS)[r.choice(5, size=n, p=[0.44, 0.14, 0.13, 0.14, 0.15])],
            "source": np.array([f"src{k}" for k in range(20)])[r.integers(0, 20, size=n)],
            "n_chars": np.array([len(t) for t in pool], dtype=np.int64)[pick],
        }
    )


def hotspot_points(r: np.random.Generator, n: int, spread_deg: float = 0.25, hot_share: float = 0.7):
    """(lat, lon) with `hot_share` of the points clustered on the pages
    hotspots (hot-cell skew) and the rest uniform over -60..70 lat."""
    hot = r.random(n) < hot_share
    k = r.integers(0, len(HOT), size=n)
    lat = np.where(hot, HOT[k, 0] + r.normal(0, spread_deg, n), r.uniform(-60, 70, n))
    lon = np.where(hot, HOT[k, 1] + r.normal(0, spread_deg, n), r.uniform(-180, 180, n))
    return lat, lon


def zones(seed: int, n: int) -> pd.DataFrame:
    """`n` polygons (zone_id, name, area, geometry WKB) clustered on the
    hotspots: even ids are convex (jittered regular polygons), odd ids
    concave (stars whose inner radius is 35-60% of the outer)."""
    r = rng(seed, "zones")
    lat, lon = hotspot_points(r, n, spread_deg=0.3, hot_share=0.9)
    rows = []
    for i in range(n):
        k = int(r.integers(5, 13))
        rad = float(r.uniform(0.005, 0.04))
        ang = np.sort(r.uniform(0, 2 * np.pi, size=k)) if i % 2 == 0 else np.linspace(
            0, 2 * np.pi, 2 * k, endpoint=False
        ) + r.uniform(0, np.pi)
        radius = np.full(len(ang), rad)
        if i % 2:
            radius[1::2] *= r.uniform(0.35, 0.6)
        ring = np.column_stack([lon[i] + radius * np.cos(ang) / np.cos(np.radians(lat[i])), lat[i] + radius * np.sin(ang)])
        buf = W.polygon_wkb([ring.tolist()])
        rows.append((i, f"z{i}", float(W.shoelace_area(buf)), buf))
    return pd.DataFrame(rows, columns=["zone_id", "name", "area", "geometry"])


def query_points(seed: int, n: int) -> pd.DataFrame:
    r = rng(seed, "knn_queries")
    lat, lon = hotspot_points(r, n, spread_deg=0.2, hot_share=0.85)
    return pd.DataFrame({"query_id": np.arange(n, dtype=np.int32), "qlat": lat, "qlon": lon})


def raster(seed: int, size: int) -> np.ndarray:
    """Byte raster: smooth seeded field plus noise (GDT_Byte range)."""
    r = rng(seed, "raster")
    y, x = np.mgrid[0:size, 0:size].astype(np.float32) / size
    f = np.zeros((size, size), np.float32)
    for _ in range(4):
        a, b, c, d = r.uniform(1, 9, 4)
        f += np.sin(a * x * np.pi + c) * np.cos(b * y * np.pi + d)
    f = (f - f.min()) / (np.ptp(f) + 1e-9) * 200 + r.integers(0, 56, size=(size, size))
    return f.astype(np.uint8)


def grid_points(seed: int, n: int) -> pd.DataFrame:
    """Scattered points on a 1000x600 domain with dense clusters (tile
    skew for the tiled triangulation); coordinates on a 1e-3 lattice."""
    r = rng(seed, "grid")
    c = r.uniform([100, 60], [900, 540], size=(6, 2))
    hot = r.random(n) < 0.5
    k = r.integers(0, 6, size=n)
    x = np.where(hot, c[k, 0] + r.normal(0, 40, n), r.uniform(0, 1000, n))
    y = np.where(hot, c[k, 1] + r.normal(0, 25, n), r.uniform(0, 600, n))
    x = np.round(np.clip(x, 0, 1000), 3)
    y = np.round(np.clip(y, 0, 600), 3)
    df = pd.DataFrame({"x": x, "y": y, "v": np.round(np.sin(x / 50) * 40 + y / 10, 3)})
    return df.drop_duplicates(["x", "y"], ignore_index=True)


def embeddings(seed: int, n: int, dim: int = 64) -> pd.DataFrame:
    """(vec_id, embedding float32[dim], label): unit vectors around 16
    seeded cluster centres."""
    r = rng(seed, "embeddings")
    centres = r.normal(size=(16, dim))
    label = r.integers(0, 16, size=n)
    v = centres[label] + r.normal(scale=0.6, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(v), "label": label.astype(np.int32)}
    )
