"""kNN: nearest pages to each query point.

GDAL core has no kNN operator (nearest appears only as a gridding metric,
GDALGridNearestNeighbor in alg/gdalgrid.cpp); the north star mandates
"kNN queries via H3 k-ring expansion with distance re-ranking". Two
strategies, each one Catalyst plan with no Python and no driver collect:

  * `knn_brute` — exact: broadcast the (small) query set, cross-join against
    pages, haversine re-rank. O(|Q| * |pages|) distance evals but all
    JVM-side; the oracle for the cell strategy.
  * `knn_cells` — the 100 TB path: queries explode to their k-ring of hex
    cells at `res` as column math (the JVM twin of kernels/hexcell.k_ring),
    equi-join pages on cell id (hash join on a pre-indexed pages column —
    no pages-side shuffle if pages are bucketed by cell). Candidate set is
    the ring disk only: cost O(|Q| * ring * pages_per_cell). Approximate
    in the standard LSH sense: exact iff the true k neighbors lie within
    the ring radius; callers size (res, k_ring) so ring_radius_m >= the
    k-th-neighbor distance bound they need.

Both re-rank through operators/topk.topk_per_group: row_number over
(query_id) filtered to rank <= k, which Spark plans as a partial
WindowGroupLimit before the shuffle and a final one after it, so no task
sorts a query's whole candidate set. Spark adds the partial limit only
for k <= spark.sql.optimizer.windowGroupLimitThreshold (1000 by default).

NULL coordinates: a query or page with a NULL lat or lon has no
neighbours and is no neighbour; both strategies drop it.

Determinism: ties broken by (dist_m, url) so output is a pure function of
the data — same rule every engine run and the DuckDB oracle can reproduce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells_sql import hex_cell
from ..functions.geo import haversine_m
from ..kernels import hexcell as HX
from .topk import topk_per_group


def _located(df: DataFrame, lat_col: str, lon_col: str) -> DataFrame:
    return df.filter(F.col(lat_col).isNotNull() & F.col(lon_col).isNotNull())


def _rerank(cand: DataFrame, k: int) -> DataFrame:
    return topk_per_group(cand, ["query_id"], ["dist_m", "url"], ["url", "dist_m"], k)


def knn_brute(
    pages: DataFrame,
    queries: DataFrame,
    k: int,
    lat_col: str = "lat",
    lon_col: str = "lon",
    sample_bound: float | None = None,
) -> DataFrame:
    """Exact kNN. queries: (query_id, qlat, qlon). Output: query_id, url,
    dist_m, rank (1..k). Broadcast-nested-loop join: no pages shuffle; the
    re-rank is the window top-k (each map task keeps k rows per query).

    sample_bound (0..1): threshold-refinement for large |Q| x |pages|. A
    first pass over a `sample_bound` fraction computes each query's
    sample k-th distance; the k-th distance in ANY subset is >= the true
    k-th distance, so filtering the full scan to dist <= bound provably
    keeps all true top-k. (Queries with < k sampled candidates get no
    bound — nothing is dropped.) Distance evals stay O(|Q| x N) codegen
    either way; the map-side sort ahead of the partial limit drops from
    O(|Q| x N) rows to O(|Q| x k / sample_bound)."""
    p = _located(pages, lat_col, lon_col)
    q = _located(queries, "qlat", "qlon")

    def cand_of(pp):
        return pp.crossJoin(F.broadcast(q)).withColumn(
            "dist_m",
            haversine_m(F.col(lat_col), F.col(lon_col), F.col("qlat"), F.col("qlon")),
        )

    cand = cand_of(p)
    if sample_bound:
        sk = _rerank(cand_of(p.sample(fraction=sample_bound, seed=7)), k)
        bounds = sk.groupBy("query_id").agg(
            F.max("dist_m").alias("_bound"), F.count(F.lit(1)).alias("_nb")
        ).select(
            "query_id",
            F.when(F.col("_nb") >= k, F.col("_bound")).alias("_bound"),
        )
        cand = cand.join(F.broadcast(bounds), "query_id", "left").filter(
            F.col("_bound").isNull() | (F.col("dist_m") <= F.col("_bound"))
        )
    return _rerank(cand, k)


def _ring_cells_df(queries: DataFrame, res: int, ring: int) -> DataFrame:
    """(query_id, qlat, qlon, cell) — one row per ring-disk cell.

    Pure column math: a staged projection computes the query's cell
    (barrier=False, as pip_join_bucketed stages before its explode), then
    the disk is `cell + (dq << 28) + dr` per ring offset — the cell id
    packs q and r additively. NULL coordinates have no cell and no row.
    The disk is one SQL string: a Column expression per offset costs
    three py4j round trips (0.1 s of driver time at ring 3)."""
    disk = ", ".join(f"_c + {(int(dq) << 28) + int(dr)}" for dq, dr in HX.ring_offsets(ring))
    return (
        _located(queries, "qlat", "qlon")
        .select("query_id", "qlat", "qlon",
                hex_cell(F.col("qlat"), F.col("qlon"), res, barrier=False).alias("_c"))
        .select("query_id", "qlat", "qlon", F.expr(f"explode(array({disk})) AS cell"))
    )


def index_pages_by_cell(
    pages: DataFrame,
    res: int,
    lat_col: str = "lat",
    lon_col: str = "lon",
    partitions: int | None = None,
) -> DataFrame:
    """Cell index over pages: the column `knn_cells` joins on. Build
    ONCE and reuse across query batches — at 100 TB this is a bucketed
    write (`bucketBy(n, "cell")`) maintained with the table, so the
    per-query cost is only the ring-disk probe, never a corpus rescan
    through the cube-rounding cell transform. Locally: persist() the
    result. `partitions` pre-shuffles by cell so downstream joins can
    reuse the partitioning."""
    p = pages.filter(F.col(lat_col).isNotNull()).withColumn(
        "cell", hex_cell(F.col(lat_col), F.col(lon_col), res)
    )
    if partitions:
        p = p.repartition(partitions, "cell")
    return p


def knn_cells(
    pages: DataFrame,
    queries: DataFrame,
    k: int,
    res: int = 7,
    ring: int = 1,
    lat_col: str = "lat",
    lon_col: str = "lon",
    indexed: bool = False,
) -> DataFrame:
    """H3-style k-ring kNN (north-star strategy): queries x ring-disk
    cells ⋈ pages indexed by cell, then the window top-k.
    `indexed=True` means pages already carry the `cell` column from
    index_pages_by_cell(res) — res MUST match the index resolution."""
    q = _ring_cells_df(queries, res, ring)
    if indexed:
        p = pages
    else:
        p = index_pages_by_cell(pages, res, lat_col, lon_col)
    cand = p.join(F.broadcast(q), "cell").withColumn(
        "dist_m", haversine_m(F.col(lat_col), F.col(lon_col), F.col("qlat"), F.col("qlon"))
    )
    return _rerank(cand, k)
