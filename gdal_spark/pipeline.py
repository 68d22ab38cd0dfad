"""End-to-end checkpointed pipeline — the spark-submit entry point.

    spark-submit --py-files gdal_spark.zip -m ...  # or simply:
    python -m gdal_spark.pipeline --sf-dir /root/testdata/sf0.01 \
        --store /tmp/gs_store [--zoom 8] [--synthetic N]

Runs the full north-star flow with per-stage checkpointing + lineage
(plans/checkpoint.py): pages -> extract_geo -> cell index -> PIP join ->
rasterize -> pyramid, every stage committed per lineage partition so a
killed run resumes without recompute (re-invoke with the same --store).
Prints a JSON lineage report per stage.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import functions as F

from .operators import tiles as TI
from .operators.index import with_cells
from .operators.pages import extract_geo, pages_from_documents, synthetic_pages
from .operators.pip_join import pip_join_broadcast
from .operators.zones import zones_df
from .plans.checkpoint import CheckpointStore
from .session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--store", required=True)
    ap.add_argument("--zoom", type=int, default=8)
    ap.add_argument("--min-zoom", type=int, default=5)
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate N synthetic pages instead of reading sf-dir")
    ap.add_argument("--n-parts", type=int, default=16)
    args = ap.parse_args()

    spark = get_spark("gdal-spark-pipeline")
    spark.sparkContext.setLogLevel("WARN")

    if args.synthetic:
        pages = synthetic_pages(spark, args.synthetic).select(
            "url", "warc_ts", "html", "text", "lang"
        )
        snapshot = f"synthetic:{args.synthetic}"
    else:
        pages = pages_from_documents(spark, args.sf_dir)
        snapshot = f"sf:{args.sf_dir}"
    run(spark, CheckpointStore(args.store), pages, snapshot,
        zoom=args.zoom, min_zoom=args.min_zoom, n_parts=args.n_parts)


def run(spark, store: CheckpointStore, pages, snapshot: str,
        zoom: int = 8, min_zoom: int = 5, n_parts: int = 16) -> None:
    """The checkpointed flow over `pages` (url, warc_ts, html, text, lang),
    printing each stage's lineage report as one JSON line."""
    geo = extract_geo(pages)
    zones = zones_df(spark)

    # stage 1: extract + index (cells) — checkpointed by url hash
    indexed = store.run_stage(
        spark, "index", geo,
        lambda df: with_cells(df).drop("html"),
        lineage_key="url", n_parts=n_parts, input_snapshot=snapshot,
    )
    print(json.dumps(store.lineage_report("index")))

    # stage 2: PIP join
    store.run_stage(
        spark, "pip", indexed,
        lambda df: pip_join_broadcast(df, zones).select(
            "part_id", "url", "zone_id", "name"
        ),
        lineage_key="url", n_parts=n_parts, input_snapshot=snapshot,
    )
    print(json.dumps(store.lineage_report("pip")))

    # stage 3: partial pixel counts — lineage stays the input url
    # partition (partial aggregates are additive, the valid lineage unit
    # for an agg stage)
    def partial_pixels(df):
        d = TI.with_pixels(df.filter(F.col("lat").isNotNull()), zoom)
        return d.groupBy("part_id", "zoom", "tx", "ty", "px", "py").agg(
            F.count(F.lit(1)).alias("burn")
        )

    pixels = store.run_stage(
        spark, "pixels", indexed, partial_pixels,
        lineage_key="url", n_parts=n_parts, input_snapshot=snapshot,
    )
    print(json.dumps(store.lineage_report("pixels")))

    # stage 4: pyramid — lineage = the min-zoom ancestor tile, so every
    # partition owns all descendants of its z_min tiles and the pyramid
    # is computable per partition with no cross-partition children
    shift = zoom - min_zoom
    merged = (
        pixels.groupBy("zoom", "tx", "ty", "px", "py")
        .agg(F.sum("burn").alias("burn"))
        .withColumn(
            "anc_key",
            F.concat_ws(
                ":",
                (F.col("tx") / (1 << shift)).cast("long"),
                (F.col("ty") / (1 << shift)).cast("long"),
            ),
        )
    )

    def pyramid_stage(df):
        out = TI.pyramid_counts_fast(
            df.select("zoom", "tx", "ty", "px", "py", "burn"),
            min_zoom, zoom,
        )
        anc = F.concat_ws(
            ":",
            (F.col("tx") / F.pow(F.lit(2), F.col("zoom") - min_zoom)).cast("long"),
            (F.col("ty") / F.pow(F.lit(2), F.col("zoom") - min_zoom)).cast("long"),
        )
        return out.withColumn("anc_key", anc).join(
            df.select("anc_key", "part_id").distinct(), "anc_key"
        ).drop("anc_key")

    store.run_stage(
        spark, "pyramid", merged, pyramid_stage,
        lineage_key="anc_key", n_parts=n_parts, input_snapshot=snapshot,
    )
    print(json.dumps(store.lineage_report("pyramid")))


if __name__ == "__main__":
    main()
