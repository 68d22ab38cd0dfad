"""Physical-plan evidence: pushdown, pruning, no gratuitous shuffles.

The scale claims in README.md, checked against .explain output.
"""

from pyspark.sql import functions as F

from gdal_spark.functions.cells_sql import with_hex_cells
from gdal_spark.operators import tiles as TI
from gdal_spark.operators.pages import pages_from_documents
from gdal_spark.operators.pip_join import pip_join_broadcast
from gdal_spark.operators.zones import zones_df


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_tile_assignment_no_shuffle(spark, sf_dir):
    """Tile assignment + pixel math is a narrow projection — zero
    exchanges end to end."""
    p = pages_from_documents(spark, sf_dir, keep_internal=True)
    d = TI.with_pixels(p.filter(F.col("lat").isNotNull()), 10)
    plan = plan_of(d)
    assert "Exchange" not in plan


def test_parquet_filter_pushdown(spark, sf_dir):
    """Base-column predicates reach the parquet scan (PushedFilters)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        (F.col("lang") == "en") & (F.col("doc_id") > 100)
    )
    plan = plan_of(docs)
    assert "PushedFilters" in plan
    assert "IsNotNull(lang)" in plan or "EqualTo(lang,en)" in plan


def test_pip_broadcast_no_pages_shuffle(spark, sf_dir):
    """Broadcast PIP join never shuffles the pages side: the only
    exchanges are broadcast exchanges of the (tiny) zones."""
    p = pages_from_documents(spark, sf_dir, keep_internal=True)
    j = pip_join_broadcast(p, zones_df(spark))
    plan = plan_of(j)
    import re

    non_broadcast_exchanges = [
        ln for ln in plan.splitlines()
        if re.search(r"\bExchange\b", ln) and "Broadcast" not in ln
    ]
    assert non_broadcast_exchanges == [], non_broadcast_exchanges


def test_hex_cell_stays_jvm(spark, sf_dir):
    """Cell assignment contains no Python eval nodes (pure codegen or
    interpreted JVM projection — never Arrow/Python)."""
    p = pages_from_documents(spark, sf_dir, keep_internal=True)
    d = with_hex_cells(p.filter(F.col("lat").isNotNull()))
    plan = plan_of(d)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_single_agg_for_tile_counts(spark, sf_dir):
    """tile_counts = exactly one shuffle (partial + final hash agg)."""
    p = pages_from_documents(spark, sf_dir, keep_internal=True)
    t = TI.tile_counts(p, 7)
    plan = plan_of(t)
    assert plan.count("Exchange") <= 2  # AQE may show shuffle read+write
    assert "HashAggregate" in plan


def test_bbox_covering_pushdown(spark, sf_dir, tmp_path):
    """GeoParquet-style bbox covering pruning on the engine's own page
    layout: an indexed pages table written to parquet carries lat/lon
    (and cell) columns whose row-group min/max stats serve as the bbox
    covering; range predicates reach the scan as PushedFilters so
    out-of-bbox row groups are skipped by the reader."""
    p = pages_from_documents(spark, sf_dir, keep_internal=True).filter(
        F.col("lat").isNotNull()
    )
    path = str(tmp_path / "pages_indexed")
    p.select("url", "lat", "lon").write.mode("overwrite").parquet(path)
    q = spark.read.parquet(path).filter(
        (F.col("lat") > 10.0) & (F.col("lat") < 20.0)
        & (F.col("lon") > -5.0) & (F.col("lon") < 5.0)
    )
    plan = plan_of(q)
    assert "PushedFilters" in plan
    frags = ("GreaterThan(lat,10.0)", "LessThan(lat,20.0)",
             "GreaterThan(lon,-5.0)", "LessThan(lon,5.0)")
    # the plan's PushedFilters list truncates with "..." — require most
    # of the bbox predicates to be visibly pushed
    assert sum(f in plan for f in frags) >= 3, plan


def test_warp_single_data_exchange(spark):
    """Warp = broadcast join (need side) + ONE hash exchange into the
    per-group python stage — the src blocks are never shuffled twice."""
    import numpy as np
    import re

    from gdal_spark.operators import raster as R

    arr = np.arange(64.0 * 64.0).reshape(64, 64)
    blocks, src = R.raster_from_array(
        spark, arr, (0, 0.01, 0, 0, 0, -0.01), "EPSG:4326", block=16
    )
    dst = R.RasterMeta(64, 64, (0, 0.01, 0, 0, 0, -0.01), "EPSG:3857", block=16)
    plan = plan_of(R.warp(blocks, src, dst, "near", gather="shuffle"))
    non_broadcast = [
        ln for ln in plan.splitlines()
        if re.search(r"\bExchange\b", ln) and "Broadcast" not in ln
    ]
    assert len(non_broadcast) <= 1, non_broadcast
    # broadcast gather (the small-raster auto path): ZERO exchanges —
    # a range skeleton straight into one python stage
    plan_b = plan_of(R.warp(blocks, src, dst, "near", gather="broadcast"))
    assert not re.search(r"\bExchange\b", plan_b), plan_b


def test_cheap_once_survives_optimizer(spark):
    """The anti-inlining barrier must not be optimized away: Spark 4.1
    folds `rand(7) >= -1.0` comparisons (the old cheap_once form) out of
    the plan entirely, which silently re-inlined hex_cell's mercator
    subtrees ~9x and pushed generated methods past the JVM's 64KB limit
    (janino fail -> interpreted). Pin the current form's survival."""
    from gdal_spark.functions.barrier import cheap_once

    df = spark.range(10).select((F.col("id") * 1.0).alias("x"))
    out = df.select(cheap_once(F.col("x") * 3.0 + 1.0).alias("y"))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "SPARK_PARTITION_ID" in plan or "spark_partition_id" in plan, plan


def test_ladder_explode_is_staged(spark, sf_dir):
    """pip_join_bucketed res=None: the 3 ladder cell ids must be staged
    as projected columns BEFORE the explode — Generate fuses everything
    downstream into one unsplittable generate_doConsume method, and three
    inlined hex trees exceed the 64KB method limit (janino fallback).
    The Generate node must therefore not contain the mercator math."""
    from gdal_spark.operators.pip_join import pip_join_bucketed

    p = pages_from_documents(spark, sf_dir, keep_internal=True)
    plan = plan_of(pip_join_bucketed(p, zones_df(spark)))
    gen_lines = [ln for ln in plan.splitlines() if "Generate explode" in ln]
    assert gen_lines, plan
    for ln in gen_lines:
        assert "TAN(" not in ln and "ln(" not in ln.lower(), ln[:400]


def test_simhash_pairs_no_cross_product(spark, sf_dir):
    """simhash banding meets candidates through equi-joins only — any
    CartesianProduct/BroadcastNestedLoop means the banding regressed to
    an all-pairs scan (quadratic at corpus scale)."""
    from gdal_spark.operators import dedup as DD

    corpus = DD.corpus_df(spark, sf_dir)
    pairs = DD.simhash_hamming_pairs(corpus=corpus)
    plan = plan_of(pairs)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_minhash_lsh_no_cross_product(spark, sf_dir):
    """MinHash LSH candidates come from band-bucket equi-joins plus the
    two narrow Jaccard join-backs — never a cross product."""
    from gdal_spark.operators import dedup as DD

    corpus = DD.corpus_df(spark, sf_dir)
    pairs = DD.lsh_pairs(corpus)
    plan = plan_of(pairs)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_jaccard_pairs_no_cross_product(spark, sf_dir):
    """Exact-Jaccard candidates come from the inverted-index self
    equi-join on the shingle key — never a cross product (which would be
    the naive all-pairs set comparison)."""
    from gdal_spark.operators import dedup as DD

    corpus = DD.corpus_df(spark, sf_dir)
    pairs = DD.jaccard_pairs(corpus)
    plan = plan_of(pairs)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # pinned strategy: shuffle-hash self-join on the shingle key. A
    # broadcast would recompute the whole index into a driver-collected
    # build side and ship it to every task (measured 2-3x slower at
    # sf0.1), and it caps at the broadcast size limit while the shuffled
    # form scales with the corpus.
    assert "ShuffledHashJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_ann_ivf_corpus_side_no_shuffle(spark, sf_dir):
    """IVF assignment is a scan-side codegen argmax: the corpus never
    shuffles before the probed-list join (broadcast exchanges of the
    tiny query/centroid tables are fine)."""
    import re

    from gdal_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = SIM.ann_ivf(emb, SIM.queries_subset(emb), k=5)
    plan = plan_of(out)
    assert "CartesianProduct" not in plan, plan


def test_dedup_embeddings_single_band_join(spark, sf_dir):
    """The embedding-dedup candidate stage is ONE exploded (band,
    bucket) self-equi-join — not B joins + union, and never a cross
    product (r4 commit 8992b09's win, pinned)."""
    import re

    from gdal_spark.operators.dedup import _emb_candidates

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    e = emb.select(
        F.col("vec_id").alias("vid"), F.col("embedding").alias("vec")
    )
    plan = plan_of(_emb_candidates(e, n_planes=16, n_bands=8, dim=64))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    joins = re.findall(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan)
    assert len(joins) == 1, (joins, plan)


def test_stratified_sample_window_group_limit(spark, sf_dir):
    """The rank<=n filter must compile to WindowGroupLimit on BOTH the
    map and reduce side (partial + final), so the shuffle carries at most
    n_per_key rows per key per map partition — never the full table."""
    from gdal_spark.operators import textstats as TS

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(TS.stratified_sample(docs, n_per_key=5))
    assert plan.count("WindowGroupLimit") == 2, plan


def test_knn_is_one_catalyst_plan(spark, sf_dir, jobs_in_group):
    """kNN builds without a driver collect (zero Spark jobs over a
    persisted, local queries table), its ring disks are JVM column math
    (no Python eval node), and every kNN/ANN re-rank is a window top-k:
    a partial WindowGroupLimit before the query_id shuffle, a final one
    after it."""
    from gdal_spark.operators import knn as KNN
    from gdal_spark.operators import similarity as SIM

    pages = pages_from_documents(spark, sf_dir, keep_internal=True)
    queries = spark.createDataFrame(
        [(0, 40.7223, -74.0271), (1, 51.4783, -0.1061)], "query_id int, qlat double, qlon double"
    ).persist()
    queries.count()
    built = []
    assert jobs_in_group(
        "knn-build", lambda: built.append(KNN.knn_cells(pages, queries, 4, res=7, ring=3))
    ) == []
    cells = plan_of(built[0])
    assert "ArrowEvalPython" not in cells and "BatchEvalPython" not in cells, cells
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    for plan in (cells, plan_of(KNN.knn_brute(pages, queries, 4)),
                 plan_of(SIM.ann_brute(emb, SIM.queries_subset(emb), 5))):
        assert plan.count("WindowGroupLimit") == 2, plan
    # the action must show up, or an empty job list proves nothing
    assert jobs_in_group("knn-run", built[0].count)
    queries.unpersist()
