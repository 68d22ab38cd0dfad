"""The workloads. Each one generates its inputs from the seed, loads them
in set-up, prepares its output checks, then runs a closed loop: one client
that submits the next operation only after the previous one finished. The
first round is cold (each operation's first run in the process); warm
rounds follow until the run's time is spent, and only they feed the rates.

Operations call the engine's public functions only; every output is
checked, and a failed or wrong operation counts into `failed`.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from . import gen, probes

PRIME = 1_000_003


def _rate(items: int, times: dict, op: str) -> float:
    """items per second of the median warm run of `op` (NaN if none passed)."""
    warm = times.get(op, {}).get("warm")
    return items / statistics.median(warm) if warm else float("nan")


def _cold(times: dict, op: str) -> float:
    cold = times.get(op, {}).get("cold")
    return statistics.median(cold) if cold else float("nan")


def _size(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(f"{path}/**/*.parquet", recursive=True))


class Workload:
    """Life cycle: generate (untimed) -> setup (timed, repeated) ->
    prepare_checks (untimed) -> loop(deadline) -> e2e()/layers()."""

    name = ""
    sizes: dict = {}

    def __init__(self, ctx):
        self.ctx = ctx
        self.size = self.sizes["smoke" if ctx.smoke else "full"]

    def generate(self) -> None:  # numpy + parquet, before the session exists
        pass

    def setup(self, spark) -> None:  # inputs written or persisted
        pass

    def prepare_checks(self, spark) -> None:
        pass

    def rounds(self) -> list:
        """The operations of one closed-loop round, in order."""
        raise NotImplementedError

    def e2e(self) -> dict:
        raise NotImplementedError

    def layers(self, spark) -> None:
        """Extra traced probes, run after the loop with tracing on."""

    def generic(self, named: dict) -> dict:
        """The workload's own metrics as the two rates every workload
        reports: primary_per_s and secondary_per_s (items per second)."""
        raise NotImplementedError


# ---------------------------------------------------------------- pipeline


class PagePipeline(Workload):
    """pages -> extract_geo -> with_cells -> pip_join_broadcast -> pixels ->
    pyramid_counts_fast, each stage through CheckpointStore.run_stage into a
    fresh store; then the same flow again on the completed store (resume)."""

    name = "page_pipeline"
    sizes = {"full": {"docs": 80_000}, "smoke": {"docs": 2_000}}
    STAGES = ("index", "pip", "pixels", "pyramid")
    # pipeline.py's 16 lineage partitions; one commit batch per stage
    # instead of run_stage's default 4 keeps a run inside the time budget
    ZOOM, MIN_ZOOM, N_PARTS, N_BATCHES = 8, 5, 16, 1
    RESUMES = 1  # no-op resumes after each warm flow, each one sample

    def generate(self):
        c = self.ctx
        self.docs_dir = os.path.join(c.work, "docs")
        os.makedirs(self.docs_dir, exist_ok=True)
        gen.documents(c.seed, self.size["docs"]).to_parquet(
            os.path.join(self.docs_dir, "documents.parquet"), index=False
        )
        self.pages_path = os.path.join(c.work, "pages")
        self.n_store = 0
        self.digest = None

    def setup(self, spark):
        from gdal_spark.operators.pages import pages_from_documents

        pages_from_documents(spark, self.docs_dir).select(
            "url", "warc_ts", "html", "text", "lang"
        ).write.mode("overwrite").parquet(self.pages_path)

    def prepare_checks(self, spark):
        import duckdb

        from gdal_spark.kernels import pip as PIP
        from gdal_spark.operators.pages import pages_cte_sql
        from gdal_spark.operators.zones import zones_df

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{self.docs_dir}/documents.parquet')"
        )
        pts = con.execute(
            f"WITH pages AS ({pages_cte_sql()}) SELECT lat, lon FROM pages"
        ).fetchdf()
        con.close()
        geo = pts.dropna()
        lat, lon = geo["lat"].to_numpy(float), geo["lon"].to_numpy(float)
        hits = 0
        for r in zones_df(spark).select("geometry").collect():
            hits += int(PIP.points_in_wkb(lon, lat, bytes(r["geometry"])).sum())
        self.expect = {"index": len(pts), "pip": hits, "geo": len(geo)}
        self.input_bytes = _size(self.pages_path)

    def _flow(self, spark, store):
        """The flow of gdal_spark/pipeline.py, over the seeded pages table.
        Returns each stage's wall time and the build records (driver.*) of
        every call that returned a lazy DataFrame."""
        from gdal_spark.operators import tiles as TI
        from gdal_spark.operators.index import with_cells
        from gdal_spark.operators.pages import extract_geo
        from gdal_spark.operators.pip_join import pip_join_broadcast
        from gdal_spark.operators.zones import zones_df

        tr = self.ctx.tracer
        snap = f"seed:{self.ctx.seed}"
        kw = dict(lineage_key="url", n_parts=self.N_PARTS, n_batches=self.N_BATCHES,
                  input_snapshot=snap)
        times, builds = {}, []

        def built(fn, *args):
            df, rec = tr.build(fn, *args)
            builds.append(rec)
            return df

        def stage(name, input_df, transform, **extra):
            with tr.span(f"ckpt.{name}") as s:
                out = store.run_stage(spark, name, input_df,
                                      lambda df: built(transform, df), **{**kw, **extra})
            times[name] = s["wall_s"]
            return out

        geo = built(extract_geo, spark.read.parquet(self.pages_path))
        zones = built(zones_df, spark)
        indexed = stage("index", geo, lambda df: with_cells(df).drop("html"))
        stage("pip", indexed, lambda df: pip_join_broadcast(df, zones).select(
            "part_id", "url", "zone_id", "name"))

        zoom, zmin = self.ZOOM, self.MIN_ZOOM

        def partial_pixels(df):
            d = TI.with_pixels(df.filter(F.col("lat").isNotNull()), zoom)
            return d.groupBy("part_id", "zoom", "tx", "ty", "px", "py").agg(
                F.count(F.lit(1)).alias("burn")
            )

        pixels = stage("pixels", indexed, partial_pixels)
        shift = zoom - zmin
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
                df.select("zoom", "tx", "ty", "px", "py", "burn"), zmin, zoom
            )
            anc = F.concat_ws(
                ":",
                (F.col("tx") / F.pow(F.lit(2), F.col("zoom") - zmin)).cast("long"),
                (F.col("ty") / F.pow(F.lit(2), F.col("zoom") - zmin)).cast("long"),
            )
            return out.withColumn("anc_key", anc).join(
                df.select("anc_key", "part_id").distinct(), "anc_key"
            ).drop("anc_key")

        stage("pyramid", merged, pyramid_stage, lineage_key="anc_key")
        return times, builds

    def _check(self, store) -> bool:
        """Stage row counts against the numpy oracle, and the pyramid digest:
        every zoom level sums to the geotagged page count, and the whole
        table hashes the same on every flow of the run. Reads the store's
        committed files directly (layout in plans/checkpoint.py), so the
        check adds no Spark job between operations."""
        rows = {
            st: sum(
                int(pd.read_parquet(f)["row_count"].sum())
                for f in glob.glob(os.path.join(store.root, st, "_metrics", "batch-*.parquet"))
            )
            for st in ("index", "pip")
        }
        ok = rows["index"] == self.expect["index"] and rows["pip"] == self.expect["pip"]
        dirs = [os.path.join(store.root, "pyramid", f"batch={b}") for b in store.committed_batches("pyramid")]
        pyr = pd.concat([pd.read_parquet(d) for d in dirs], ignore_index=True)
        per_zoom = pyr.groupby("zoom")["burn"].sum()
        ok &= list(per_zoom.index) == list(range(self.MIN_ZOOM, self.ZOOM + 1))
        ok &= bool((per_zoom == self.expect["geo"]).all())
        cols = ["zoom", "tx", "ty", "px", "py", "burn"]
        digest = (len(pyr), int(pd.util.hash_pandas_object(pyr[cols], index=False).sum()))
        if self.digest is None:
            self.digest = digest
        return ok and digest == self.digest

    def rounds(self):
        # a run has time for one warm round: two flows make its medians
        return [self._op_flow] * (2 if self.ctx.warm else 1)

    def _op_flow(self, spark):
        from gdal_spark.plans.checkpoint import CheckpointStore

        c, tr = self.ctx, self.ctx.tracer
        root = os.path.join(c.work, f"store{self.n_store}")
        self.n_store += 1
        store = CheckpointStore(root)
        with tr.span("flow") as rec:
            times, builds = self._flow(spark, store)
        ok = c.check(self._check(store), "page_pipeline flow")
        batches = {st: store.committed_batches(st) for st in self.STAGES}
        resumes = []
        # the cold round runs no resume, to keep runs short
        for _ in range(self.RESUMES if c.warm else 0):
            t0 = time.perf_counter()
            rtimes, _ = self._flow(spark, store)
            resumes.append(time.perf_counter() - t0)
            after = {st: store.committed_batches(st) for st in self.STAGES}
            ok &= c.check(after == batches, "page_pipeline resume added a batch")
            for st in self.STAGES:
                tr.add(f"ckpt.{st}.resume_s", rtimes[st])
        if ok:
            c.sample("flow", rec["wall_s"])
            for r in resumes:
                c.sample("resume", r)
        for st in self.STAGES:
            tr.add(f"ckpt.{st}.s", times[st])
        if tr.enabled:
            tr.record(rec)
            tr.record({k: sum(b.get(k, 0.0) for b in builds)
                       for k in ("driver.build_s", "driver.eager_jobs")})
            out_bytes = sum(_size(os.path.join(root, st)) for st in self.STAGES)
            tr.add("ckpt.bytes_per_input_byte", out_bytes / max(self.input_bytes, 1))
        shutil.rmtree(root, ignore_errors=True)

    def e2e(self):
        t = self.ctx.times
        return {
            "pipeline_pages_per_s": _rate(self.size["docs"], t, "flow"),
            "resume_s": 1.0 / _rate(1, t, "resume"),
            "cold_flow_s": _cold(t, "flow"),
        }

    def generic(self, named):
        return {
            "primary_per_s": named["pipeline_pages_per_s"],
            "secondary_per_s": self.size["docs"] / named["resume_s"],
        }

    def layers(self, spark):
        """The broadcast PIP join of the pip stage, alone: gate (build)
        time and candidate/hit rows. Then the raster and gridding probes."""
        from gdal_spark.operators.pages import extract_geo
        from gdal_spark.operators.pip_join import pip_join_broadcast
        from gdal_spark.operators.zones import zones_df

        geo = extract_geo(spark.read.parquet(self.pages_path))
        pip_probe(self.ctx, lambda: pip_join_broadcast(geo, zones_df(spark)), self.expect["pip"])
        probes.warp(self.ctx, spark)
        probes.gridding(self.ctx, spark)


def pip_probe(ctx, build, expect_hits):
    """One traced PIP join: its build (the eager gate jobs) and its
    candidate and hit rows."""
    tr = ctx.tracer
    df, brec = tr.build(build)
    with tr.span("pip.join") as s:
        hits = df.count()
    ctx.check(hits == expect_hits, f"pip probe hit rows {hits} != {expect_hits}")
    record_pip(tr, brec, s, hits)


def record_pip(tr, brec, span, hits):
    """pip.* of one join: gate (build) time, candidate rows (rows out of the
    join nodes, before the refine filter) and hit rows."""
    cand = span.get("join.rows", 0.0)
    tr.add("pip.gate_s", brec["driver.build_s"])
    tr.add("pip.hit_rows", hits)
    tr.add("pip.candidate_rows", cand)
    tr.add("pip.hit_ratio", hits / cand if cand else 0.0)


# ---------------------------------------------------------------- joins


class SpatialJoin(Workload):
    """pip_join(pages, zones) with default settings over > 5000 seeded
    polygons (the bucketed path), plus knn_cells(indexed=True, k=10) for
    > 10k query points against a cell index built in set-up."""

    name = "spatial_join"
    sizes = {
        "full": {"pages": 30_000, "zones": 5200, "queries": 10_500},
        "smoke": {"pages": 10_000, "zones": 5001, "queries": 10_001},
    }
    KNN_RES, KNN_RING, K = 9, 1, 10

    def generate(self):
        c = self.ctx
        r = gen.rng(c.seed, "pages")
        n = self.size["pages"]
        lat, lon = gen.hotspot_points(r, n, spread_deg=0.25, hot_share=0.7)
        ids = np.arange(n, dtype=np.int64)
        self.pages_pdf = pd.DataFrame(
            {"doc_id": ids, "url": [f"https://p{i}.example/" for i in ids], "lat": lat, "lon": lon}
        )
        self.zones_pdf = gen.zones(c.seed, self.size["zones"])
        self.q_pdf = gen.query_points(c.seed, self.size["queries"])
        self.sf_dir = os.path.join(c.work, "sf")
        if c.trace:
            probes.write_family_inputs(c.seed, self.sf_dir)

    def setup(self, spark):
        from gdal_spark.operators import knn as KNN

        self.pages = spark.createDataFrame(self.pages_pdf).persist()
        self.zones = spark.createDataFrame(self.zones_pdf).persist()
        self.queries = spark.createDataFrame(self.q_pdf).persist()
        self.index = KNN.index_pages_by_cell(self.pages, self.KNN_RES).persist()
        for df in (self.pages, self.zones, self.queries, self.index):
            df.count()

    def prepare_checks(self, spark):
        from gdal_spark.kernels import hexcell as HX
        from gdal_spark.kernels import pip as PIP
        from gdal_spark.kernels import wkb as W

        p = self.pages_pdf
        order = np.argsort(p["lon"].to_numpy())
        slon, slat = p["lon"].to_numpy()[order], p["lat"].to_numpy()[order]
        sid = p["doc_id"].to_numpy()[order]
        n = total = 0
        for zid, buf in zip(self.zones_pdf["zone_id"], self.zones_pdf["geometry"]):
            minx, miny, maxx, maxy = W.envelope(buf)
            lo = np.searchsorted(slon, minx, side="left")
            hi = np.searchsorted(slon, maxx, side="right")
            m = (slat[lo:hi] >= miny) & (slat[lo:hi] <= maxy)
            if not m.any():
                continue
            inside = PIP.points_in_wkb(slon[lo:hi][m], slat[lo:hi][m], buf)
            n += int(inside.sum())
            total += int((sid[lo:hi][m][inside] * PRIME + zid).sum())
        self.expect_join = (n, total)
        # kNN: exact top-k over each sampled query's ring-disk candidates
        cells = HX.latlon_to_cell(p["lat"].to_numpy(), p["lon"].to_numpy(), self.KNN_RES)
        q = self.q_pdf.sample(n=64, random_state=self.ctx.seed)
        disks = HX.k_ring(HX.latlon_to_cell(q["qlat"].to_numpy(), q["qlon"].to_numpy(), self.KNN_RES), self.KNN_RING)
        exp = {}
        for (qid, qlat, qlon), disk in zip(q[["query_id", "qlat", "qlon"]].itertuples(index=False), disks):
            m = np.isin(cells, disk)
            d = _haversine(p["lat"].to_numpy()[m], p["lon"].to_numpy()[m], qlat, qlon)
            urls = p["url"].to_numpy()[m]
            top = np.lexsort((urls, d))[: self.K]
            exp[int(qid)] = (list(urls[top]), d[top])
        self.expect_knn = exp

    def rounds(self):
        return [self._op_join, self._op_knn]

    def _op_join(self, spark):
        from gdal_spark.operators.pip_join import pip_join

        c, tr = self.ctx, self.ctx.tracer
        t0 = time.perf_counter()
        df, brec = tr.build(pip_join, self.pages, self.zones)
        dg = df.agg(F.count(F.lit(1)), F.sum(F.col("doc_id") * PRIME + F.col("zone_id")))
        with tr.span("pip.join") as s:
            got = tuple(dg.collect()[0])
        wall = time.perf_counter() - t0
        if c.check(got == self.expect_join, "pip_join rows/digest"):
            c.sample("join", wall)
        if tr.enabled:
            tr.record({**s, **brec})
            record_pip(tr, brec, s, got[0])

    def _op_knn(self, spark):
        from gdal_spark.operators import knn as KNN

        c, tr = self.ctx, self.ctx.tracer
        t0 = time.perf_counter()
        df, brec = tr.build(
            lambda: KNN.knn_cells(
                self.index, self.queries, self.K, res=self.KNN_RES, ring=self.KNN_RING,
                indexed=True,
            )
        )
        with tr.span("knn") as s:
            out = df.toPandas()
        wall = time.perf_counter() - t0
        ok = len(out) <= self.size["queries"] * self.K and out["query_id"].nunique() > 0
        by_q = {qid: g.sort_values("rank") for qid, g in out.groupby("query_id")}
        for qid, (urls, d) in self.expect_knn.items():
            g = by_q.get(qid)
            if g is None:  # no page in the query's ring disk
                ok &= not urls
                continue
            ok &= list(g["url"]) == urls and np.allclose(g["dist_m"], d, rtol=1e-9, atol=1e-6)
        if c.check(bool(ok), "knn_cells top-k"):
            c.sample("knn", wall)
        tr.add("knn.probe_s", s["wall_s"])
        if tr.enabled:
            tr.record({**s, **brec})
            cand = s.get("join.rows", 0.0)
            tr.add("knn.candidate_rows", cand)
            tr.add("knn.useful_ratio", len(out) / cand if cand else 0.0)

    def e2e(self):
        t = self.ctx.times
        return {
            "join_pages_per_s": _rate(self.size["pages"], t, "join"),
            "knn_queries_per_s": _rate(self.size["queries"], t, "knn"),
            "cold_join_s": _cold(t, "join"),
            "cold_knn_s": _cold(t, "knn"),
        }

    def generic(self, named):
        return {
            "primary_per_s": named["join_pages_per_s"],
            "secondary_per_s": named["knn_queries_per_s"],
        }

    def layers(self, spark):
        """The zone cover size, then one query per family."""
        from gdal_spark.operators.pip_join import zone_cells

        self.ctx.tracer.add("pip.zone_cover_rows", zone_cells(self.zones).count())
        probes.families(self.ctx, spark, self.sf_dir)


def _haversine(lat1, lon1, lat2, lon2):
    rl1, rl2 = np.radians(lat1), np.radians(lat2)
    dlat, dlon = np.radians(lat2 - lat1), np.radians(lon2 - lon1)
    a = np.sin(dlat / 2) ** 2 + np.cos(rl1) * np.cos(rl2) * np.sin(dlon / 2) ** 2
    return 2.0 * 6378137.0 * np.arcsin(np.sqrt(a))


WORKLOADS = {w.name: w for w in (PagePipeline, SpatialJoin)}
