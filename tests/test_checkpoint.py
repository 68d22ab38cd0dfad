"""Kill-resume checkpointing: per-partition lineage, no recompute."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gdal_spark import pipeline
from gdal_spark.operators.pages import pages_from_documents
from gdal_spark.operators.pip_join import pip_join_broadcast
from gdal_spark.operators.zones import zones_df
from gdal_spark.plans.checkpoint import SCHEMA_KEY, CheckpointStore

# the metrics-file layout every store has been written with
METRICS_SCHEMA = pa.schema([
    ("stage", pa.string()), ("part_id", pa.int32()), ("row_count", pa.int64()),
    ("bytes", pa.int64()), ("batch", pa.int32()), ("input_snapshot", pa.string()),
    ("wall_ms", pa.int64()),
])


@pytest.fixture()
def store(tmp_path):
    return CheckpointStore(str(tmp_path / "ckpt"))


def _transform(zones):
    def t(df):
        return pip_join_broadcast(df, zones).select("part_id", "url", "zone_id")

    return t


def _inferred(spark, store, stage):
    """What Spark infers over the stage's committed batch dirs."""
    dirs = [os.path.join(store.root, stage, f"batch={b}") for b in store.committed_batches(stage)]
    return spark.read.option("basePath", store.root).parquet(*dirs)


def _strip_recorded_schema(store, stage):
    """Rewrite the stage's metrics files as a store committed before the
    schema was recorded."""
    for b in store.committed_batches(stage):
        f = os.path.join(store.root, stage, "_metrics", f"batch-{b}.parquet")
        t = pq.read_table(f)
        meta = {k: v for k, v in t.schema.metadata.items() if k != SCHEMA_KEY}
        pq.write_table(t.replace_schema_metadata(meta), f)


def test_kill_then_resume_no_recompute(spark, sf_dir, store):
    pages = pages_from_documents(spark, sf_dir, keep_internal=True)
    zones = zones_df(spark)
    expected = {
        (r["url"], r["zone_id"]) for r in pip_join_broadcast(pages, zones).collect()
    }

    # first run dies after 2 of 4 batches
    with pytest.raises(RuntimeError, match="injected failure"):
        store.run_stage(
            spark, "pip", pages, _transform(zones), lineage_key="url",
            n_parts=8, n_batches=4, fail_after_batches=2,
        )
    partial = store.completed_parts("pip")
    assert 0 < len(partial) < 8

    # resume completes only the missing parts
    out = store.run_stage(
        spark, "pip", pages, _transform(zones), lineage_key="url",
        n_parts=8, n_batches=4,
    )
    got = {(r["url"], r["zone_id"]) for r in out.collect()}
    assert got == expected

    # lineage metrics cover all 8 parts exactly once
    m = store.metrics("pip")
    assert sorted(m["part_id"]) == list(range(8))
    rep = store.lineage_report("pip")
    assert rep["rows"] == len(expected)
    assert rep["bytes"] > 0
    assert rep["wall_ms"] == m.drop_duplicates("batch")["wall_ms"].sum() > 0

    # idempotent: a third run commits nothing new
    batches_before = store.committed_batches("pip")
    store.run_stage(
        spark, "pip", pages, _transform(zones), lineage_key="url",
        n_parts=8, n_batches=4,
    )
    assert store.committed_batches("pip") == batches_before


def test_noop_resume_starts_no_spark_job(spark, sf_dir, store, jobs_in_group):
    pages = pages_from_documents(spark, sf_dir, keep_internal=True)
    zones = zones_df(spark)

    def run():
        return store.run_stage(spark, "pip", pages, _transform(zones),
                               lineage_key="url", n_parts=4, n_batches=2)

    # the fresh run must show up, or an empty job list proves nothing
    assert jobs_in_group("ckpt-fresh", run)
    assert jobs_in_group("ckpt-noop", run) == []


def test_metrics_file_format_and_row_counts(spark, sf_dir, store):
    pages = pages_from_documents(spark, sf_dir, keep_internal=True)
    out = store.run_stage(spark, "pip", pages, _transform(zones_df(spark)),
                          lineage_key="url", n_parts=8, n_batches=2)
    for b in store.committed_batches("pip"):
        schema = pq.read_schema(os.path.join(store.root, "pip", "_metrics", f"batch-{b}.parquet"))
        assert schema.remove_metadata().equals(METRICS_SCHEMA), schema
        assert SCHEMA_KEY in schema.metadata

    # footer row counts == what the committed data holds, per part
    counted = {r["part_id"]: r["count"] for r in out.groupBy("part_id").count().collect()}
    m = store.metrics("pip")
    assert dict(zip(m["part_id"], m["row_count"])) == {p: counted.get(p, 0) for p in range(8)}
    assert out.schema == _inferred(spark, store, "pip").schema


def test_store_without_recorded_schema_resumes(spark, sf_dir, store):
    pages = pages_from_documents(spark, sf_dir, keep_internal=True)
    zones = zones_df(spark)
    kw = dict(lineage_key="url", n_parts=8, n_batches=4)
    with pytest.raises(RuntimeError, match="injected failure"):
        store.run_stage(spark, "pip", pages, _transform(zones), fail_after_batches=2, **kw)
    _strip_recorded_schema(store, "pip")
    old = store.load(spark, "pip")
    assert old.schema == _inferred(spark, store, "pip").schema
    assert old.count() == store.lineage_report("pip")["rows"]

    out = store.run_stage(spark, "pip", pages, _transform(zones), **kw)
    assert store.completed_parts("pip") == set(range(8))
    assert out.count() == pip_join_broadcast(pages, zones).count()

    # all-old again: a no-op resume commits nothing and still loads
    _strip_recorded_schema(store, "pip")
    batches = store.committed_batches("pip")
    again = store.run_stage(spark, "pip", pages, _transform(zones), **kw)
    assert store.committed_batches("pip") == batches
    assert again.schema == out.schema
    assert again.count() == out.count()


def test_empty_stage_commits_zero_rows(spark, sf_dir, store):
    pages = pages_from_documents(spark, sf_dir, keep_internal=True)

    def nothing(df):
        return df.filter(F.lit(False)).select("part_id", "url", "lat")

    kw = dict(lineage_key="url", n_parts=4, n_batches=2)
    out = store.run_stage(spark, "empty", pages, nothing, **kw)
    m = store.metrics("empty")
    assert sorted(m["part_id"]) == [0, 1, 2, 3]
    assert (m["row_count"] == 0).all()
    assert out.count() == 0
    assert out.schema.simpleString() == "struct<url:string,lat:double,batch:int,part_id:int>"

    # the empty stage is complete: a rerun commits nothing
    batches = store.committed_batches("empty")
    store.run_stage(spark, "empty", pages, nothing, **kw)
    assert store.committed_batches("empty") == batches


def test_pipeline_stage_schemas_match_inference(spark, sf_dir, tmp_path):
    """The recorded schema of every pipeline stage is the one Spark infers
    over the same batch dirs: timestamp warc_ts, int part_id. The pipeline
    drops the binary html at its first stage, so a pages stage keeps it."""
    cs = CheckpointStore(str(tmp_path / "store"))
    pages = pages_from_documents(spark, sf_dir)
    pipeline.run(spark, cs, pages, "test", n_parts=4)
    cs.run_stage(spark, "pages", pages, lambda df: df, lineage_key="url", n_parts=4)
    for stage in ("index", "pip", "pixels", "pyramid", "pages"):
        assert cs.load(spark, stage).schema == _inferred(spark, cs, stage).schema, stage
