"""Checkpointed stage execution with per-partition lineage + metrics.

North-rule requirement: "every stage checkpoints per-partition to Iceberg
with lineage + row-count/byte metrics so a killed job resumes without
recompute". Semantics modeled on the reference's idempotent tiling resume
(`gdal raster tile --resume` "generate only missing files",
/root/reference/apps/gdalalg_raster_tile.cpp:154): re-running a stage
computes ONLY lineage partitions that have no committed metrics.

This container has no Iceberg catalog, so the store is a directory of
parquet files with the same commit discipline Iceberg gives us (atomic
snapshot += files):

    <root>/<stage>/batch=<n>/part_id=<p>/*.parquet     data
    <root>/<stage>/_metrics/batch-<n>.parquet          lineage commit marker

A commit is the Spark write of the batch's data, then the metrics file,
written to a temporary name and renamed into place: the rename is the
visibility point. A kill mid-batch leaves an orphan data dir that is
ignored and overwritten on resume. The metrics file holds one row per
lineage partition of the batch, (stage, part_id, row_count, bytes, batch,
input_snapshot, wall_ms), and records the schema `load()` reads the stage
with as key-value metadata (`SCHEMA_KEY`). Row counts come from the
footers of the parquet files the write just produced, bytes from their
sizes, and the schema from the transform's output schema in the form
Spark's own inference gives it back (the data columns, then the
partition columns `batch` and `part_id` as int).

All bookkeeping is driver-side file I/O and starts no Spark job: resume
filters `part_id` against the committed metrics files, the commit reads
footers, and `load()` passes the recorded schema instead of inferring it.
Stores written before the schema was recorded fall back to inference.

On a real cluster the same class maps to `df.writeTo(table).append()` per
batch + a lineage table, and the partition column should be the stage's
natural shuffle key (cell bucket, tile id) so checkpointing adds no extra
shuffle: `part_id` is pmod(hash) of the lineage key, aligned with the
join/agg partitioning.
"""

from __future__ import annotations

import glob
import json
import os
import time
from typing import Callable

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

# metrics-file metadata key holding the stage's Spark schema (JSON)
SCHEMA_KEY = b"gdal_spark.schema"

_METRICS_DTYPES = {
    "stage": object, "part_id": "int32", "row_count": "int64", "bytes": "int64",
    "batch": "int32", "input_snapshot": object, "wall_ms": "int64",
}


def _read_schema(out: StructType) -> StructType:
    """The schema of `out` read back from batch=<n>/part_id=<p>/ dirs with
    a given schema: the data columns, then the partition columns as int (a
    data column named like one is replaced by it). A file source read makes
    every field nullable itself."""
    parts = ("batch", "part_id")
    return StructType(
        [f for f in out.fields if f.name not in parts]
        + [StructField(c, IntegerType(), True) for c in parts]
    )


class CheckpointStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------ state

    def _metrics_dir(self, stage: str) -> str:
        return os.path.join(self.root, stage, "_metrics")

    def _metrics_file(self, stage: str, batch: int) -> str:
        return os.path.join(self._metrics_dir(stage), f"batch-{batch}.parquet")

    def _metrics_files(self, stage: str) -> list[str]:
        return [self._metrics_file(stage, b) for b in self.committed_batches(stage)]

    def metrics(self, stage: str) -> pd.DataFrame:
        """All committed metrics rows of `stage`, read on the driver."""
        files = self._metrics_files(stage)
        if not files:
            return pd.DataFrame({c: pd.Series(dtype=t) for c, t in _METRICS_DTYPES.items()})
        return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)

    def completed_parts(self, stage: str) -> set[int]:
        return {
            p
            for f in self._metrics_files(stage)
            for p in pq.read_table(f, columns=["part_id"])["part_id"].to_pylist()
        }

    def committed_batches(self, stage: str) -> list[int]:
        return sorted(
            int(os.path.basename(f)[len("batch-") : -len(".parquet")])
            for f in glob.glob(os.path.join(self._metrics_dir(stage), "batch-*.parquet"))
        )

    # ------------------------------------------------------------ run

    def run_stage(
        self,
        spark: SparkSession,
        stage: str,
        input_df: DataFrame,
        transform: Callable[[DataFrame], DataFrame],
        lineage_key: str,
        n_parts: int = 16,
        n_batches: int = 4,
        input_snapshot: str = "",
        fail_after_batches: int | None = None,
    ) -> DataFrame:
        """Run `transform` over `input_df` checkpointed by lineage partition.

        part_id = pmod(xxhash64(lineage_key), n_parts) on the INPUT rows, so
        resume-filtering prunes input before the transform runs (analogous
        to Iceberg partition pruning on the lineage column). Missing parts
        are processed in n_batches commits; each commit = data write then
        metrics write (the visibility point). `fail_after_batches` injects
        a kill for tests. Returns the stage's committed output DataFrame.
        """
        done = self.completed_parts(stage)
        missing = [p for p in range(n_parts) if p not in done]
        part_col = F.pmod(F.xxhash64(F.col(lineage_key)), F.lit(n_parts))
        next_batch = max(self.committed_batches(stage), default=-1) + 1
        groups = [
            missing[i :: n_batches] for i in range(min(n_batches, len(missing)))
        ]
        for bi, parts in enumerate(groups):
            if fail_after_batches is not None and bi >= fail_after_batches:
                raise RuntimeError(f"injected failure before batch {bi}")
            t0 = time.time()
            batch_id = next_batch + bi
            sub = input_df.withColumn("part_id", part_col).filter(
                F.col("part_id").isin(parts)
            )
            out = transform(sub)
            if "part_id" not in out.columns:
                raise ValueError("transform must preserve the part_id column")
            data_dir = os.path.join(self.root, stage, f"batch={batch_id}")
            out.write.mode("overwrite").partitionBy("part_id").parquet(data_dir)
            wall_ms = int((time.time() - t0) * 1000)
            rows, sizes = [], []
            for p in parts:
                files = glob.glob(os.path.join(data_dir, f"part_id={p}", "*.parquet"))
                rows.append(sum(pq.read_metadata(f).num_rows for f in files))
                sizes.append(sum(os.path.getsize(f) for f in files))
            mdf = pd.DataFrame({
                "stage": stage, "part_id": parts, "row_count": rows, "bytes": sizes,
                "batch": batch_id, "input_snapshot": input_snapshot, "wall_ms": wall_ms,
            }).astype(_METRICS_DTYPES)
            table = pa.Table.from_pandas(mdf)
            table = table.replace_schema_metadata({
                **table.schema.metadata, SCHEMA_KEY: _read_schema(out.schema).json(),
            })
            os.makedirs(self._metrics_dir(stage), exist_ok=True)
            tmp = os.path.join(self._metrics_dir(stage), f".batch-{batch_id}.tmp")
            pq.write_table(table, tmp)
            os.replace(tmp, self._metrics_file(stage, batch_id))
        return self.load(spark, stage)

    def load(self, spark: SparkSession, stage: str) -> DataFrame:
        """Committed output only: union of batch dirs that have metrics,
        read with the schema recorded by the newest commit."""
        batches = self.committed_batches(stage)
        dirs = [
            os.path.join(self.root, stage, f"batch={b}")
            for b in batches
            if os.path.isdir(os.path.join(self.root, stage, f"batch={b}"))
        ]
        if not dirs:
            raise FileNotFoundError(f"no committed batches for stage {stage}")
        reader = spark.read.option("basePath", self.root)
        recorded = pq.read_schema(self._metrics_file(stage, batches[-1])).metadata or {}
        if SCHEMA_KEY in recorded:
            reader = reader.schema(StructType.fromJson(json.loads(recorded[SCHEMA_KEY])))
        # else: a store committed before schemas were recorded; Spark infers
        return reader.parquet(*dirs)

    def lineage_report(self, stage: str) -> dict:
        """Parts, rows and bytes committed for `stage`, and its wall time:
        the sum of each commit batch's wall_ms."""
        m = self.metrics(stage)
        return {
            "stage": stage,
            "parts": int(m["part_id"].nunique()),
            "rows": int(m["row_count"].sum()),
            "bytes": int(m["bytes"].sum()),
            "wall_ms": int(m.drop_duplicates("batch")["wall_ms"].sum()),
        }
