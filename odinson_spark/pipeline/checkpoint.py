"""Idempotent stage checkpointing: each pipeline stage writes its output
table once; a rerun of the driver skips stages whose output already exists.

This replaces the reference's incremental-index/State persistence
(state/State.scala:25-44, lucene/index/IncrementalOdinsonIndex.scala) with
the batch-native equivalent: snapshot-per-stage. Every stage is written as
parquet through the Hadoop FileSystem API, so a local path and a file://,
hdfs:// or s3a:// root all resume the same way (a stage counts as done when
its ``_SUCCESS`` marker exists).
"""

from __future__ import annotations

import json
import time
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession


def _hadoop_fs(spark: SparkSession, path: str):
    """Hadoop FileSystem for ``path`` — works across schemes (file://,
    hdfs://, s3a://), unlike driver-local os/pathlib calls."""
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), jpath


class CheckpointedPipeline:
    def __init__(self, spark: SparkSession, root: str, run_id: Optional[str] = None):
        self.spark = spark
        self.root = root.rstrip("/")
        self.run_id = run_id or "run"
        self.metrics: list = []

    def _path(self, stage: str) -> str:
        return f"{self.root}/{stage}"

    def exists(self, stage: str) -> bool:
        # through the Hadoop FileSystem, like the stage writes themselves, so
        # a file:// or hdfs:// root resumes too
        fs, marker = _hadoop_fs(self.spark, f"{self._path(stage)}/_SUCCESS")
        return fs.exists(marker)

    def stage(
        self,
        name: str,
        fn: Callable[[], DataFrame],
    ) -> DataFrame:
        """Compute-or-load. ``fn`` is only invoked when the stage output is
        missing; downstream stages always read the materialized output, so a
        crashed run resumes from the last completed stage."""
        path = self._path(name)
        t0 = time.time()
        if self.exists(name):
            self.metrics.append({"stage": name, "skipped": True, "secs": 0.0})
            return self.spark.read.parquet(path)
        fn().write.mode("overwrite").parquet(path)
        self.metrics.append(
            {"stage": name, "skipped": False, "secs": round(time.time() - t0, 3)}
        )
        return self.spark.read.parquet(path)

    def write_metrics(self):
        fs, out = _hadoop_fs(self.spark, f"{self.root}/_metrics_{self.run_id}.json")
        stream = fs.create(out, True)
        try:
            stream.write(bytearray(json.dumps(self.metrics, indent=1), "utf-8"))
        finally:
            stream.close()
