"""Table catalog: every workdir table is a parquet directory under `root`.

Stage writers partition by `part_id` with dynamic partition overwrite, so a
resumed run replaces only the partitions it recomputes (idempotent resume,
north rule).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


class Catalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.path(name))

    def write(
        self,
        df: DataFrame,
        name: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
        dynamic: bool = False,
    ) -> str:
        w = df.write.mode(mode)
        if dynamic:
            w = w.option("partitionOverwriteMode", "dynamic")
        if partition_by:
            w = w.partitionBy(*partition_by)
        out = self.path(name)
        w.parquet(out)
        return out
