"""Stage-table IO abstraction: Iceberg when a catalog is named, parquet
directories otherwise (SURVEY.md §7 — the parquet layout keeps the same
semantics: atomic overwrite, schema on read, `exists` via successful-write
marker). A named catalog that cannot create its namespace (runtime jar
missing, bad credentials, a typo in the name) raises at construction; it
never falls back to parquet, which would write every stage somewhere else.

On a real cluster, configure e.g.::

    spark.sql.catalog.lake = org.apache.iceberg.spark.SparkCatalog
    spark.sql.catalog.lake.type = hive

and pass ``iceberg_catalog='lake'``: stages then checkpoint as Iceberg tables
(``lake.<namespace>.<stage>``) and pick up snapshot isolation + time travel
for free. Everything else in the pipeline is format-agnostic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

__all__ = ["StageCatalog"]


class StageCatalog:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        iceberg_catalog: str | None = None,
        namespace: str = "dedup",
    ):
        self.spark = spark
        self.root = root
        self.namespace = namespace
        self.iceberg = None
        if iceberg_catalog:
            try:
                spark.sql(
                    f"CREATE NAMESPACE IF NOT EXISTS {iceberg_catalog}.{namespace}"
                )
            except Exception as e:
                raise RuntimeError(
                    f"Iceberg catalog {iceberg_catalog!r} could not create namespace "
                    f"{namespace!r}; stage tables were not written"
                ) from e
            self.iceberg = iceberg_catalog

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _table(self, name: str) -> str:
        return f"{self.iceberg}.{self.namespace}.{name}"

    def write(self, df: DataFrame, name: str) -> DataFrame:
        """Write ``df`` as ``name``; return it read back, schema not inferred."""
        if self.iceberg:
            df.writeTo(self._table(name)).createOrReplace()
            return self.spark.read.table(self._table(name))
        df.write.mode("overwrite").parquet(self._path(name))
        return self.spark.read.schema(df.schema).parquet(self._path(name))

    def append(self, df: DataFrame, name: str) -> None:
        if self.iceberg:
            # branch on existence, never on a failed append: a commit
            # conflict or schema drift on an existing table must raise, not
            # replace every earlier row with this one
            writer = df.writeTo(self._table(name))
            if self.exists(name):
                writer.append()
            else:
                writer.create()
        else:
            df.write.mode("append").parquet(self._path(name))

    def read(self, name: str, schema=None) -> DataFrame:
        """Read ``name``; with ``schema`` no parquet inference job runs (an
        Iceberg table is read by name: its catalog holds the schema)."""
        if self.iceberg:
            return self.spark.read.table(self._table(name))
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(self._path(name))

    def exists(self, name: str) -> bool:
        if self.iceberg:
            return self.spark.catalog.tableExists(self._table(name))
        # Hadoop FileSystem probe, not os.path: resume-from-checkpoint must
        # work for s3://, hdfs://, etc. workdirs, exactly the deployment
        # scripts/run_dedup.py advertises (round-1 ADVICE)
        marker = os.path.join(self._path(name), "_SUCCESS")
        jvm = self.spark._jvm  # noqa: SLF001
        hpath = jvm.org.apache.hadoop.fs.Path(marker)
        fs = hpath.getFileSystem(self.spark._jsc.hadoopConfiguration())  # noqa: SLF001
        return bool(fs.exists(hpath))
