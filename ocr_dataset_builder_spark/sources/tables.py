"""Table-store backends for the lineage/checkpoint layer (SURVEY §7.4
risk 6).

The north rule targets Iceberg tables; this sandbox has no Iceberg
runtime jar, so the default backend is a parquet directory with the
identical layout (append-only writes, empty-relation reads). The Iceberg
backend is the SAME two operations through the DataSourceV2 ``writeTo``
API — gated on the catalog actually being on the classpath, and
exercised by a test that skips when it is not
(tests/test_iceberg_adapter.py)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def iceberg_catalog_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class ParquetStore:
    """Append-only parquet-directory tables (the sandbox default). Layout
    is table-identical to the Iceberg backend: one logical table per
    name, append = new files, read = current snapshot."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def read(self, name: str, schema: str) -> DataFrame:
        from ..lineage import read_table

        return read_table(self.spark, self._path(name), schema)

    def append(self, name: str, df: DataFrame) -> None:
        df.write.mode("append").parquet(self._path(name))


class IcebergStore:
    """Iceberg-catalog tables via the DataSourceV2 writeTo API:
    ``append`` is an ACID snapshot commit, ``read`` the current snapshot.
    ``namespace`` is ``<catalog>.<database>`` (the catalog must be
    configured on the session, e.g. spark.sql.catalog.<name> =
    org.apache.iceberg.spark.SparkCatalog)."""

    def __init__(self, spark: SparkSession, namespace: str):
        if not iceberg_catalog_available(spark):
            raise RuntimeError(
                "IcebergStore requires the Iceberg Spark runtime on the "
                "classpath (org.apache.iceberg.spark.SparkCatalog not found)"
            )
        self.spark = spark
        self.namespace = namespace

    def _table(self, name: str) -> str:
        return f"{self.namespace}.{name}"

    def read(self, name: str, schema: str) -> DataFrame:
        from ..lineage import empty_table

        full = self._table(name)
        if not self.spark.catalog.tableExists(full):
            return empty_table(self.spark, schema)
        return self.spark.read.table(full)

    def append(self, name: str, df: DataFrame) -> None:
        full = self._table(name)
        if not self.spark.catalog.tableExists(full):
            df.writeTo(full).using("iceberg").create()
        else:
            df.writeTo(full).append()
