"""Catalog/table abstraction: partitioned parquet now, Iceberg in prod.

The sandbox has no Iceberg runtime jars (SURVEY §0), so the engine reads
and writes **partitioned parquet through this thin catalog** whose second
backend is Iceberg — the 10^12 production path is the same code with
``format="iceberg"``. Partition identity always comes from data columns
(``source``, bucketed ``doc_id``), so per-partition verdicts behave
identically on both backends (SURVEY C4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def has_iceberg(spark: SparkSession) -> bool:
    """True if the Iceberg runtime is on the classpath."""
    try:
        spark._jvm.org.apache.iceberg.Schema  # noqa: SLF001 (classpath probe)
        return True
    except Exception:
        return False


class Catalog(object):
    """Minimal table catalog over a warehouse directory or SQL catalog.

    parquet backend: tables are ``<warehouse>/<name>`` directories,
    partitioned by the declared partition columns.
    iceberg backend: tables are ``<catalog>.<name>`` identifiers; reads
    and writes go through the Iceberg source; the engine's partition_key
    still derives from data columns, and the metadata tables
    (``<name>.partitions``, ``<name>.files``) back the checkpoint
    manifest's snapshot/file lineage fields.
    """

    def __init__(self, spark: SparkSession, warehouse: str,
                 format: str = "parquet"):
        if format == "iceberg" and not has_iceberg(spark):
            raise RuntimeError(
                "iceberg runtime jars not on the classpath; use format='parquet'"
            )
        self.spark = spark
        self.warehouse = warehouse
        self.format = format

    def _path(self, name):
        return os.path.join(self.warehouse, name)

    def read(self, name: str) -> DataFrame:
        if self.format == "iceberg":
            return self.spark.read.format("iceberg").load(
                "{0}.{1}".format(self.warehouse, name)
            )
        return self.spark.read.parquet(self._path(name))

    def write(self, df: DataFrame, name: str, partition_by=("source",),
              mode: str = "overwrite"):
        if self.format == "iceberg":
            (df.writeTo("{0}.{1}".format(self.warehouse, name))
               .partitionedBy(*[F.col(c) for c in partition_by])
               .createOrReplace())
            return
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._path(name))

    def snapshot_id(self, name: str):
        """Input lineage for the checkpoint manifest: Iceberg snapshot id,
        or a hash of the parquet file listing (dev backend)."""
        if self.format == "iceberg":
            rows = self.spark.sql(
                "SELECT snapshot_id FROM {0}.{1}.snapshots "
                "ORDER BY committed_at DESC LIMIT 1".format(self.warehouse, name)
            ).collect()
            return str(rows[0][0]) if rows else None
        import hashlib

        files = sorted(self.read(name).inputFiles())
        return hashlib.sha256("\n".join(files).encode()).hexdigest()[:16]

    def write_bucketed(self, df: DataFrame, name: str,
                       bucket_col: str = "doc_id", n_buckets: int = 16,
                       sort: bool = True, mode: str = "overwrite"):
        """Bucketed layout for CO-LOCATED joins (SURVEY §2 hard part #3:
        'bucketed-by-doc_id layout makes the exact pass shuffle-free'):
        two tables bucketed by the same column into the same bucket
        count equi-join with ZERO Exchange — the 10^12 path for
        token-equality-vs-reference and exact-uniqueness repair joins,
        where a doc_id shuffle IS the cost.

        parquet backend: ``bucketBy`` metadata lives in the session
        catalog, so the write goes through ``saveAsTable`` with an
        external path and reads MUST come from :meth:`read_table` —
        a path-based ``spark.read.parquet`` cannot see bucketing and
        silently reintroduces the shuffle. iceberg backend: the
        ``bucket(n, col)`` partition transform, same property via
        storage-partitioned joins.
        """
        if self.format == "iceberg":
            (df.writeTo("{0}.{1}".format(self.warehouse, name))
               .partitionedBy(F.bucket(int(n_buckets), F.col(bucket_col)))
               .createOrReplace())
            return
        w = (df.write.mode(mode)
             .bucketBy(int(n_buckets), bucket_col))
        if sort:
            w = w.sortBy(bucket_col)
        (w.option("path", self._path(name))
          .format("parquet")
          .saveAsTable(name))

    def read_table(self, name: str) -> DataFrame:
        """Catalog-aware read: REQUIRED for bucketed tables (bucket
        metadata is in the metastore, not the files)."""
        if self.format == "iceberg":
            return self.read(name)
        return self.spark.table(name)

    def partitions(self, name: str):
        """Distinct partition identities (the verdict domain)."""
        df = self.read(name)
        part_cols = [c for c in ("source",) if c in df.columns]
        if not part_cols:
            return ["__all__"]
        return [
            "/".join("{0}={1}".format(c, r[c]) for c in part_cols)
            for r in df.select(*part_cols).distinct().collect()
        ]


def read_csv(spark: SparkSession, path: str, schema=None, **opts) -> DataFrame:
    """CSV source (reference ``Select('f.csv')`` parity, SURVEY S4).
    Explicit schema preferred; inference only for dev."""
    reader = spark.read.option("header", opts.pop("header", True))
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    # .options() so datasource options outside csv()'s fixed keyword set
    # forward instead of raising TypeError
    return reader.options(**opts).csv(path)


def read_orc(spark: SparkSession, path: str, **opts) -> DataFrame:
    """ORC source — native Spark reader, same pushdown/pruning behavior
    as parquet (PushedFilters reach the ORC scan). Options route through
    .options(): orc() itself only accepts a fixed keyword set."""
    return spark.read.options(**opts).orc(path)
