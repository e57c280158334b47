"""Sink writer abstraction — the seam the reference's destination layer maps
onto (poster.go:84-111 picks a destination per point series; influxdb-go's
client shards writes across hosts, influxdb.go:384-419).

Three implementations behind one interface:

* ``ParquetSink`` — parquet appends under ``chunk_id=<id>/bucket=<b>``
  partitions. chunk_id is the exactly-once unit (lineage.cleanup_orphans
  deletes orphaned chunk partitions on resume); bucket is the consistent-hash
  ring analog (route.bucket_expr).
* ``IcebergSink`` — ``writeTo(table).append()`` against an Iceberg catalog,
  table partitioned by ``bucket(N, token)``; the Spark-native replacement for
  the md5-bucket directory layout (same co-location contract, plus hidden
  partitioning and snapshot isolation). The runtime jar is not present in
  this sandbox, so construction verifies the catalog exists and raises a
  clear error otherwise — the code path is real, the environment gates it.
* ``NoopSink`` — the reference's null sink (destination "null", SURVEY §2.1
  #22): counts flow through the metrics aggregation, bytes go nowhere.

At 10^12 rows the writer choice decides small-file behavior: ParquetSink
relies on the pipeline's per-sink bucket repartition for one file per
(chunk, bucket); IcebergSink would use its own fanout-write + table
maintenance instead.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import fsio

# chunk_id / table-name components are interpolated into SQL text on the
# Iceberg path (DELETE FROM ... WHERE chunk_id = '...'). The Sink seam is a
# public API, so validate instead of trusting the pipeline's uuid+counter
# format — a quote-bearing id must fail loudly, never break or inject.
_SAFE_ID_RX = re.compile(r"^[A-Za-z0-9_.-]+$")


def _safe_sql_id(value: str, what: str) -> str:
    if not _SAFE_ID_RX.match(value or ""):
        raise ValueError(f"unsafe {what} for SQL interpolation: {value!r}")
    return value


class Sink:
    """Append one chunk's rows for one logical sink table."""

    # True when chunk data lives under out_dir on a (Hadoop-)filesystem and
    # lineage.cleanup_orphans' FS globs can see and delete it. False for
    # catalog-table sinks, where resume must go through delete_chunk /
    # list_chunk_ids instead (FS deletes cannot undo table commits).
    fs_managed = True

    def write(self, df: DataFrame, path: str, chunk_id: str, bucket_col: str | None) -> None:
        raise NotImplementedError

    def read_chunk(self, spark, path: str, chunk_id: str) -> DataFrame | None:
        """Rows written for one chunk, or None when the chunk wrote nothing.

        The guard matters: an all-empty parquet append creates no
        ``chunk_id=<id>`` partition directory (only _SUCCESS), so a naive
        path read throws PATH_NOT_FOUND — a chunk with zero router-error
        rows crashed the metrics step when it still read sinks back
        (round-3 advice, high). Read a chunk back through this seam, never
        a raw path read."""
        return None

    def list_chunk_ids(self, spark, path: str) -> set[str]:
        """chunk_ids with any rows/partitions present for this sink table."""
        return set()

    def delete_chunk(self, spark, path: str, chunk_id: str) -> bool:
        """Remove every row the chunk wrote — the exactly-once undo used by
        resume's orphan cleanup. Returns True when something was removed."""
        return False


class NoopSink(Sink):
    def write(self, df, path, chunk_id, bucket_col):
        return


class ParquetSink(Sink):
    def write(self, df: DataFrame, path: str, chunk_id: str, bucket_col: str | None) -> None:
        df = df.withColumn("chunk_id", F.lit(chunk_id))
        parts = ["chunk_id"] + (
            [bucket_col] if bucket_col and bucket_col in df.columns else []
        )
        df.write.mode("append").partitionBy(*parts).parquet(path)

    def read_chunk(self, spark, path: str, chunk_id: str) -> DataFrame | None:
        part = path.rstrip("/") + f"/chunk_id={chunk_id}"
        if not fsio.exists(spark, part):
            return None
        return spark.read.parquet(part)

    def list_chunk_ids(self, spark, path: str) -> set[str]:
        return {
            p.rsplit("chunk_id=", 1)[1].strip("/")
            for p in fsio.glob(spark, path.rstrip("/") + "/chunk_id=*")
        }

    def delete_chunk(self, spark, path: str, chunk_id: str) -> bool:
        part = path.rstrip("/") + f"/chunk_id={chunk_id}"
        if not fsio.exists(spark, part):
            return False
        fsio.delete(spark, part, recursive=True)
        return True


class IcebergSink(Sink):
    """Writes to ``<catalog>.<namespace>.<sink_name>``; creates the table on
    first append with ``PARTITIONED BY (bucket(n_buckets, token))``.

    Requires an Iceberg catalog on the session (spark.sql.catalog.<name>);
    raises RuntimeError with remediation steps when absent so a
    misconfiguration fails loudly instead of silently writing nowhere.
    """

    def __init__(self, spark, catalog: str = "lm", namespace: str = "lumbermill", n_buckets: int = 16):
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        self.n_buckets = n_buckets
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
        if not impl:
            raise RuntimeError(
                f"Iceberg catalog '{catalog}' is not configured "
                f"(spark.sql.catalog.{catalog} unset). Add the iceberg-spark-runtime "
                "jar and set spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog "
                "plus a warehouse, or use sink_format='parquet'."
            )
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")

    def _table(self, sink_name: str) -> str:
        return "{}.{}.{}".format(
            _safe_sql_id(self.catalog, "catalog"),
            _safe_sql_id(self.namespace, "namespace"),
            _safe_sql_id(sink_name, "sink name"),
        )

    @staticmethod
    def sink_name_of(path: str) -> str:
        # path doubles as the sink name for the table identifier
        return path.rstrip("/").rsplit("/", 1)[-1]

    def partition_spec(self, df: DataFrame) -> str | None:
        """The hidden-partitioning transform for a sink frame, as SQL text —
        ``bucket(N, token)`` is the consistent-hash ring analog
        (consistenthash.go:64-73: 46 virtual nodes/host ≈ hash-bucket
        co-location). Returned as text so tests can assert it without an
        Iceberg runtime."""
        return f"bucket({self.n_buckets}, token)" if "token" in df.columns else None

    def write(self, df: DataFrame, path: str, chunk_id: str, bucket_col: str | None) -> None:
        table = self._table(self.sink_name_of(path))
        df = df.withColumn("chunk_id", F.lit(chunk_id))
        if not self.spark.catalog.tableExists(table):
            w = df.writeTo(table)
            spec = self.partition_spec(df)
            if spec:
                w = w.partitionedBy(F.expr(spec))
            w.create()  # create-with-data: first chunk seeds the table
        else:
            df.writeTo(table).append()

    def read_chunk(self, spark, path: str, chunk_id: str) -> DataFrame | None:
        table = self._table(self.sink_name_of(path))
        if not spark.catalog.tableExists(table):
            return None
        df = spark.table(table).filter(F.col("chunk_id") == chunk_id)
        return df

    fs_managed = False

    def list_chunk_ids(self, spark, path: str) -> set[str]:
        table = self._table(self.sink_name_of(path))
        if not spark.catalog.tableExists(table):
            return set()
        rows = spark.sql(f"SELECT DISTINCT chunk_id FROM {table}").collect()
        return {r["chunk_id"] for r in rows}

    def delete_chunk(self, spark, path: str, chunk_id: str) -> bool:
        """Iceberg row-level DELETE — the table-commit analog of removing a
        parquet chunk partition. chunk_id is a plain column, so this is a
        copy-on-write/merge-on-read delete, transactional either way; resume
        stays exactly-once because the delete lands BEFORE reprocessing."""
        table = self._table(self.sink_name_of(path))
        if not spark.catalog.tableExists(table):
            return False
        spark.sql(f"DELETE FROM {table} WHERE chunk_id = '{_safe_sql_id(chunk_id, 'chunk_id')}'")
        return True


def make_sink(spark, sink_format: str, n_buckets: int = 16) -> Sink:
    if sink_format == "noop":
        return NoopSink()
    if sink_format == "parquet":
        return ParquetSink()
    if sink_format == "iceberg":
        return IcebergSink(spark, n_buckets=n_buckets)
    raise ValueError(f"unknown sink_format {sink_format!r}")
