"""Batch loaders for the driver-generated parquet fixtures (TESTDATA.md).

At 100 TB these reads are partitioned parquet scans; we rely on
Catalyst for predicate pushdown and column pruning, so loaders return
the raw scan DataFrame and *operators* select/filter — never the other
way around (pushdown reaches the scan automatically).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def parquet_schema(path: str) -> StructType:
    """The Spark schema of the parquet at ``path`` (a file, or a dir of
    part files — then its first data file by name), read on the driver
    from ONE footer: the schema a Spark writer stored there
    (``log._footer_schema``), else ``pq.read_schema`` mapped as Spark
    maps Arrow types (a zone-less timestamp is ``timestamp_ntz``), with
    a nanosecond timestamp as the raw bigint the
    ``spark.sql.legacy.parquet.nanosAsLong`` reader returns. For the
    fixtures, Spark-written dirs, perfbench's corpus and the IVF index
    this equals ``spark.read.parquet(path).schema``, which costs a
    Spark job."""
    from lapidus_spark.lake.log import _footer_schema  # lake imports this module

    stored = _footer_schema(path)
    if stored is not None:
        return stored
    if os.path.isdir(path):
        path = os.path.join(path, min(n for n in os.listdir(path) if n.endswith(".parquet")))
    fields = [
        f.with_type(pa.int64()) if pa.types.is_timestamp(f.type) and f.type.unit == "ns" else f
        for f in pq.read_schema(path)
    ]
    return from_arrow_schema(pa.schema(fields), prefer_timestamp_ntz=True)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, parallel: bool = False
) -> DataFrame:
    """Load a fixture table: a parquet scan under the schema of its
    own footer (``parquet_schema``), so building the scan launches no
    schema-inference job and has the schema
    ``spark.read.parquet(path)`` would infer.

    ``parallel=True`` repartitions the scan to the session's default
    parallelism. Use it for CPU-heavy per-row work (hashing, shingling,
    LSH signatures): the small fixture tables are single parquet files
    → a single input split → one task, which serializes the whole
    stage on one core. At real scale the same operator needs the same
    property — compute-bound stages must not inherit the file layout's
    partitioning.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; valid: {TABLES}")
    # events.parquet stores TIMESTAMP(NANOS), which Spark's parquet
    # reader rejects; read nanos as long and truncate to micros (the
    # same conversion DuckDB applies implicitly on read).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(parquet_schema(path)).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if parallel:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
