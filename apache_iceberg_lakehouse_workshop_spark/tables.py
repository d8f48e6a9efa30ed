"""Test-data table loading.

The driver ships deterministic TPC-H-ish parquet under
``/root/testdata/sf{0.001,0.01,0.1}`` (see ``/root/repo/TESTDATA.md``).
Helpers here load them as DataFrames / temp views with the canonical names
used by the oracle (``region nation customer supplier part orders lineitem
events documents embeddings``).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = [
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
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The session confs parquet schema inference depends on.
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)
# absolute path -> (file identity + inference confs, inferred schema).
# Shared by every caller in the process on purpose: the query builders load
# the same files independently, and the key says when a schema is still
# the one inference would return. One entry per path.
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def _ensure_read_confs(spark: SparkSession) -> None:
    """The engine controls these semantics itself — the caller's session may
    be built with any config (the driver passes us its own SparkSession).
    All three are runtime-settable."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _read_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, T.StructType]:
    """``spark.read.parquet(path)`` and its schema, reusing the schema
    inferred for the same file under the same inference confs.

    Inference runs a Spark job to read the footer. A regular file whose
    inode, size and mtime are unchanged has the same footer, so a repeat
    load passes the kept schema and plans without that job; a rewritten
    file or a changed conf infers again. Only the schema is reused: every
    action still reads the file."""
    path = os.path.abspath(path)
    st = os.stat(path)
    if not stat.S_ISREG(st.st_mode):
        df = spark.read.parquet(path)
        return df, df.schema
    ident = (st.st_ino, st.st_size, st.st_mtime_ns,
             *(spark.conf.get(c) for c in _INFER_CONFS))
    kept = _SCHEMAS.get(path)
    if kept is not None and kept[0] == ident:
        return spark.read.schema(kept[1]).parquet(path), kept[1]
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (ident, df.schema)
    return df, df.schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_read_confs(spark)
    df, schema = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    # events.ts is nanosecond-precision parquet; with
    # spark.sql.legacy.parquet.nanosAsLong it reads as LONG nanos — convert
    # back to a naive timestamp (micro truncation matches DuckDB's reads of
    # the same values at micro precision for every function we use on it).
    for field in schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            # pure NTZ arithmetic from the epoch — going through
            # timestamp_micros (LTZ) would shift by the JVM/session zone
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
    return df


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register testdata tables as temp views so ``spark.sql`` queries can
    reference them by bare name (same names the DuckDB oracle uses)."""
    for name in names or TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
