"""SparkSession factory.

Mirrors the reference's session bootstrap (``/root/reference/spark.py:18-44``:
SparkConf + catalog registration + ``getOrCreate``), re-targeted at a local
warehouse. The reference configures an Iceberg REST catalog over OAuth2; in
this environment no Iceberg runtime jar ships with Spark, so the engine uses
Spark's built-in V1 catalog with a parquet warehouse plus an engine-level
snapshot log (see ``plans/lakeshim.py``) for the Iceberg-specific surface
(snapshots / history / time travel). The SQL surface exposed to users is the
same.

Scale posture: these configs are chosen for a real cluster (AQE on, skew-join
handling on, partition coalescing on, broadcast threshold sane). Tests run on
``local[N]`` but nothing here is local-only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# One knob for tests/bench: number of local cores.
_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

_DEFAULTS: dict[str, str] = {
    # --- adaptive execution: runtime re-planning, skew-join splitting,
    # post-shuffle partition coalescing. These are the "survive 100x" knobs.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # --- shuffle sizing: on the local test box 32 is right; on a 1000-executor
    # cluster this is overridden by spark.sql.adaptive.advisoryPartitionSizeInBytes
    # driven coalescing, so the static number only sets the upper bound pre-AQE.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # --- broadcast: dims up to 64 MB broadcast instead of shuffling the fact.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # --- runtime row-group pruning on the fact side of selective joins:
    # inject a bloom filter built from the dim side's join keys so the
    # fact scan skips non-matching row groups before the shuffle. At
    # 100 TB this is the difference between scanning the full fact table
    # and scanning only the joined slice. (No-op when stats say it won't
    # pay; creation thresholds are the Spark defaults.)
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # --- scans: 128 MB split target keeps partitions executor-memory-friendly.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # --- Arrow for pandas_udf / toPandas boundaries (AI + multimodal ops).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # --- determinism for the correctness oracle.
    "spark.sql.session.timeZone": "UTC",
    # parquet timestamps in the testdata are naive (isAdjustedToUTC=false);
    # read them as TIMESTAMP_NTZ so semantics match DuckDB's naive TIMESTAMP.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    # nanosecond-precision parquet timestamps (events.ts) surface as LONG
    # nanos; tables.load_table converts them back to timestamp_ntz.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # ANSI off: the reference dialect (Dremio) is lenient; try_* functions are
    # used where null-on-error is required.
    "spark.sql.ansi.enabled": "false",
    "spark.ui.enabled": "false",
    # --- no DataFrame call-site capture: by default PySpark walks the
    # Python stack and makes three extra Py4J round trips on every Column
    # call, only to name the calling line in an error's query context.
    # Query builders make hundreds of Column calls before their first
    # action; error messages still name the failing expression.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # --- JVM case mapping for upper()/lower()/initcap(): with ICU case
    # mappings on (the Spark 4.1 default) the first case-mapping call in a
    # JVM initialises CollationAwareUTF8String, whose static title-case
    # table walks all 1.1M code points through ICU — about 2 s of one
    # core and ~460 MB of heap, paid even for ASCII input, which both
    # paths map through the same fast path. The JVM's own mapping differs
    # from ICU's only on code points whose case mappings came in Unicode
    # 14-16 (newer than the JVM's tables), and agrees with DuckDB's
    # lower()/upper() on more code points than ICU does.
    "spark.sql.icu.caseMappings.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(app_name: str = "apache_iceberg_lakehouse_workshop_spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Parameters mirror the reference bootstrap; ``extra_conf`` is the
    passthrough for real-cluster catalogs (e.g. an Iceberg REST catalog when
    the runtime jar is present — config keys are identical to
    ``/root/reference/spark.py:26-39``).
    """
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{_CPUS}]"))
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """A DataFrame over driver-local ``rows`` (tuples in ``schema`` field
    order), row- and schema-identical to ``spark.createDataFrame(rows,
    schema)`` but planned as a ``LocalTableScan``. A Python list goes
    through ``sc.parallelize`` plus a PythonRDD stage that re-runs on every
    action reading the frame, in a Python worker pool of its own; an Arrow
    table ships to the JVM once and never reaches a Python worker.

    Values convert as ``createDataFrame`` converts them (naive TIMESTAMP
    values are local wall-clock times, naive TIMESTAMP_NTZ values are
    taken as written), and must fit their declared type."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    # timestamps and dates become their internal epoch integers, which
    # Arrow takes as-is for its temporal types
    rows = [struct.toInternal(r) for r in rows]
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
