"""Batch parquet sources.

The reference's sources are Kafka topics (``builder.stream`` at
``dsl/PriceAlertsApp.java:87-90``, ``topology.addSource`` at
``processor/PriceAlertsApp.java:86-90``). The batch twin is a parquet
scan: Spark's vectorized reader gives columnar decode, and Catalyst
pushes filters/projections into the scan (check ``PushedFilters`` /
``ReadSchema`` in ``df.explain("formatted")``).

Scale note (100 TB): parquet scans parallelize by row-group;
``spark.sql.files.maxPartitionBytes`` (default 128 MB) controls split
size. Nothing here collects to the driver.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType

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

# Dimension tables small enough to broadcast at ANY scale factor: TPC-H
# fixes region at 5 rows and nation at 25 rows regardless of sf. Every
# other table (customer, supplier, part, orders, lineitem, events,
# documents, embeddings) grows linearly with sf, so forcing a broadcast
# would OOM at large scale — their join strategy is left to AQE +
# spark.sql.autoBroadcastJoinThreshold, which measure actual size.
BROADCAST_TABLES = frozenset({"region", "nation"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Declarative — pushdown/pruning happen later.

    events.ts is stored as parquet TIMESTAMP(NANOS), which Spark reads
    only as long (spark.sql.legacy.parquet.nanosAsLong); convert to a
    microsecond TimestampType here so downstream operators see a real
    event-time column.
    """
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer division — ns epochs exceed double's 53-bit mantissa
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def local_frame(
    spark: SparkSession, rows: Iterable, schema: str | StructType
) -> DataFrame:
    """A DataFrame over driver-built rows, held by the JVM as a
    ``LocalRelation`` (planned as ``LocalTableScan``).

    ``spark.createDataFrame(<list>)`` parallelizes the list into a
    Python RDD: every action on the frame then runs one Python-worker
    task per ``defaultParallelism`` slice, whatever the row count
    (~1.1 CPU s per action on 4 cores, even for an empty frame). Here
    the rows move once as an Arrow table and the frame is JVM-local,
    so scanning it schedules no Python work at all.

    ``rows`` are tuples, ``Row``s or dicts; ``schema`` is a DDL string
    or a ``StructType``. Values pass through the schema's own
    ``toInternal`` — the conversion the list path applies — so a naive
    ``datetime`` in a ``timestamp`` column still means process-local
    time, as it does for ``createDataFrame(<list>)``.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    internal = [schema.toInternal(r) for r in rows]
    columns = list(zip(*internal)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=schema)


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Redistribute a narrow scan across the cluster before
    compute-heavy per-row work (shingling, hashing, vector math).

    Parquet files with a single row group cannot be split by
    ``maxPartitionBytes``, so a small file scans as ONE task and
    per-row compute serializes on one core. At 100 TB the scan already
    has far more splits than cores and this is a no-op — the check is
    on the actual scan partitioning, so no shuffle is added where the
    source parallelism suffices.
    """
    try:
        target = partitions or df.sparkSession.sparkContext.defaultParallelism
        current = df.rdd.getNumPartitions()
    except Exception:  # Spark Connect: no sparkContext/.rdd — leave as-is
        return df
    if current >= target:
        return df
    return df.repartition(target)
