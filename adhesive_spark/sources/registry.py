"""Table sources.

The reference's only source is an in-memory Arrow batch registered as a
named table (``ctx.register_batch``, examples/adhesive.rs:17-19); file
formats are delegated to the embedded engine. Here both are Spark-native:
``spark.createDataFrame(...).createOrReplaceTempView`` for in-memory, and
``spark.read.parquet/csv/json/orc`` for files (SURVEY §2.2 scans row).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: The driver-generated TPC-H-ish star schema (TESTDATA.md).
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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Timestamp normalization, robust to either testdata vintage:
    #  - ns-unit parquet (old generator): Spark's reader rejects ns; read
    #    as raw INT64 nanos and truncate to microsecond TIMESTAMP
    #    (identical to DuckDB's ns→us cast, so oracles agree).
    #  - us-unit parquet without timezone (current generator): would read
    #    as TIMESTAMP_NTZ; turning off NTZ inference reads it as plain
    #    TIMESTAMP at the SCAN (session TZ is UTC, instant-preserving),
    #    keeping ts predicates pushdown-eligible — a post-scan cast would
    #    strip PushedFilters — and keeping watermarks/windows legal.
    # Both confs are dynamic, safe to set per-load.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.typeName() == "long":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def ensure_parallelism(
    df: DataFrame,
    *cols: str,
    min_parts: int | None = None,
    by_size: bool = False,
) -> DataFrame:
    """Repartition iff the plan has fewer partitions than the cluster has
    cores — decouples CPU-dense stage parallelism from input-split count.

    At 100 TB inputs arrive in thousands of splits and this is a no-op;
    on small/compacted inputs (single-row-group files — the local
    testdata; or post-coalesce stages on a cluster) a serial scan stage
    would otherwise bottleneck hash/UDF/vector compute on ONE core. The
    repartition shuffle moves only the (small) input, and hash-bucketing
    by ``cols`` keeps downstream same-key joins co-partitioned.

    ``by_size=True`` (requires ``cols``): instead of a fixed
    core-count width, emit a hash repartition with NO explicit
    partition count, which AQE sizes from the measured shuffle bytes
    at runtime (advisory 64 MB/partition). A 1 MB input coalesces to
    ONE task — fixed-width fanout would pay ~cores× per-task
    Python/Arrow overhead to score it — while a replicated-explode
    input (whose split count and Catalyst size stats both lie) still
    fans out by its true bytes. Use for Arrow-kernel stages whose
    per-task overhead dominates on small inputs."""
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if by_size and cols:
        return df.repartition(*[F.col(c) for c in cols])
    return df.repartition(target, *cols) if cols else df.repartition(target)


#: Storage level of each materialization grain; ``None`` is the
#: default local-checkpoint level. See :func:`materialize`.
_GRAIN_LEVELS = {"corpus": StorageLevel.MEMORY_AND_DISK, "bounded": None}


def materialize(df: DataFrame, grain: str) -> DataFrame:
    """Eagerly materialize ``df`` into executor storage and truncate its
    lineage: the one materialization boundary of the package.

    ``grain`` names how the rows scale and picks the storage level:

    - ``"corpus"``: rows proportional to the input docs / events /
      edges / tokens. PySpark's ``MEMORY_AND_DISK`` maps to the JVM's
      SERIALIZED memory+disk level. The default local-checkpoint level
      stores DESERIALIZED JVM objects, and Spark's disk-block read path
      re-inflates evicted blocks as values
      (``maybeCacheDiskValuesInMemory``): at the 10 000x stress rung
      (590 M edges) that working set, not the compute, OOMed a 48 g
      heap on link_prediction. Serialized blocks
      are about an order of magnitude smaller, overflow to disk and
      re-cache as bounded BYTES. ``DISK_ONLY`` was measured too: ~1 s
      of disk round-trip per bench rep on q263.
    - ``"bounded"``: contractually tiny tables (rung spines, K x K
      matrices, centroid sets, per-source rollups) keep the default
      local-checkpoint level. Deserialized reads are cheaper, and their
      bytes are bounded by the schema, not the corpus.

    A local checkpoint rather than ``cache()``: the same physical
    boundary, but the blocks are owned by the RDD and reclaimed by the
    ContextCleaner when the caller's plan is dropped, so repeated calls
    don't accumulate entries in the session cache manager. Like every
    local checkpoint it truncates lineage: an executor loss during the
    query fails the job instead of recomputing the lost blocks.
    """
    return df.localCheckpoint(eager=True, storageLevel=_GRAIN_LEVELS[grain])


def register_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register every parquet table as a temp view; returns the DataFrames."""
    out = {}
    for t in tables:
        df = load_table(spark, sf_dir, t)
        df.createOrReplaceTempView(t)
        out[t] = df
    return out
