"""SparkSession factory.

Single place where execution-relevant config lives, so every entry
point (tests, bench, driver harness) runs with the same plan-shaping
settings: AQE on, UTC session time zone, Arrow enabled, shuffle
partitions sized to the local core count rather than the 200 default.

DataFrame debugging is off (``spark.python.sql.dataFrameDebugging``):
with it on, every ``Column`` operation pays about four py4j round trips
(active-session lookup, conf read, origin set, stack walk) to record
its Python call site, which dominates the driver-side cost of building
a pipeline's long expression chains. The trade: analysis errors no
longer carry a DataFrame query context pointing at the Python line;
their error classes and messages are unchanged.

At cluster scale the same builder applies — only master/memory change;
the semantic configs (timezone, AQE, partition-overwrite mode) are the
contract the engine relies on.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Iterator, Sequence
from contextlib import contextmanager

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "etl_energy_tracker_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    Local mode is a single JVM; ``spark.driver.memory`` is the only
    memory knob. On a real cluster pass ``master=None`` and let
    spark-submit provide master/memory.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # deterministic UTC semantics — the lake stores tz-naive UTC
        # (reference: processed_file_utils.py:371-381) and the DuckDB
        # oracle compares UTC-naive timestamps.
        .config("spark.sql.session.timeZone", "UTC")
        # AQE: runtime coalesce, skew-join splitting, broadcast demotion.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for any pandas-interop path (multimodal UDFs).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # upsert sink overwrites only the partitions present in the
        # incoming batch (reference K3 semantics).
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # processed zone is zstd like the reference
        # (processed_file_utils.py:352).
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        # no DataFrame error contexts: each Column operation would make
        # ~4 extra py4j round trips to record its Python call site
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def shuffle_width(spark: SparkSession, n: int) -> Iterator[None]:
    """Run the block with ``spark.sql.shuffle.partitions`` set to ``n``,
    then restore the earlier value, also when the block raises. For
    small bounded phases (a stream drive, a CC pass over a tiny graph)
    whose cost floor is per-partition overhead, not data."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def local_frame(spark: SparkSession, rows: Iterable[Sequence], ddl: str) -> DataFrame:
    """A small driver-side frame (payload rows, config dimensions) as a
    JVM-local relation.

    ``spark.createDataFrame(<list>)`` pickles the rows into a
    ``PythonRDD``, so every job that scans or broadcasts the frame starts
    Python-worker tasks. Here the rows become a ``pyarrow.Table`` typed
    from the DDL schema and Spark slices its record batches into a
    ``ParallelCollectionRDD``: scans stay in the JVM. Independent of
    ``spark.sql.execution.arrow.*``, so it works on any plain session.
    Every row must have one value per field.
    """
    schema = StructType.fromDDL(ddl)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    columns = zip(*rows, strict=True) if rows else [()] * len(arrow_schema)
    arrays = [
        pa.array(col, type=field.type)
        for col, field in zip(columns, arrow_schema, strict=True)
    ]
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema)
