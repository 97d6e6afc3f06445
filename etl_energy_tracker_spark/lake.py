"""Two-zone data lake: raw CSV/parquet + processed partitioned parquet
with keyed keep-last upsert.

Reference semantics:
- raw zone append+dedup per (mercado, year, month)
  (raw_file_utils.py:52-120, K1/K2)
- processed zone partition-wise upsert: for each incoming partition,
  merge with existing rows, dedup on per-dataset keys keeping the
  *latest arrival*, sort by time, write back
  (processed_file_utils.py:91-135, K3)

Spark-first realization:
- layout `processed/<dataset>/mercado=<folder>/id_mercado=<n>/year=<y>/month=<m>/`
  → Hive partition discovery + Catalyst partition pruning on every read
  (the reference demands the same of DuckDB via hive_partitioning=1).
- keep-last needs an explicit arrival order because Spark has no stable
  row order (SURVEY §7 hard part b): every upsert stamps a monotonically
  increasing `_ingest_seq`; dedup is a `row_number() over (partition by
  keys order by _ingest_seq desc) = 1` window.
- the write is `partitionOverwriteMode=dynamic`, so ONLY partitions
  present in the incoming batch are rewritten — at 100 TB a daily
  upsert touches a handful of (mercado, id, year, month) leaves, never
  the table.
- an upsert evaluates its input once: the validated, partition-tagged
  batch is checkpointed, its distinct partition tuples are collected
  from the checkpoint, and the existing rows are read from exactly
  those leaf directories, by path under `basePath`, with the declared
  on-disk schema (`stored_schema`). No schema inference, no listing of
  the whole dataset, no semi-join; readers use the same schema.
- files are written `sortWithinPartitions(datetime_utc)` so parquet
  row-group min/max statistics prune time-range scans (the reference
  tunes the same thing via pyarrow writer options,
  processed_file_utils.py:488-530).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .config.market_config import MARKETS
from .schemas import DEDUP_KEYS, PROCESSED_SCHEMAS, validate

_PARTITION_COLS = ["mercado", "id_mercado", "year", "month"]


def stored_schema(dataset: str) -> T.StructType:
    """A processed dataset's schema as it reads back from disk: the
    declared data columns, ``_ingest_seq``, then the partition columns
    as partition discovery types them (``id_mercado`` leaves the data
    files and comes back as an int). Reading with it skips inference."""
    data = [f for f in PROCESSED_SCHEMAS[dataset].fields if f.name not in _PARTITION_COLS]
    return T.StructType(
        data
        + [T.StructField("_ingest_seq", T.LongType()), T.StructField("mercado", T.StringType())]
        + [T.StructField(c, T.IntegerType()) for c in _PARTITION_COLS[1:]]
    )


def _leaf_dir(path: str, values) -> str:
    # partition values are market folders and ints, which Spark writes
    # unescaped; NULL goes to Hive's default partition
    return os.path.join(
        path,
        *[
            f"{c}={'__HIVE_DEFAULT_PARTITION__' if v is None else v}"
            for c, v in zip(_PARTITION_COLS, values)
        ],
    )


def _leaves(root: str):
    """(dir, parquet file names) for every directory under ``root``
    holding parquet files. ``_``/``.``-prefixed directories (staging,
    metadata) are not entered. O(#files) metadata listing, never a data
    scan; at 100 TB this listing comes from the table format's
    manifest instead."""
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        files = [f for f in filenames if f.endswith(".parquet")]
        if files:
            yield dirpath, files


class Lake:
    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.base = base_path.rstrip("/")

    # ------------------------------------------------------------------
    # raw zone (K1/K2/S5)
    # ------------------------------------------------------------------

    def raw_path(self, mercado: str, dataset: str) -> str:
        return f"{self.base}/raw/{mercado}/{dataset}"

    def write_raw(
        self,
        df: DataFrame,
        mercado: str,
        dataset: str,
        year_col: str = "year",
        month_col: str = "month",
        dedup: bool = True,
    ) -> None:
        """Append+dedup raw sink (K1): merge with existing rows of the
        touched (year, month) partitions, exact-row dedup (skipped for
        `continuo` — duplicates are legitimate trades), dynamic
        partition overwrite."""
        path = self.raw_path(mercado, dataset)
        incoming = df
        if self._exists(path):
            existing = self.spark.read.parquet(path)
            parts = [
                (r[year_col], r[month_col])
                for r in df.select(year_col, month_col).distinct().collect()
            ]
            cond = F.lit(False)
            for y, m in parts:
                cond = cond | ((F.col(year_col) == y) & (F.col(month_col) == m))
            incoming = existing.where(cond).unionByName(df, allowMissingColumns=True)
        if dedup:
            incoming = incoming.dropDuplicates()
        self._dyn_overwrite(incoming, path, [year_col, month_col])

    def read_raw(self, mercado: str, dataset: str) -> DataFrame:
        return self.spark.read.parquet(self.raw_path(mercado, dataset))

    # ------------------------------------------------------------------
    # processed zone (K3/S8)
    # ------------------------------------------------------------------

    def processed_path(self, dataset: str) -> str:
        return f"{self.base}/processed/{dataset}"

    def upsert_processed(self, df: DataFrame, dataset: str) -> None:
        """Partition-wise keyed keep-last upsert (K3).

        Derives partition columns (mercado folder via the market dim,
        year/month from datetime_utc — processed_file_utils.py:76-89),
        merges with the existing rows of exactly the touched
        partitions, and resolves duplicates by arrival order.
        """
        if dataset not in PROCESSED_SCHEMAS:
            raise KeyError(f"unknown processed dataset {dataset!r}")
        df = validate(df, dataset)
        folder = F.create_map(
            *[x for m in MARKETS for x in (F.lit(m.id), F.lit(m.folder))]
        )[F.col("id_mercado").cast("int")]
        df = (
            df.withColumn("mercado", folder)
            .withColumn("year", F.year("datetime_utc"))
            .withColumn("month", F.month("datetime_utc"))
        )

        path = self.processed_path(dataset)
        seq = 0
        existing = None
        if self._exists(path):
            # the one evaluation of the incoming transform: the
            # partition probe and the merge both read this checkpoint
            df = df.localCheckpoint(eager=True)
            touched = df.select(*_PARTITION_COLS).distinct().collect()
            leaves = [d for d in (_leaf_dir(path, r) for r in touched) if os.path.isdir(d)]
            if leaves:
                existing = (
                    self.spark.read.schema(stored_schema(dataset))
                    .option("basePath", path)
                    .parquet(*leaves)
                )
                top = existing.agg(F.max("_ingest_seq")).first()[0]
                seq = (top if top is not None else -1) + 1
        merged = df.withColumn("_ingest_seq", F.lit(seq).cast("long"))
        if existing is not None:
            merged = existing.unionByName(merged)

        keys = DEDUP_KEYS.get(dataset)
        if keys:
            w = W.partitionBy(*keys).orderBy(F.desc("_ingest_seq"))
            merged = (
                merged.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .drop("_rn")
            )
        if existing is not None:
            # the plan both reads and dynamically overwrites the touched
            # leaves; materialize the merged batch first so the commit
            # can never race its own scan. Bounded: only those leaves.
            merged = merged.localCheckpoint(eager=True)
        self._dyn_overwrite(
            merged.sortWithinPartitions("datetime_utc"), path, _PARTITION_COLS
        )

    def read_processed(
        self,
        dataset: str,
        start: str | None = None,
        end: str | None = None,
        mercados: list[str] | None = None,
        mercado_ids: list[int] | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Partition-pruned reader (S8, db_utils.py:224-301): date and
        market predicates are expressed on the partition columns
        (year/month/mercado/id_mercado) *and* the data column, so
        Catalyst prunes directories first and parquet row-group stats
        prune within files."""
        df = self.spark.read.schema(stored_schema(dataset)).parquet(
            self.processed_path(dataset)
        )
        if start:
            s = F.lit(start).cast("timestamp")
            df = df.where(
                (F.col("datetime_utc") >= s)
                & (
                    (F.col("year") > F.year(s))
                    | ((F.col("year") == F.year(s)) & (F.col("month") >= F.month(s)))
                )
            )
        if end:
            e = F.lit(end).cast("timestamp")
            df = df.where(
                (F.col("datetime_utc") <= e)
                & (
                    (F.col("year") < F.year(e))
                    | ((F.col("year") == F.year(e)) & (F.col("month") <= F.month(e)))
                )
            )
        if mercados:
            df = df.where(F.col("mercado").isin(mercados))
        if mercado_ids:
            df = df.where(F.col("id_mercado").isin(mercado_ids))
        if columns:
            df = df.select(*columns)
        return df.drop("_ingest_seq") if "_ingest_seq" not in (columns or []) else df

    # ------------------------------------------------------------------

    def _exists(self, path: str) -> bool:
        return os.path.exists(path) and bool(
            [f for f in os.listdir(path) if not f.startswith("_")]
        )

    def _dyn_overwrite(self, df: DataFrame, path: str, partition_cols: list[str]) -> None:
        # a writer option, not a session conf: the caller's session is
        # left as it was
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_cols)
            .option("compression", "zstd")
            .parquet(path)
        )


def latest_raw_period(lake: Lake, mercado: str, dataset: str) -> tuple[int, int] | None:
    """S6 raw folder discovery (raw_file_utils.py:316-419): the most
    recent (year, month) present in the raw zone — from the
    ``year=``/``month=`` directory names of leaves holding data, no
    data scan."""
    root = lake.raw_path(mercado, dataset)
    periods = []
    for leaf, _files in _leaves(root):
        parts = dict(
            p.split("=", 1) for p in os.path.relpath(leaf, root).split(os.sep) if "=" in p
        )
        try:
            periods.append((int(parts["year"]), int(parts["month"])))
        except (KeyError, ValueError):
            continue
    return max(periods, default=None)


# on-disk zstd parquet re-expands roughly this much as in-flight rows;
# used only to size the rewrite's shuffle partitions, so a rough factor
# is fine (AQE coalesces the remainder).
_DECOMPRESS_FACTOR = 3


def _fragmented_leaves(
    path: str, min_files_per_leaf: int
) -> tuple[list[str], int]:
    """Driver-side leaf discovery: (over-fragmented leaf dirs, their
    total on-disk bytes)."""
    todo: list[str] = []
    total = 0
    for dirpath, files in _leaves(path):
        if len(files) >= min_files_per_leaf:
            todo.append(dirpath)
            total += sum(
                os.path.getsize(os.path.join(dirpath, f)) for f in files
            )
    return todo, total


def compaction_plan(
    lake: Lake,
    dataset: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files_per_leaf: int = 2,
) -> tuple[DataFrame, list[str]] | None:
    """Build the compaction rewrite plan (without executing it).

    Reads ONLY the over-fragmented leaves (the leaf dirs are passed as
    load paths under ``basePath``, so untouched leaves are never
    scanned), then range-partitions by (partition cols, datetime_utc)
    with a partition count computed from the leaves' byte size — at
    least one task per leaf, more when a leaf outgrows the target file
    size. Rows of one leaf stay contiguous in the range order, so each
    shuffle partition writes whole time-sorted file spans; there is no
    single-partition exchange anywhere (the round-1 version funneled
    the entire table through ``repartition(1, cols)``).

    Returns ``(df, leaf_dirs)`` or ``None`` when nothing is fragmented.
    """
    path = lake.processed_path(dataset)
    todo, total_bytes = _fragmented_leaves(path, min_files_per_leaf)
    if not todo:
        return None
    n_parts = max(
        len(todo), -(-total_bytes * _DECOMPRESS_FACTOR // target_file_bytes)
    )
    df = lake.spark.read.schema(stored_schema(dataset)).option("basePath", path).parquet(*todo)
    compacted = df.repartitionByRange(
        int(n_parts), *[F.col(c) for c in _PARTITION_COLS], F.col("datetime_utc")
    ).sortWithinPartitions(*_PARTITION_COLS, "datetime_utc")
    return compacted, todo


def compact_processed(
    lake: Lake,
    dataset: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files_per_leaf: int = 2,
) -> int:
    """Small-file compaction for the processed zone.

    Daily upserts leave one file batch per run in each touched
    partition; over months a (mercado, id, year, month) leaf
    accumulates many small files, degrading scan parallelism and
    footer-read overhead. Only leaves with ``min_files_per_leaf`` or
    more files are rewritten; the new files land in a ``_compact_tmp``
    staging dir (invisible to readers — underscore-prefixed) and are
    swapped in per leaf, so the live table is readable throughout and
    the job never checkpoints or re-counts the table. On an object
    store / HDFS the swap step is the table-format commit (Iceberg,
    Delta); the planning and rewrite are identical.

    Returns the number of leaf partitions rewritten."""
    import shutil

    plan = compaction_plan(lake, dataset, target_file_bytes, min_files_per_leaf)
    if plan is None:
        return 0
    compacted, leaf_dirs = plan
    path = lake.processed_path(dataset)
    tmp = f"{path}/_compact_tmp"
    (
        compacted.write.mode("overwrite")
        .partitionBy(*_PARTITION_COLS)
        .option("compression", "zstd")
        .parquet(tmp)
    )
    # per-leaf swap: retire the old leaf, move the rewrite into place
    for leaf in leaf_dirs:
        rel = os.path.relpath(leaf, path)
        new_leaf = os.path.join(tmp, rel)
        if not os.path.isdir(new_leaf):  # pragma: no cover — empty leaf
            continue
        old = leaf + "__old"
        os.rename(leaf, old)
        os.rename(new_leaf, leaf)
        shutil.rmtree(old)
    shutil.rmtree(tmp, ignore_errors=True)
    return len(leaf_dirs)
