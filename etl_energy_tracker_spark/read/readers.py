"""Programmatic query surface — Spark rendering of the reference's
read layer (read/precios_reader.py, utilidades/db_utils.py:224-301):
typed readers over the processed lake with market/date validation, and
lake-table registration for ad-hoc Spark SQL.

All filters route through Lake.read_processed, so every read is
partition-pruned (mercado/id_mercado/year/month directories) before
parquet row-group stats prune inside files."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..config.market_config import MARKET_BY_ID, MARKETS
from ..lake import Lake
from ..schemas import PROCESSED_SCHEMAS


def _validate_ids(mercado_ids: list[int] | None) -> None:
    if mercado_ids:
        bad = [i for i in mercado_ids if i not in MARKET_BY_ID]
        if bad:
            raise ValueError(
                f"unknown market ids {bad}; valid: 1..{max(MARKET_BY_ID)}"
            )


def partition_tree(lake: Lake, dataset: str) -> dict[str, list[int]]:
    """The dataset's ACTUAL partition layout: mercado folder →
    sorted id_mercado values, from the directory names — an O(#dirs)
    metadata listing, no data scan (read/_parquet_reader.py:83-142; at
    scale this comes from the catalog/table-format manifest)."""
    root = lake.processed_path(dataset)
    tree: dict[str, list[int]] = {}
    if not os.path.isdir(root):
        return tree
    for mdir in os.listdir(root):
        if not mdir.startswith("mercado="):
            continue
        ids = []
        for idir in os.listdir(os.path.join(root, mdir)):
            if idir.startswith("id_mercado="):
                try:
                    ids.append(int(idir.split("=", 1)[1]))
                except ValueError:
                    continue
        tree[mdir.split("=", 1)[1]] = sorted(ids)
    return tree


def validate_partition_ids(
    lake: Lake,
    dataset: str,
    mercados: list[str],
    mercado_ids: list[int] | None = None,
) -> dict[str, list[int]]:
    """Validate requested markets/ids against what is actually on disk
    (read/_parquet_reader.py:83-142) — a typo'd-but-configured market
    errors naming what exists instead of silently returning empty.
    Returns mercado → validated id list (all present ids when
    ``mercado_ids`` is None)."""
    tree = partition_tree(lake, dataset)
    validated: dict[str, list[int]] = {}
    for m in mercados:
        if m not in tree:
            raise ValueError(
                f"no processed data folder for market {m!r} in {dataset}; "
                f"existing markets: {sorted(tree)}"
            )
        valid = tree[m]
        if mercado_ids is None:
            validated[m] = valid
            continue
        sel = [i for i in mercado_ids if i in valid]
        if not sel:
            raise ValueError(
                f"none of the ids {mercado_ids} exist for market {m!r} in "
                f"{dataset}; valid ids: {valid}"
            )
        validated[m] = sel
    return validated


class PreciosReader:
    """Price reads (read/precios_reader.py analog). ``granularity``
    picks the reference's Precios_horarios vs Precios_quinceminutales
    surface (read/precios_reader.py:22-56): the lake stores the 15-min
    grid once, and the hourly view is the A3 rollup (prices average
    within the hour) computed on read — one partial-aggregated hash
    agg, instead of a second materialized table."""

    def __init__(self, lake: Lake):
        self.lake = lake

    def read(
        self,
        start: str | None = None,
        end: str | None = None,
        mercado_ids: list[int] | None = None,
        granularity: str = "15min",
    ) -> DataFrame:
        if granularity not in ("15min", "hour"):
            raise ValueError(f"granularity must be '15min' or 'hour', got {granularity!r}")
        _validate_ids(mercado_ids)
        df = self.lake.read_processed("precios", start=start, end=end, mercado_ids=mercado_ids)
        if granularity == "hour":
            from .. import timegrid as tg

            df = tg.rollup_15min_to_hourly(
                df, group_cols=("id_mercado",), mean_cols=("precio",)
            )
        return df


class VolumenesReader:
    """Volume reads across the i90/omie/mic/i3 datasets. Passing
    ``mercados`` validates the request against the dataset's actual
    partition tree (errors name what exists) and prunes to those
    folders."""

    DATASETS = ("volumenes_i90", "volumenes_omie", "volumenes_mic", "volumenes_i3")

    def __init__(self, lake: Lake):
        self.lake = lake

    def read(
        self,
        dataset: str,
        start: str | None = None,
        end: str | None = None,
        mercados: list[str] | None = None,
        mercado_ids: list[int] | None = None,
    ) -> DataFrame:
        if dataset not in self.DATASETS:
            raise ValueError(f"unknown volumenes dataset {dataset!r}")
        _validate_ids(mercado_ids)
        if mercados:
            validated = validate_partition_ids(self.lake, dataset, mercados, mercado_ids)
            mercado_ids = sorted({i for ids in validated.values() for i in ids})
        return self.lake.read_processed(
            dataset,
            start=start,
            end=end,
            mercados=mercados,
            mercado_ids=mercado_ids,
        )


def register_lake_tables(spark: SparkSession, lake: Lake) -> list[str]:
    """Register every existing processed dataset as a temp view so
    `spark.sql` (and the NL→SQL path) can query the lake directly —
    the Spark analog of DuckDB's read_parquet(..., hive_partitioning=1)
    registration (db_utils.py:224-301)."""
    registered = []
    for dataset in PROCESSED_SCHEMAS:
        try:
            lake.read_processed(dataset).createOrReplaceTempView(dataset)
            registered.append(dataset)
        except Exception:  # dataset not materialized yet
            continue
    return registered
