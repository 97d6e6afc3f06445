"""Job entry points — the orchestration surface (SURVEY §3.1 step 4).

Each job is extract → transform → load over the two-zone lake and
returns the reference's status-dict shape
(dags/ESIOS/esios_precios_etl_dag.py:97-156), so any scheduler can
wrap it: Airflow PythonOperator, cron spark-submit, or Structured
Streaming Trigger.AvailableNow for the incremental variant
(streaming/jobs.py). DataFrames never cross the scheduler boundary —
the lake is the hand-off (no XCom frames).

Every job is one call into ``_run``, so every job returns the loader's
``{success, details{dataset, markets_processed, markets_failed}}`` on
success and on failure alike."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import timegrid as tg
from .config.market_config import CURTAILMENT_MARKET_ID, i90_errores_df
from .lake import Lake
from .load.loader import DataLakeLoader
from .pipelines import curtailments as curt_pipeline
from .pipelines import esios as esios_pipeline
from .pipelines import i3 as i3_pipeline
from .pipelines import i90 as i90_pipeline
from .pipelines import omie as omie_pipeline
from .pipelines.common import filter_date_mode, normalize_schema_drift


def _run(
    spark: SparkSession,
    lake: Lake,
    dataset: str,
    market_ids: list[int],
    build: Callable[[DataFrame, DataFrame, int], DataFrame],
    raw: DataFrame,
    date_col: str,
    mode: str,
    start: str | None,
    end: str | None,
) -> dict:
    """Filter ``raw`` on ``date_col`` by ``mode`` once, build each
    market's frame with ``build(filtered, dst_dim, market_id)``, and
    upsert the built frames as one ``DataLakeLoader`` batch into
    ``dataset``. A failed build fails its own market; a failed filter
    or dimension fails every market. Returns the loader's status with
    those failures added to ``markets_failed``."""
    frames: dict[int, DataFrame] = {}
    failed: dict[int, str] = {}
    try:
        filtered = filter_date_mode(raw, date_col, mode, start, end)
        dim = tg.dst_dim(spark)
    except Exception as e:  # noqa: BLE001 - job surface returns status
        failed = dict.fromkeys(market_ids, f"{type(e).__name__}: {e}")
    else:
        for market_id in market_ids:
            try:
                frames[market_id] = build(filtered, dim, market_id)
            except Exception as e:  # noqa: BLE001
                failed[market_id] = f"{type(e).__name__}: {e}"
    status = DataLakeLoader(lake).load_transformed_data(frames, dataset)
    status["details"]["markets_failed"].update(failed)
    status["success"] = status["success"] and not failed
    return status


def run_esios_precios_etl(
    spark: SparkSession,
    lake: Lake,
    raw: DataFrame,
    mode: str = "latest",
    start: str | None = None,
    end: str | None = None,
) -> dict:
    """Daily ESIOS price job: F1 date filter → transform → upsert."""
    return _run(
        spark, lake, "precios", [0],
        lambda filtered, _dim, _mid: esios_pipeline.transform_price_data(spark, filtered),
        raw, "datetime_utc", mode, start, end,
    )


def run_i90_volumenes_etl(
    spark: SparkSession,
    lake: Lake,
    raw: DataFrame,
    market_ids: list[int],
    mode: str = "latest",
    start: str | None = None,
    end: str | None = None,
) -> dict:
    """Per-market I90 volume job (transform/i90_transform.py routing).
    Known-bad (fecha, sheet) pairs from the config's error list are
    excluded during ingest (F10)."""
    return _run(
        spark, lake, "volumenes_i90", market_ids,
        lambda filtered, dim, mid: i90_pipeline.transform_volumenes(
            filtered, mid, dim, errors=i90_errores_df(spark)
        ),
        raw, "fecha", mode, start, end,
    )


def run_curtailment_etl(
    spark: SparkSession,
    lake: Lake,
    raw: DataFrame,
    mode: str = "latest",
    start: str | None = None,
    end: str | None = None,
) -> dict:
    return _run(
        spark, lake, "curtailments_i90", [CURTAILMENT_MARKET_ID],
        lambda filtered, dim, _mid: curt_pipeline.transform(filtered, dim),
        raw, "fecha", mode, start, end,
    )


def run_omie_volumenes_etl(
    spark: SparkSession,
    lake: Lake,
    raw: DataFrame,
    mode: str = "latest",
    start: str | None = None,
    end: str | None = None,
) -> dict:
    return _run(
        spark, lake, "volumenes_omie", [0],
        lambda filtered, dim, _mid: omie_pipeline.transform_volumenes(
            normalize_schema_drift(filtered), dim
        ),
        raw, "Fecha", mode, start, end,
    )


def run_i3_volumenes_etl(
    spark: SparkSession,
    lake: Lake,
    raw: DataFrame,
    market_id: int | None = None,
    mode: str = "latest",
    start: str | None = None,
    end: str | None = None,
) -> dict:
    return _run(
        spark, lake, "volumenes_i3", [market_id or 0],
        lambda filtered, dim, _mid: i3_pipeline.transform_volumenes(
            spark, filtered, dim, market_id
        ),
        raw, "fecha", mode, start, end,
    )
