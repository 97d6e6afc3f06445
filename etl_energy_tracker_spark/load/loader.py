"""Load facade (K5) — Spark rendering of
load/data_lake_loader.py:84-265: thin driver code around the lake
upsert that returns the reference's status-dict shape
(``{success, details{markets_processed, markets_failed, ...}}``) so
any scheduler (Airflow PythonOperator, cron spark-submit) can wrap it.
DataFrames never pass through scheduler state (no XCom frames) — the
lake is the hand-off."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame

from ..lake import Lake
from ..schemas import validate


class DataLakeLoader:
    def __init__(self, lake: Lake):
        self.lake = lake

    def load_transformed_data(
        self, frames: dict[int, DataFrame], dataset: str
    ) -> dict:
        """Validate each market's frame, then upsert the valid ones as
        one batch (one merge pass per call, not per market). A market
        that fails validation is recorded on its own
        (data_lake_loader.py:142-157); a failed upsert fails every
        market of the batch."""
        valid: dict[int, DataFrame] = {}
        failed: dict[int, str] = {}
        for market_id, df in frames.items():
            try:
                valid[market_id] = validate(df, dataset)
            except Exception as e:  # noqa: BLE001 - status dict, not control flow
                failed[market_id] = f"{type(e).__name__}: {e}"
        if valid:
            try:
                self.lake.upsert_processed(reduce(DataFrame.unionByName, valid.values()), dataset)
            except Exception as e:  # noqa: BLE001
                failed.update({market_id: f"{type(e).__name__}: {e}" for market_id in valid})
                valid = {}
        return {
            "success": not failed,
            "details": {
                "dataset": dataset,
                "markets_processed": list(valid),
                "markets_failed": failed,
            },
        }
