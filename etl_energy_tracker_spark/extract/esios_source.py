"""ESIOS indicator source (S1) — Spark rendering of
extract/descargadores/_descargador_esios.py:49-239.

The reference loops days, GETs
``https://api.esios.ree.es/indicators/{id}``, and turns the JSON
`values` array into raw rows. Here the network is an injectable
``fetcher`` (url, headers) → json dict so everything else — URL
construction, regulatory-change indicator selection, JSON→rows
parsing, granularity tagging — is pure and offline-testable. The
driver-side loop stays on the driver (it is API pacing, not data
work); rows land in the raw zone via Lake.write_raw and all heavy
processing happens in Spark from there.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..config.market_config import MARKET_BY_NAME, REGULATORY_DATES
from ..session import local_frame

API_BASE = "https://api.esios.ree.es/indicators"

Fetcher = Callable[[str, dict], dict]


def indicator_url(indicator_id: int, start: str, end: str) -> str:
    return (
        f"{API_BASE}/{indicator_id}?start_date={start}T00:00:00Z"
        f"&end_date={end}T23:59:59Z&time_trunc=quarter-hour"
    )


def select_indicator(market_name: str, for_date: str) -> int:
    """Regulatory-change-aware indicator selection
    (_descargador_esios.py:302-539): terciaria switches to the single
    price indicator 2197 after 2024-12-10; other markets keep their
    configured indicator."""
    m = MARKET_BY_NAME[market_name]
    if (
        market_name in ("Terciaria a subir", "Terciaria a bajar")
        and for_date >= REGULATORY_DATES["terciaria_single_price"]
    ):
        return MARKET_BY_NAME["Terciaria programada unico"].indicador_esios
    return m.indicador_esios


RAW_SCHEMA = (
    "datetime_utc string, value double, indicador_id string, geo_name string, "
    "granularidad string"
)


def _payload_rows(payload: dict, indicator_id: int) -> list[tuple]:
    """JSON payload -> raw rows, with the granularity tag derived from
    the payload's timestamps: quarter-hour grids have :15/:30 stamps."""
    values = (payload.get("indicator") or {}).get("values") or []
    rows = [
        (
            v.get("datetime_utc") or v.get("datetime"),
            float(v["value"]) if v.get("value") is not None else None,
            str(indicator_id),
            v.get("geo_name", "España"),
        )
        for v in values
    ]
    has_quarter = any(
        (r[0] or "").find(":15:") >= 0 or (r[0] or "").find(":30:") >= 0 for r in rows
    )
    granularity = "Quince minutos" if has_quarter else "Hora"
    return [(*r, granularity) for r in rows]


def parse_indicator_payload(
    spark: SparkSession, payload: dict, indicator_id: int
) -> DataFrame:
    """JSON payload → raw_precios_esios rows (columns per
    FIXTURES.md §1.1): value, datetime_utc, geo_name, plus the
    granularity tag derived from consecutive timestamps."""
    return local_frame(spark, _payload_rows(payload, indicator_id), RAW_SCHEMA)


def download_range(
    spark: SparkSession,
    fetcher: Fetcher,
    market_name: str,
    start: str,
    end: str,
    api_key: str = "",
) -> DataFrame:
    """Per-day driver loop (extract/esios_extractor.py:108-133) —
    returns one raw frame for the range, each day's rows tagged with
    that day's granularity; caller writes it to the raw zone."""
    headers = {"x-api-key": api_key, "Accept": "application/json"}
    day = dt.date.fromisoformat(start)
    end_d = dt.date.fromisoformat(end)
    rows: list[tuple] = []
    while day <= end_d:
        ind = select_indicator(market_name, day.isoformat())
        payload = fetcher(indicator_url(ind, day.isoformat(), day.isoformat()), headers)
        rows += _payload_rows(payload, ind)
        day += dt.timedelta(days=1)
    return local_frame(spark, rows, RAW_SCHEMA)
