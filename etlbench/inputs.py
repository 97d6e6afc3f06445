"""Seeded input generators for the benchmark workloads.

Everything the program under test reads is generated here from the
``--seed`` and staged as files: ESIOS indicator JSON payloads, OMIE
daily ``;``-CSV files with European decimals, I90 raw frames in the
FIXTURES §1.2 shape, the ``lake_read`` backfill and its request mix.
The same seed gives byte-identical files; the program only ever sees
the staged files.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
from zoneinfo import ZoneInfo

import pyarrow as pa
import pyarrow.parquet as pq

MADRID = ZoneInfo("Europe/Madrid")
UTC = dt.timezone.utc

# market name -> (ESIOS price indicator, quarter-hourly payload)
ESIOS_MARKETS: dict[str, tuple[int, bool]] = {
    "Diario": (600, False),
    "Intra 1": (612, False),
    "Intra 2": (613, False),
    "Secundaria a bajar": (634, True),
    "Secundaria a subir": (2130, True),
    "Terciaria a bajar": (676, True),
    "Terciaria a subir": (677, True),
}
# indicators whose rows carry a geo scope; only 'España' rows survive
GEO_INDICATORS = (600, 612, 613, 614, 615, 616, 617, 618)
# indicator -> id_mercado, as published in the market map
INDICATOR_MARKET = {600: 1, 612: 2, 613: 3, 634: 15, 2130: 14, 676: 19, 677: 18}

# I90 markets replayed per day and the (sentido, redespacho) rows each keeps
I90_MARKETS: dict[int, tuple[str, tuple[str, ...] | None]] = {
    9: ("Subir", ("ECO", "ECOCB", "UPOPVPV", "UPOPVPVCB")),
    15: ("Bajar", None),
}
REDESPACHOS = ("ECO", "ECOCB", "UPOPVPV", "UPOPVPVCB", "ECOBSO", "Restricciones Técnicas")

OMIE_HEADER = "Fecha;Hora;Unidad;Energía Compra/Venta;Ofertada (O)/Casada (C);Tipo Oferta"
# (file prefix, session suffix) -> id_mercado 1 (diario), 2, 3 (intra 1, 2)
OMIE_FILES = (("pdbc", None), ("pibci", 1), ("pibci", 2))

# etl_daily deliveries, replayed in order into one lake. The first is
# delivered during set-up (warm-up, untimed): 2024-03-31, the spring-
# forward day (92 local quarter-hours). The timed phase makes the other
# two: 2024-04-01, which opens April while its first local hours still
# merge into March, then 2024-03-31 again with revised values.
DELIVERIES = (
    ("2024-03-31", False),
    ("2024-04-01", False),
    ("2024-03-31", True),
)
REDELIVERED_DAY = "2024-03-31"
DST_DAY = "2024-03-31"

ETL_SIZES = {"omie_units": 30, "i90_ups": 50}
# lake_read: the backfilled history and the request mix
# (31 days: the longest request window is 30 days)
HISTORY_START, HISTORY_DAYS = "2024-01-01", 31
READ_SIZES = {"omie_units": 5, "i90_ups": 15, "warmup_rounds": 2, "request_rounds": 4}


def rng_for(seed: int, *label: object) -> random.Random:
    """An independent, stable stream per (seed, label)."""
    digest = hashlib.sha256(repr((seed,) + label).encode()).digest()
    return random.Random(int.from_bytes(digest[:8], "big"))


def days(start: str, n: int) -> list[str]:
    d0 = dt.date.fromisoformat(start)
    return [(d0 + dt.timedelta(days=i)).isoformat() for i in range(n)]


def local_hours(day: str) -> int:
    """Hours in the Madrid local day (23 / 24 / 25)."""
    d = dt.date.fromisoformat(day)
    a = dt.datetime(d.year, d.month, d.day, tzinfo=MADRID)
    b = a + dt.timedelta(days=1)
    return int((b.astimezone(UTC) - a.astimezone(UTC)).total_seconds() // 3600)


def local_hour_labels(day: str) -> list[int]:
    """Local wall-clock hours that exist on the day (2 is missing on spring forward)."""
    n = local_hours(day)
    if n == 23:
        return [h for h in range(24) if h != 2]
    if n != 24:
        raise ValueError(f"{day}: fall-back days are outside the benchmark's date range")
    return list(range(24))


def _price(rng: random.Random) -> float:
    r = rng.random()
    if r < 0.02:
        return 0.0
    if r < 0.05:
        return -round(rng.uniform(0.5, 15), 2)
    if r < 0.06:
        return round(rng.uniform(400, 900), 2)
    return round(rng.gauss(70, 25), 2)


def _revise(rng: random.Random, v: float) -> float:
    """Re-delivery: a fifth of the values change, the rest repeat exactly."""
    return round(v + rng.uniform(0.5, 9.5), 2) if rng.random() < 0.2 else v


def esios_payload(seed: int, indicator: int, day: str, quarter: bool, revised: bool) -> dict:
    """ESIOS ``/indicators/{id}`` JSON for one UTC day."""
    rng = rng_for(seed, "esios", indicator, day)
    rev = rng_for(seed, "esios-rev", indicator, day)
    step = 15 if quarter else 60
    t0 = dt.datetime.fromisoformat(day).replace(tzinfo=UTC)
    values = []
    for k in range(24 * 60 // step):
        ts = (t0 + dt.timedelta(minutes=k * step)).strftime("%Y-%m-%dT%H:%M:%SZ")
        v = _price(rng)
        values.append({"datetime_utc": ts, "geo_name": "España",
                       "value": _revise(rev, v) if revised else v})
        if indicator in GEO_INDICATORS and rng.random() < 0.25:
            values.append({"datetime_utc": ts, "geo_name": "Portugal", "value": _price(rng)})
    return {"indicator": {"id": indicator, "values": values}}


def _euro(v: float) -> str:
    """1234.5 -> '1.234,50'."""
    return f"{v:,.2f}".replace(",", "\x00").replace(".", ",").replace("\x00", ".")


def _codes(prefix: str, n: int) -> list[str]:
    letters = "ABCDEFGHJKLMNPRSTUVWXZ"
    return [f"{prefix}{letters[i // len(letters) % len(letters)]}{letters[i % len(letters)]}{i:02d}"
            for i in range(n)]


def omie_files(seed: int, day: str, units: int, revised: bool) -> dict[str, str]:
    """One day's OMIE diario + two intra-session files: filename -> text."""
    ymd = day.replace("-", "")
    hours = local_hours(day)
    out = {}
    for prefix, session in OMIE_FILES:
        rng = rng_for(seed, "omie", day, session)
        rev = rng_for(seed, "omie-rev", day, session)
        lines = [OMIE_HEADER]
        for unit in _codes("U", units):
            for h in range(1, hours + 1):
                # matched offers; a few unit-hours carry a second matched
                # offer of the other side, summed by the pipeline
                sides = ["V" if rng.random() < 0.7 else "C"]
                if rng.random() < 0.05:
                    sides.append("C" if sides[0] == "V" else "V")
                for side in sides:
                    e = round(rng.uniform(0.1, 2500.0), 2)
                    e = _revise(rev, e) if revised else e
                    lines.append(f"{day};{h};{unit};{_euro(e)};C;{side}")
                if rng.random() < 0.1:  # offered, not matched: filtered out
                    lines.append(f"{day};{h};{unit};{_euro(rng.uniform(1, 50))};O;V")
        name = f"{prefix}_{ymd}.csv" if session is None else f"{prefix}_{ymd}.{session}.csv"
        out[name] = "\n".join(lines) + "\n"
    return out


I90_SCHEMA = pa.schema([
    ("fecha", pa.string()),
    ("hora", pa.string()),
    ("granularity", pa.string()),
    ("volumenes", pa.float64()),
    ("Unidad de Programación", pa.string()),
    ("Sentido", pa.string()),
    ("Redespacho", pa.string()),
])


def i90_rows(seed: int, day: str, ups: int, revised: bool) -> list[tuple]:
    """One day's I90 volume rows: half the UPs hourly ('HH-HH+1'
    labels), half quarter-hourly ('1'..'92/96' indices)."""
    rng = rng_for(seed, "i90", day)
    rev = rng_for(seed, "i90-rev", day)
    roles = rng_for(seed, "i90-roles")  # a UP keeps its role across days
    labels_h = [f"{h:02d}-{(h + 1) % 24:02d}" for h in local_hour_labels(day)]
    labels_q = [str(q) for q in range(1, local_hours(day) * 4 + 1)]
    rows = []
    for i, up in enumerate(_codes("P", ups)):
        sentido = roles.choice(("Subir", "Bajar"))
        redespacho = roles.choice(REDESPACHOS)
        hourly = i % 2 == 0
        for label in labels_h if hourly else labels_q:
            v = round(rng.uniform(0.5, 300.0), 2)
            v = _revise(rev, v) if revised else v
            rows.append((day, label, "Hora" if hourly else "Quince minutos", v, up, sentido, redespacho))
    return rows


def _write(path: str, data: bytes) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


def _write_i90(path: str, rows: list[tuple]) -> None:
    cols = list(zip(*rows))
    table = pa.table({f.name: pa.array(c, f.type) for f, c in zip(I90_SCHEMA, cols)}, schema=I90_SCHEMA)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def delivery_name(k: int, day: str, revised: bool) -> str:
    return f"{k:02d}_{day}{'r' if revised else ''}"


def stage_day(seed: int, out: str, name: str, day: str, revised: bool) -> None:
    for market, (ind, quarter) in ESIOS_MARKETS.items():
        payload = esios_payload(seed, ind, day, quarter, revised)
        _write(f"{out}/esios/{name}/{ind}.json",
               json.dumps(payload, sort_keys=True, separators=(",", ":")).encode())
    for fname, text in omie_files(seed, day, ETL_SIZES["omie_units"], revised).items():
        _write(f"{out}/omie/{name}/{fname}", text.encode())
    _write_i90(f"{out}/i90/{name}/i90_{day.replace('-', '')}.parquet",
               i90_rows(seed, day, ETL_SIZES["i90_ups"], revised))


def stage_etl_daily(seed: int, out: str) -> dict:
    """Stage every delivery; returns the plan."""
    plan = {"deliveries": []}
    for k, (day, revised) in enumerate(DELIVERIES):
        name = delivery_name(k, day, revised)
        stage_day(seed, out, name, day, revised)
        plan["deliveries"].append({"name": name, "day": day, "revised": revised})
    _write(f"{out}/plan.json", json.dumps(plan, indent=1).encode())
    return plan


ESIOS_RAW_SCHEMA = pa.schema([
    ("datetime_utc", pa.string()),
    ("value", pa.float64()),
    ("indicador_id", pa.string()),
    ("geo_name", pa.string()),
    ("granularidad", pa.string()),
])


def request_mix(seed: int, history: list[str], label: str, rounds: int) -> list[list[dict]]:
    """The closed-loop request list: ``rounds`` rounds, each holding
    every request shape once with seeded windows and markets."""
    rng = rng_for(seed, "requests", label)
    ids = sorted(INDICATOR_MARKET.values())
    nl_markets = ("Diario", "Intra 1", "Secundaria a subir", "Terciaria a bajar")

    def window(n: int) -> tuple[str, str]:
        i = rng.randrange(0, len(history) - n)
        return history[i], history[i + n - 1]

    def ts_range(a: str, b: str) -> tuple[str, str]:
        return f"{a} 00:00:00", f"{b} 23:45:00"

    out = []
    for _ in range(rounds):
        shapes = []
        for gran, n, k in (("15min", 1, 2), ("15min", 7, 3), ("15min", 30, 1),
                           ("hour", 7, 2), ("hour", 30, None)):
            s, e = ts_range(*window(n))
            shapes.append({"kind": "precios", "granularity": gran, "start": s, "end": e,
                           "mercado_ids": None if k is None else sorted(rng.sample(ids, k))})
        for dataset, mercados, n in (("volumenes_omie", ["intra"], 1),
                                     ("volumenes_omie", ["diario", "intra"], 2),
                                     ("volumenes_i90", ["secundaria"], 1),
                                     ("volumenes_i90", ["restricciones", "secundaria"], 3)):
            s, e = ts_range(*window(n))
            shapes.append({"kind": "volumenes", "dataset": dataset, "mercados": mercados,
                           "start": s, "end": e})
        a, b = window(7)
        shapes.append({"kind": "nl", "shape": "avg_daily_price", "market": rng.choice(nl_markets),
                       "start": a, "end": b})
        a, b = window(7)
        shapes.append({"kind": "nl", "shape": "total_volume_by_market", "start": a, "end": b})
        a, b = window(7)
        shapes.append({"kind": "nl", "shape": "top_markets_by_volume", "k": rng.choice((2, 3)),
                       "start": a, "end": b})
        a, b = window(1)
        shapes.append({"kind": "nl", "shape": "rolling_avg_price", "market": rng.choice(nl_markets),
                       "start": a, "end": b})
        out.append(shapes)
    return out


def stage_lake_read(seed: int, out: str) -> dict:
    """Stage the backfill (one raw input per dataset) and the request mix."""
    history = days(HISTORY_START, HISTORY_DAYS)
    esios = []
    for day in history:
        for market, (ind, quarter) in ESIOS_MARKETS.items():
            gran = "Quince minutos" if quarter else "Hora"
            for v in esios_payload(seed, ind, day, quarter, False)["indicator"]["values"]:
                esios.append((v["datetime_utc"], v["value"], str(ind), v["geo_name"], gran))
    cols = list(zip(*esios))
    table = pa.table({f.name: pa.array(c, f.type) for f, c in zip(ESIOS_RAW_SCHEMA, cols)},
                     schema=ESIOS_RAW_SCHEMA)
    os.makedirs(f"{out}/esios", exist_ok=True)
    pq.write_table(table, f"{out}/esios/esios_raw.parquet")
    i90 = []
    for day in history:
        for fname, text in omie_files(seed, day, READ_SIZES["omie_units"], False).items():
            _write(f"{out}/omie/{fname}", text.encode())
        i90.extend(i90_rows(seed, day, READ_SIZES["i90_ups"], False))
    _write_i90(f"{out}/i90/i90_raw.parquet", i90)
    plan = {"start": history[0], "end": history[-1],
            "warmup": request_mix(seed, history, "warmup", READ_SIZES["warmup_rounds"]),
            "rounds": request_mix(seed, history, "timed", READ_SIZES["request_rounds"])}
    _write(f"{out}/plan.json", json.dumps(plan, indent=1).encode())
    return plan


STAGERS = {"etl_daily": stage_etl_daily, "lake_read": stage_lake_read}

