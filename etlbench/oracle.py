"""DuckDB oracles for the workloads' correctness checks.

Expected results are computed in DuckDB straight from the generated
inputs (``etl_daily``) or from the lake's Parquet files read with
``hive_partitioning`` (``lake_read``), the way the reference reads its
lake. Local Madrid time is converted with DuckDB's ICU time zones, so
the oracle shares no code with the program's DST kernel.
"""

from __future__ import annotations

import glob
import json
import math
import os

import duckdb
import pyarrow as pa

import inputs

QUARTERS = "(VALUES (0), (15), (30), (45)) AS o(off)"
# naive UTC timestamp of local midnight on ``col`` (a 'YYYY-MM-DD' string)
LOCAL_MIDNIGHT_UTC = "timezone('UTC', timezone('Europe/Madrid', CAST({col} AS TIMESTAMP)))"
MADRID_DATE = "CAST(timezone('Europe/Madrid', timezone('UTC', datetime_utc)) AS DATE)"

# processed columns per dataset, without the partition-only columns
COLUMNS = {
    "precios": "datetime_utc, id_mercado, precio",
    "volumenes_omie": "datetime_utc, uof, volumenes, id_mercado",
    "volumenes_i90": "datetime_utc, up, volumenes, id_mercado",
}


def connect() -> duckdb.DuckDBPyConnection:
    # the oracle never installs or downloads an extension
    return duckdb.connect(config={"autoinstall_known_extensions": False,
                                  "autoload_known_extensions": False,
                                  "threads": 2})


def lake_relation(lake: str, dataset: str) -> str:
    return (f"read_parquet('{lake}/processed/{dataset}/**/*.parquet', "
            f"hive_partitioning = true)")


def parquet_files(lake: str, dataset: str | None = None) -> dict[str, int]:
    """path -> size of every Parquet file in a lake's processed zone, or
    in one dataset of it."""
    root = f"{lake}/processed" + (f"/{dataset}" if dataset else "")
    return {p: os.path.getsize(p) for p in glob.glob(f"{root}/**/*.parquet", recursive=True)}


def lake_has(lake: str, dataset: str) -> bool:
    return bool(parquet_files(lake, dataset))


# ---------------------------------------------------------------------------
# etl_daily: the lake after a replay versus the generated raw inputs
# ---------------------------------------------------------------------------


def load_deliveries(con: duckdb.DuckDBPyConnection, staged: str, deliveries: list[dict]) -> None:
    """Register the raw inputs of ``deliveries`` as DuckDB tables."""
    esios = {"delivery": [], "indicator": [], "datetime_utc": [], "value": [], "geo_name": []}
    for d in deliveries:
        for path in sorted(glob.glob(f"{staged}/esios/{d['name']}/*.json")):
            with open(path, encoding="utf-8") as f:
                payload = json.load(f)["indicator"]
            for v in payload["values"]:
                esios["delivery"].append(d["name"])
                esios["indicator"].append(payload["id"])
                esios["datetime_utc"].append(v["datetime_utc"])
                esios["value"].append(v["value"])
                esios["geo_name"].append(v["geo_name"])
    con.register("esios_raw", pa.table(esios))
    con.execute("CREATE OR REPLACE TABLE indmap(indicator INT, id_mercado INT)")
    con.executemany("INSERT INTO indmap VALUES (?, ?)", list(inputs.INDICATOR_MARKET.items()))
    omie = " UNION ALL ".join(
        f"SELECT '{d['name']}' AS delivery, * FROM read_csv('{staged}/omie/{d['name']}/*.csv', "
        f"delim = ';', header = true, all_varchar = true, filename = true)"
        for d in deliveries)
    con.execute(f"CREATE OR REPLACE VIEW omie_raw AS {omie}")
    i90 = " UNION ALL ".join(
        f"SELECT '{d['name']}' AS delivery, * FROM read_parquet('{staged}/i90/{d['name']}/*.parquet')"
        for d in deliveries)
    con.execute(f"CREATE OR REPLACE VIEW i90_raw AS {i90}")


def expected_sql(dataset: str) -> str:
    """Processed rows per delivery batch, with a ``delivery`` column."""
    if dataset == "precios":
        geo = ", ".join(map(str, inputs.GEO_INDICATORS))
        return f"""
        WITH r AS (
            SELECT *, strptime(datetime_utc, '%Y-%m-%dT%H:%M:%SZ') AS ts,
                   bool_or(minute(strptime(datetime_utc, '%Y-%m-%dT%H:%M:%SZ')) <> 0)
                       OVER (PARTITION BY delivery, indicator) AS quarter
            FROM esios_raw)
        SELECT DISTINCT delivery, ts + to_minutes(off) AS datetime_utc, m.id_mercado,
               CAST(round(value, 2) AS FLOAT) AS precio
        FROM r JOIN indmap m USING (indicator) CROSS JOIN {QUARTERS}
        WHERE (indicator NOT IN ({geo}) OR geo_name = 'España') AND (NOT quarter OR off = 0)"""
    if dataset == "volumenes_omie":
        sess = r"regexp_extract(filename, '\.(\d+)\.csv$', 1)"
        return f"""
        WITH f AS (
            SELECT delivery, Fecha, CAST(Hora AS INT) AS h, Unidad AS uof,
                   CASE WHEN {sess} = '' THEN 1 ELSE CAST({sess} AS INT) + 1 END AS id_mercado,
                   CAST(replace(replace("Energía Compra/Venta", '.', ''), ',', '.') AS DOUBLE)
                       * CASE WHEN "Tipo Oferta" = 'C' THEN -1 ELSE 1 END AS v
            FROM omie_raw WHERE "Ofertada (O)/Casada (C)" = 'C')
        SELECT delivery, datetime_utc, uof, CAST(SUM(v / 4) AS FLOAT) AS volumenes, id_mercado
        FROM (SELECT *, {LOCAL_MIDNIGHT_UTC.format(col='Fecha')}
                        + to_minutes((h - 1) * 60 + off) AS datetime_utc
              FROM f CROSS JOIN {QUARTERS})
        GROUP BY delivery, datetime_utc, uof, id_mercado"""
    if dataset == "volumenes_i90":
        parts = []
        for mid, (sentido, redespachos) in inputs.I90_MARKETS.items():
            cond = f"Sentido = '{sentido}'"
            if redespachos:
                cond += " AND Redespacho IN (" + ", ".join(f"'{r}'" for r in redespachos) + ")"
            parts.append(f"SELECT *, {mid} AS id_mercado FROM i90_raw WHERE {cond}")
        hourly = ("timezone('UTC', timezone('Europe/Madrid', CAST(fecha AS TIMESTAMP) "
                  "+ to_hours(CAST(left(hora, 2) AS INT)))) + to_minutes(off)")
        quarter = f"{LOCAL_MIDNIGHT_UTC.format(col='fecha')} + to_minutes((CAST(hora AS INT) - 1) * 15)"
        return f"""
        SELECT DISTINCT delivery,
               CASE WHEN granularity = 'Hora' THEN {hourly} ELSE {quarter} END AS datetime_utc,
               "Unidad de Programación" AS up,
               CAST(CASE WHEN granularity = 'Hora' THEN volumenes / 4 ELSE volumenes END AS FLOAT)
                   AS volumenes,
               id_mercado
        FROM ({' UNION ALL '.join(parts)}) CROSS JOIN {QUARTERS}
        WHERE (granularity = 'Hora' OR off = 0) AND volumenes IS NOT NULL AND volumenes <> 0"""
    raise KeyError(dataset)


def check_replay(lake: str, staged: str, deliveries: list[dict]) -> list[str]:
    """Compare one replayed lake with DuckDB over the raw inputs of the
    deliveries it received; returns the problems found."""
    problems: list[str] = []
    con = connect()
    load_deliveries(con, staged, deliveries)
    redelivery = next((d["name"] for d in deliveries if d["revised"]), None)
    days = {d["day"] for d in deliveries}
    for dataset, cols in COLUMNS.items():
        con.execute(f"CREATE OR REPLACE TEMP TABLE exp AS {expected_sql(dataset)}")
        rel = lake_relation(lake, dataset)
        if not lake_has(lake, dataset):
            problems.append(f"{dataset}: nothing in the lake")
            continue
        con.execute(f"CREATE OR REPLACE TEMP TABLE act AS SELECT {cols}, mercado, year, month, "
                    f"_ingest_seq FROM {rel}")
        # keep-last on the dataset's keys: the lake is the distinct union of all batches
        n_act, n_exp, n_missing, n_extra = con.execute(f"""
            SELECT (SELECT count(*) FROM act),
                   (SELECT count(*) FROM (SELECT DISTINCT {cols} FROM exp)),
                   (SELECT count(*) FROM (SELECT {cols} FROM exp EXCEPT SELECT {cols} FROM act)),
                   (SELECT count(*) FROM (SELECT {cols} FROM act EXCEPT SELECT {cols} FROM exp))
        """).fetchone()
        if (n_act, n_missing, n_extra) != (n_exp, 0, 0):
            problems.append(f"{dataset}: lake has {n_act} rows, expected {n_exp}; "
                            f"{n_missing} expected rows missing, {n_extra} unexpected")
        # ESIOS delivers UTC days (96 quarter-hours each); OMIE and I90
        # deliver Madrid days, so the spring-forward day has 92
        if dataset == "precios":
            day_of, want = "CAST(datetime_utc AS DATE)", {d["day"]: 96 for d in deliveries}
        else:
            day_of, want = MADRID_DATE, {inputs.DST_DAY: 92} if inputs.DST_DAY in days else {}
        for day, n in want.items():
            bad = con.execute(f"""
                SELECT id_mercado, count(DISTINCT datetime_utc) AS n FROM act
                WHERE {day_of} = DATE '{day}' GROUP BY id_mercado HAVING n <> {n}
            """).fetchall()
            if bad:
                problems.append(f"{dataset}: quarter-hours per market on {day}: {bad}, expected {n}")
        if redelivery is not None:
            # every row the re-delivery carried was rewritten by it (keep-last),
            # so it holds the newest arrival sequence of its partition
            stale = con.execute(f"""
                WITH a AS (SELECT *, max(_ingest_seq) OVER (PARTITION BY mercado, id_mercado, year, month)
                                  AS leaf_max FROM act)
                SELECT count(*) FROM a SEMI JOIN (SELECT * FROM exp WHERE delivery = '{redelivery}') e
                USING ({cols}) WHERE a._ingest_seq <> a.leaf_max
            """).fetchone()[0]
            if stale:
                problems.append(f"{dataset}: {stale} re-delivered rows kept an older arrival")
    con.close()
    return problems


# ---------------------------------------------------------------------------
# lake_read: each request shape versus DuckDB over the same lake files
# ---------------------------------------------------------------------------

NL_MARKET_IDS = {"Diario": 1, "Intra 1": 2, "Secundaria a subir": 14, "Terciaria a bajar": 19}


def request_sql(lake: str, req: dict) -> str:
    if req["kind"] == "precios":
        where = f"datetime_utc >= TIMESTAMP '{req['start']}' AND datetime_utc <= TIMESTAMP '{req['end']}'"
        if req["mercado_ids"]:
            where += f" AND id_mercado IN ({', '.join(map(str, req['mercado_ids']))})"
        src = f"(SELECT * FROM {lake_relation(lake, 'precios')} WHERE {where})"
        if req["granularity"] == "hour":
            return (f"SELECT date_trunc('hour', datetime_utc) AS datetime_utc, id_mercado, "
                    f"avg(precio) AS precio FROM {src} GROUP BY ALL")
        return f"SELECT datetime_utc, precio, mercado, id_mercado, year, month FROM {src}"
    if req["kind"] == "volumenes":
        entity = "uof" if req["dataset"] == "volumenes_omie" else "up"
        mercados = ", ".join(f"'{m}'" for m in req["mercados"])
        return (f"SELECT datetime_utc, {entity}, volumenes, mercado, id_mercado, year, month "
                f"FROM {lake_relation(lake, req['dataset'])} WHERE mercado IN ({mercados}) "
                f"AND datetime_utc >= TIMESTAMP '{req['start']}' "
                f"AND datetime_utc <= TIMESTAMP '{req['end']}'")
    span = (f"datetime_utc >= TIMESTAMP '{req['start']} 00:00:00' "
            f"AND datetime_utc < TIMESTAMP '{req['end']} 00:00:00' + INTERVAL 1 DAY")
    precios, volumenes = lake_relation(lake, "precios"), lake_relation(lake, "volumenes_i90")
    shape = req["shape"]
    if shape == "avg_daily_price":
        return (f"SELECT CAST(datetime_utc AS DATE) AS dia, round(avg(precio), 2) AS avg_precio "
                f"FROM {precios} WHERE id_mercado = {NL_MARKET_IDS[req['market']]} AND {span} "
                f"GROUP BY dia")
    if shape == "total_volume_by_market":
        return (f"SELECT id_mercado, round(sum(volumenes), 2) AS total_volumenes "
                f"FROM {volumenes} WHERE {span} GROUP BY id_mercado")
    if shape == "top_markets_by_volume":
        return (f"SELECT id_mercado, round(sum(volumenes), 2) AS total_volumenes "
                f"FROM {volumenes} WHERE {span} GROUP BY id_mercado "
                f"ORDER BY total_volumenes DESC, id_mercado LIMIT {req['k']}")
    if shape == "rolling_avg_price":
        return (f"SELECT datetime_utc, precio, round(avg(precio) OVER (ORDER BY datetime_utc "
                f"ROWS BETWEEN 24 PRECEDING AND CURRENT ROW), 2) AS rolling_avg_24h "
                f"FROM {precios} WHERE id_mercado = {NL_MARKET_IDS[req['market']]} AND {span}")
    raise KeyError(shape)


def _cell(v: object) -> object:
    if v is None or isinstance(v, float):
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def compare_rows(cols_a: list[str], rows_a: list[tuple], cols_b: list[str], rows_b: list[tuple],
                 tol: float) -> str | None:
    """Order-insensitive equality; floats within ``tol``. Rows are
    matched on their non-float cells, which are unique in every shape."""
    if sorted(c.lower() for c in cols_a) != sorted(c.lower() for c in cols_b):
        return f"columns {sorted(cols_a)} != {sorted(cols_b)}"
    if len(rows_a) != len(rows_b):
        return f"{len(rows_a)} rows != {len(rows_b)} expected"

    def norm(cols: list[str], rows: list[tuple]) -> list[tuple]:
        order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
        out = [tuple(_cell(r[i]) for i in order) for r in rows]
        return sorted(out, key=lambda r: tuple((isinstance(v, float), "" if isinstance(v, float) or v is None else v)
                                               for v in r))

    for a, b in zip(norm(cols_a, rows_a), norm(cols_b, rows_b)):
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                if not (math.isclose(x, y, abs_tol=tol) or (math.isnan(x) and math.isnan(y))):
                    return f"row {a} != {b}"
            elif x != y:
                return f"row {a} != {b}"
    return None


def check_requests(lake: str, done: list[tuple[dict, list[str], list[tuple]]]) -> list[str]:
    problems = []
    con = connect()
    for req, cols, rows in done:
        rel = con.sql(request_sql(lake, req))
        # NL answers round to cents in SQL; a last-bit difference in a
        # sum may round the other way, so allow one cent there
        tol = 0.0100001 if req["kind"] == "nl" else 1e-6
        err = compare_rows(cols, rows, rel.columns, rel.fetchall(), tol)
        if err:
            problems.append(f"request {json.dumps(req, sort_keys=True)}: {err}")
    con.close()
    return problems


def processed_bytes(lake: str, dataset: str | None = None) -> int:
    return sum(parquet_files(lake, dataset).values())


def processed_rows(lake: str) -> int:
    con = connect()
    n = sum(con.execute(f"SELECT count(*) FROM {lake_relation(lake, d)}").fetchone()[0]
            for d in COLUMNS if lake_has(lake, d))
    con.close()
    return n


def files_per_leaf(lakes: list[str]) -> float:
    """Mean Parquet files per partition leaf of the processed zones."""
    leaves: dict[str, int] = {}
    for lake in lakes:
        for p in parquet_files(lake):
            leaves[os.path.dirname(p)] = leaves.get(os.path.dirname(p), 0) + 1
    return sum(leaves.values()) / len(leaves) if leaves else 0.0
