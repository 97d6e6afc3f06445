"""Local stand-in for the driver's t2 correctness gate.

Runs every catalog query on Spark and its oracle on DuckDB over the
same parquet tables, then compares row count, column names, and an
order-insensitive value hash (rows sorted, columns sorted by name,
values normalized to strings).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
import traceback

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from etl_energy_tracker_spark.queries import catalog  # noqa: E402
from etl_energy_tracker_spark.session import get_spark  # noqa: E402
from etl_energy_tracker_spark.sources.registry import TABLES  # noqa: E402


# DuckDB types whose pandas/Arrow conversion diverges from Python-native
# fetchall(): HUGEINT -> float64 ("3.0" vs Spark's "3") is exactly what
# sank the five r2 driver rows while the local fetchall() path stayed
# green. Any oracle emitting one of these is a FAIL regardless of values.
_UNSAFE_DUCK_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # NOTE: deliberately no int-coercion of integral floats — the
        # driver's hasher distinguishes 3 from 3.0 (r2 evidence), so an
        # int-typed column on one engine and float-typed on the other
        # must FAIL here too.
        return repr(round(v, 9))
    # datetime/date → isoformat; Decimal → normalized float-ish
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if type(v).__name__ == "Decimal":
        f = float(v)
        return _norm_cell(f)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def frame_digest(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(_norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    if "--plain" in only:
        # mirror the driver exactly: a bare SparkSession with none of
        # get_spark's confs — the library must self-apply what it needs
        only.discard("--plain")
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[32]")
            .config("spark.ui.enabled", "false")
            .appName("correctness-check-plain")
            .getOrCreate()
        )
    else:
        spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = catalog.queries()
    oracles = catalog.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL {name}: SPARK ERROR")
            traceback.print_exc()
            n_fail += 1
            continue
        if name not in oracles:
            status = "ROWS-ONLY"
            ok = len(srows) >= 0
            n_rows_only += 1
            print(f"{status:9s} {name}: {len(srows)} rows  ({time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = [c for c in rel.columns]
            otypes = [str(t) for t in rel.types]
            orows = rel.fetchall()
        except Exception:
            print(f"FAIL {name}: ORACLE ERROR")
            traceback.print_exc()
            n_fail += 1
            continue
        problems = []
        unsafe = [
            f"{c}:{t}"
            for c, t in zip(ocols, otypes)
            if any(u in t for u in _UNSAFE_DUCK_TYPES)
        ]
        if unsafe:
            problems.append(f"unsafe duckdb output types {unsafe}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(orows)}")
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in ocols):
            problems.append(f"columns spark={sorted(scols)} duckdb={sorted(ocols)}")
        if not problems:
            sh = frame_digest(scols, srows)
            oh = frame_digest(ocols, orows)
            if sh != oh:
                problems.append(f"hash spark={sh} duckdb={oh}")
                # show a few diffs
                sset = {tuple(_norm_cell(v) for v in r) for r in srows}
                oset = {tuple(_norm_cell(v) for v in r) for r in orows}
                for r in list(sset - oset)[:3]:
                    print(f"    spark-only: {r}")
                for r in list(oset - sset)[:3]:
                    print(f"    duck-only:  {r}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}  ({time.time()-t0:.1f}s)")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(srows)} rows  ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass / {n_fail} fail / {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
