"""``lake_read``: the analyst's read surface over a backfilled lake.

Set-up backfills a month of ESIOS prices, OMIE volumes and I90 volumes
with one ``mode="multiple"`` job per dataset. The timed phase is a
closed loop with one client: it sends a fixed number of seeded request
rounds in order, each request after the previous one returned, and
collects every result to the driver. A round holds every request shape
once: typed reads through ``PreciosReader``/``VolumenesReader`` and NL
questions through ``NLQueryGenerator`` on the offline template path.
"""

from __future__ import annotations

import time

from etl_energy_tracker_spark import jobs
from etl_energy_tracker_spark.extract import omie_source
from etl_energy_tracker_spark.lake import Lake
from etl_energy_tracker_spark.read.nl2sql import NLQueryGenerator
from etl_energy_tracker_spark.read.readers import PreciosReader, VolumenesReader, register_lake_tables

import inputs
import oracle
import stats
from tracing import Recorder, read_request

# requests whose results are kept and checked against DuckDB: the first
# round, which holds every request shape once
CHECKED_ROUNDS = 1

NL_QUESTIONS = {
    "avg_daily_price": "average daily price of {market} between {start} and {end}",
    "total_volume_by_market": "total volume by market between {start} and {end}",
    "top_markets_by_volume": "top {k} markets by volume between {start} and {end}",
    "rolling_avg_price": "rolling average price of {market} between {start} and {end}",
}
NL_TABLES = {"avg_daily_price": "precios", "rolling_avg_price": "precios",
             "total_volume_by_market": "volumenes_i90", "top_markets_by_volume": "volumenes_i90"}


class LakeRead:
    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.staged = f"{ctx.work}/inputs"
        self.lake = Lake(self.spark, f"{ctx.work}/lake")
        self.results: list[tuple[dict, list[str], list[tuple]]] = []
        self.served: dict[str, int] = {}

    def setup(self, direct: bool) -> None:
        """Reads make the same calls on every path: ``direct`` changes nothing."""
        spark, s = self.spark, self.staged
        t = time.perf_counter()
        self.plan = inputs.stage_lake_read(self.ctx.seed, s)
        t = self.ctx.phase_done("staging", t)
        start, end = self.plan["start"], self.plan["end"]
        backfill = {
            "esios": lambda: jobs.run_esios_precios_etl(
                spark, self.lake, spark.read.parquet(f"{s}/esios"), mode="multiple", start=start, end=end),
            "omie": lambda: jobs.run_omie_volumenes_etl(
                spark, self.lake, omie_source.read_raw_dir(spark, f"{s}/omie"),
                mode="multiple", start=start, end=end),
            "i90": lambda: jobs.run_i90_volumenes_etl(
                spark, self.lake, spark.read.parquet(f"{s}/i90"), list(inputs.I90_MARKETS),
                mode="multiple", start=start, end=end),
        }
        for name, job in backfill.items():
            status = job()
            if not status["success"]:
                raise RuntimeError(f"{name} backfill failed: {status}")
            t = self.ctx.phase_done(f"backfill_{name}", t)
        register_lake_tables(spark, self.lake)
        self.nl = NLQueryGenerator(spark)
        self.dataset_bytes = {d: oracle.processed_bytes(self.lake.base, d) for d in oracle.COLUMNS}
        warm = Recorder("warmup")
        for req in [r for rnd in self.plan["warmup"] for r in rnd]:
            self.request(warm, req)
        if warm.failed:
            raise RuntimeError(f"warm-up failed: {warm.errors[:3]}")
        self.ctx.phase_done("warmup", t)

    def fork(self, label: str) -> None:
        """Every timed phase reads the one backfilled lake."""

    def request(self, rec: Recorder, req: dict) -> list | None:
        kind = req["kind"]
        if kind == "precios":
            return read_request(rec, "request.precios", lambda: PreciosReader(self.lake).read(
                start=req["start"], end=req["end"], mercado_ids=req["mercado_ids"],
                granularity=req["granularity"]), {"dataset_bytes": self.dataset_bytes["precios"]})
        if kind == "volumenes":
            return read_request(rec, "request.volumenes", lambda: VolumenesReader(self.lake).read(
                req["dataset"], start=req["start"], end=req["end"], mercados=req["mercados"]),
                {"dataset_bytes": self.dataset_bytes[req["dataset"]]})
        question = NL_QUESTIONS[req["shape"]].format(**req)
        attrs = {"dataset_bytes": self.dataset_bytes[NL_TABLES[req["shape"]]]}
        if not rec.traced:
            return rec.call("request.nl", lambda: self.nl.execute_query(question).collect())
        # traced: the same calls execute_query makes, one span each
        with rec.span("request.nl", **attrs):
            sql = rec.call("read.nl_generate", self.nl.generate_sql, question)
            df = None if sql is None else rec.call("read.plan", self.spark.sql, sql)
            return None if df is None else rec.call("read.exec", df.collect)

    @property
    def units(self) -> int:
        """Request rounds the timed phase sends."""
        return len(self.plan["rounds"])

    def unit(self, rec: Recorder, label: str, i: int, direct: bool) -> None:
        """Send round ``i``, timed as one batch. Reads make the same calls
        on every path, so ``direct`` changes nothing here."""
        with rec.batch():
            for req in self.plan["rounds"][i]:
                rows = self.request(rec, req)
                if rows is not None and i < CHECKED_ROUNDS:
                    # every window lies inside the history: an empty answer is wrong
                    self.results.append((req, list(rows[0].__fields__) if rows else [], rows))
        self.served[label] = self.served.get(label, 0) + len(self.plan["rounds"][i])

    def check(self) -> list[str]:
        self.rows = oracle.processed_rows(self.lake.base)
        return oracle.check_requests(self.lake.base, self.results)

    def end_to_end(self, rec: Recorder) -> dict[str, float]:
        return {
            "batch_s": stats.median(rec.batches),
            "lake_bytes_per_row": oracle.processed_bytes(self.lake.base) / self.rows,
        }

    @staticmethod
    def latencies(rec: Recorder) -> list[float]:
        return [x for name, xs in rec.samples.items() if name.startswith("request.") for x in xs]

    def report(self, rec: Recorder) -> list[str]:
        lines = [stats.describe("request", self.latencies(rec)),
                 stats.describe("round batch", rec.batches)]
        lines += [stats.describe(name, xs) for name, xs in sorted(rec.samples.items())]
        lines.append(f"requests served: {self.served}")
        return lines

    def traced_lakes(self) -> list[str]:
        return [self.lake.base]

    def write_amplification(self) -> float:
        return 0.0  # the timed phase only reads
