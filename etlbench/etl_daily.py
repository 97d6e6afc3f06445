"""``etl_daily``: the reference's production daily DAG, replayed.

Deliveries go in order into a temporary lake. Set-up makes the first
one (the warm-up); the timed phase always makes all the others, so it
measures the same work however fast the program is. Each delivered day
runs four steps: ESIOS prices (extract -> raw zone -> price job), OMIE
volumes (staged CSVs -> job), I90 volumes (staged raw frame -> one
upsert per market) and a partition-pruned read-back of the day.
Timed runs call the ``jobs.run_*`` entry points. The traced run makes
the calls those jobs make directly (``pipelines.*`` transforms, each
materialized, then ``DataLakeLoader.load_transformed_data``) so
transform and upsert time separate.
"""

from __future__ import annotations

import glob
import json
import shutil
import time

from pyspark.sql import functions as F

from etl_energy_tracker_spark import jobs
from etl_energy_tracker_spark import timegrid as tg
from etl_energy_tracker_spark.config.market_config import i90_errores_df
from etl_energy_tracker_spark.extract import esios_source, omie_source
from etl_energy_tracker_spark.lake import Lake
from etl_energy_tracker_spark.load.loader import DataLakeLoader
from etl_energy_tracker_spark.pipelines import esios as esios_pipeline
from etl_energy_tracker_spark.pipelines import i90 as i90_pipeline
from etl_energy_tracker_spark.pipelines import omie as omie_pipeline
from etl_energy_tracker_spark.pipelines.common import filter_date_mode, normalize_schema_drift
from etl_energy_tracker_spark.read.readers import PreciosReader, VolumenesReader

import inputs
import oracle
import stats
from tracing import Recorder, read_request

# read-backs of the delivered day: (call name, dataset, reader call)
READS = (
    ("read.precios", "precios", lambda lake, s, e: PreciosReader(lake).read(
        start=s, end=e, mercado_ids=[1, 14, 18])),
    ("read.volumenes_omie", "volumenes_omie", lambda lake, s, e: VolumenesReader(lake).read(
        "volumenes_omie", start=s, end=e, mercados=["diario", "intra"])),
    ("read.volumenes_i90", "volumenes_i90", lambda lake, s, e: VolumenesReader(lake).read(
        "volumenes_i90", start=s, end=e, mercados=["restricciones", "secundaria"])),
)


class EtlDaily:
    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.staged = f"{ctx.work}/inputs"
        self.lakes: dict[str, tuple[Lake, list[dict]]] = {}  # label -> lake, deliveries made
        self.written_bytes = 0  # Parquet bytes the traced upserts wrote
        self.forked_bytes = 0  # bytes the traced lake held before its timed deliveries

    # -- set-up -------------------------------------------------------------

    def setup(self, direct: bool) -> None:
        t = time.perf_counter()
        self.plan = inputs.stage_etl_daily(self.ctx.seed, self.staged)
        self.payloads = {}
        for d in self.plan["deliveries"]:
            for path in glob.glob(f"{self.staged}/esios/{d['name']}/*.json"):
                with open(path, encoding="utf-8") as f:
                    payload = json.load(f)
                self.payloads[(d["name"], payload["indicator"]["id"])] = payload
        t = self.ctx.phase_done("staging", t)
        # the first delivery, into a fresh lake, on the path the run times;
        # in a fresh process this is the warm-up, as it runs every step of a day
        lake = Lake(self.spark, f"{self.ctx.work}/lake_u")
        first = self.plan["deliveries"][0]
        rec = Recorder("setup")
        self.day(rec, lake, first, direct)
        if rec.failed:
            raise RuntimeError(f"first delivery failed: {rec.errors[:3]}")
        self.lakes["u"] = (lake, [first])
        self.ctx.phase_done("warmup", t)

    def fork(self, label: str) -> None:
        """A second lake in the state set-up left the first in (copied)."""
        lake, done = self.lakes["u"]
        shutil.copytree(lake.base, f"{self.ctx.work}/lake_{label}")
        self.lakes[label] = (Lake(self.spark, f"{self.ctx.work}/lake_{label}"), list(done))
        self.forked_bytes = oracle.processed_bytes(self.lakes[label][0].base)

    # -- one delivered day --------------------------------------------------

    def day(self, rec: Recorder, lake: Lake, d: dict, direct: bool) -> None:
        spark, day, name = self.spark, d["day"], d["name"]
        year, month = int(day[:4]), int(day[5:7])

        def fetch(url: str, headers: dict) -> dict:
            return self.payloads[(name, int(url.split("/indicators/")[1].split("?")[0]))]

        def download():
            frames = [esios_source.download_range(spark, fetch, m, day, day) for m in inputs.ESIOS_MARKETS]
            out = frames[0]
            for f in frames[1:]:
                out = out.unionByName(f)
            return out

        # ESIOS prices
        raw = rec.call("extract.esios", download)
        if raw is not None:
            raw = raw.withColumn("year", F.lit(year)).withColumn("month", F.lit(month))
            rec.call("lake.write_raw", lake.write_raw, raw, "esios", "precios")
        if direct:
            self.transform_and_upsert(rec, lake, "pipelines.esios", "precios", lambda: {
                0: esios_pipeline.transform_price_data(spark, filter_date_mode(
                    lake.read_raw("esios", "precios"), "datetime_utc", "single", day))})
        else:
            rec.call("jobs.run_esios_precios_etl", lambda: jobs.run_esios_precios_etl(
                spark, lake, lake.read_raw("esios", "precios"), mode="single", start=day))

        # OMIE volumes
        raw = rec.call("extract.omie", omie_source.read_raw_dir, spark, f"{self.staged}/omie/{name}")
        if raw is not None:
            if direct:
                self.transform_and_upsert(rec, lake, "pipelines.omie", "volumenes_omie", lambda: {
                    0: omie_pipeline.transform_volumenes(filter_date_mode(
                        normalize_schema_drift(raw), "Fecha", "single", day), tg.dst_dim(spark))})
            else:
                rec.call("jobs.run_omie_volumenes_etl", jobs.run_omie_volumenes_etl,
                         spark, lake, raw, mode="single", start=day)

        # I90 volumes: one upsert per market
        raw = rec.call("extract.i90", lambda: spark.read.parquet(f"{self.staged}/i90/{name}"))
        if raw is not None:
            if direct:
                def i90_frames():
                    dim, errors = tg.dst_dim(spark), i90_errores_df(spark)
                    filtered = filter_date_mode(raw, "fecha", "single", day)
                    return {mid: i90_pipeline.transform_volumenes(filtered, mid, dim, errors=errors)
                            for mid in inputs.I90_MARKETS}
                self.transform_and_upsert(rec, lake, "pipelines.i90", "volumenes_i90", i90_frames)
            else:
                rec.call("jobs.run_i90_volumenes_etl", jobs.run_i90_volumenes_etl,
                         spark, lake, raw, list(inputs.I90_MARKETS), mode="single", start=day)

        # partition-pruned read-back of the (local) day
        start, end = f"{day} 00:00:00", f"{day} 23:45:00"
        with rec.step("read-back"):
            for rname, dataset, make in READS:
                attrs = {"dataset_bytes": oracle.processed_bytes(lake.base, dataset)} if rec.traced else {}
                read_request(rec, rname, lambda: make(lake, start, end), attrs)

    def transform_and_upsert(self, rec: Recorder, lake: Lake, span: str, dataset: str, frames) -> None:
        """Direct path: run each transform to completion, then upsert it
        (the same calls ``jobs.run_*`` makes, one market at a time)."""
        built = rec.call(span, lambda: {mid: df.localCheckpoint(eager=True) for mid, df in frames().items()})
        for mid, df in (built or {}).items():
            before = oracle.parquet_files(lake.base, dataset) if rec.traced else {}
            rec.call("lake.upsert", DataLakeLoader(lake).load_transformed_data, {mid: df}, dataset)
            if rec.traced:
                after = oracle.parquet_files(lake.base, dataset)
                self.written_bytes += sum(size for p, size in after.items() if p not in before)

    # -- timed phase --------------------------------------------------------

    @property
    def units(self) -> int:
        """Deliveries the timed phase makes: every one after set-up's."""
        return len(self.plan["deliveries"]) - 1

    def unit(self, rec: Recorder, label: str, i: int, direct: bool) -> None:
        """Make timed delivery ``i`` into the lake ``label``, timed as one batch."""
        lake, done = self.lakes[label]
        d = self.plan["deliveries"][1 + i]
        with rec.batch(), rec.span("day", day=d["name"]):
            self.day(rec, lake, d, direct)
        done.append(d)

    # -- results ------------------------------------------------------------

    def check(self) -> list[str]:
        return [f"lake {label}: {p}" for label, (lake, done) in self.lakes.items()
                for p in oracle.check_replay(lake.base, self.staged, done)]

    def end_to_end(self, rec: Recorder) -> dict[str, float]:
        lake = self.lakes["u"][0].base
        return {
            # the timed phase's wall time per delivered day
            "batch_s": sum(rec.batches) / len(rec.batches),
            "lake_bytes_per_row": oracle.processed_bytes(lake) / oracle.processed_rows(lake),
        }

    def report(self, rec: Recorder) -> list[str]:
        job_samples = [x for name, xs in rec.samples.items() if name.startswith("jobs.") for x in xs]
        lines = [stats.describe("job (jobs.run_*)", job_samples),
                 stats.describe("day batch", rec.batches)]
        lines += [stats.describe(name, xs) for name, xs in sorted(rec.samples.items())]
        lines.append("deliveries per lake: " + ", ".join(
            f"{label}={[d['name'] for d in done]}" for label, (_, done) in self.lakes.items()))
        return lines

    def traced_lakes(self) -> list[str]:
        return [self.lakes["t"][0].base] if "t" in self.lakes else []

    def write_amplification(self) -> float:
        """Bytes the traced upserts wrote per byte they added to the lake."""
        grown = oracle.processed_bytes(self.lakes["t"][0].base) - self.forked_bytes
        return self.written_bytes / grown if grown else 0.0
