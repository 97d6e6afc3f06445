"""Lake upsert semantics (FIXTURES.md §4.4): same partition written
twice with overlapping keys → keep-last wins; untouched partitions
survive; reader prunes by date/market."""

from __future__ import annotations

import datetime as dt
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_energy_tracker_spark import lake as lake_mod
from etl_energy_tracker_spark.lake import Lake, stored_schema
from etl_energy_tracker_spark.schemas import PROCESSED_SCHEMAS


def _precios(spark, rows):
    return spark.createDataFrame(
        rows, "datetime_utc timestamp, id_mercado int, precio double"
    )


@pytest.fixture()
def lake(spark, tmp_path):
    return Lake(spark, str(tmp_path / "lake"))


T0 = dt.datetime(2024, 1, 15, 10)
T1 = dt.datetime(2024, 1, 15, 11)
T2 = dt.datetime(2024, 2, 2, 9)


def spark_jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` runs, counted by job group."""
    sc, group = spark.sparkContext, f"count-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_upsert_keep_last(spark, lake):
    lake.upsert_processed(_precios(spark, [(T0, 1, 50.0), (T1, 1, 60.0), (T2, 1, 70.0)]), "precios")
    first = lake.read_processed("precios")
    assert first.count() == 3

    # re-ingest January with a corrected price for T0 — precios dedup
    # key is (datetime_utc, id_mercado, precio), so a *changed* price is
    # a new row (reference semantics: keys include the value column) and
    # an identical row dedups to one.
    lake.upsert_processed(_precios(spark, [(T0, 1, 50.0), (T1, 1, 61.0)]), "precios")
    out = lake.read_processed("precios")
    rows = {(r["datetime_utc"], r["precio"]) for r in out.collect()}
    assert (T0, 50.0) in rows  # identical re-ingest deduped
    assert (T1, 60.0) in rows and (T1, 61.0) in rows  # changed price adds a row
    assert (T2, 70.0) in rows  # February untouched by January upsert
    assert out.count() == 4


def test_upsert_keep_last_on_keyed_dataset(spark, lake):
    # volumenes_i90 keys include volumenes; a true keep-last case is an
    # identical key row arriving twice — latest _ingest_seq wins and
    # count stays 1.
    df = spark.createDataFrame(
        [(T0, "ABO3", 10.0, 1)],
        "datetime_utc timestamp, up string, volumenes double, id_mercado int",
    )
    lake.upsert_processed(df, "volumenes_i90")
    lake.upsert_processed(df, "volumenes_i90")
    out = lake.read_processed("volumenes_i90")
    assert out.count() == 1


def test_mic_no_dedup(spark, lake):
    df = spark.createDataFrame(
        [(T0, "UOF1", 5.0, 45.1, 21, "2024-01-15")] * 2,
        "datetime_utc timestamp, uof string, volumenes double, precio double, "
        "id_mercado int, fecha_fichero string",
    )
    lake.upsert_processed(df, "volumenes_mic")
    assert lake.read_processed("volumenes_mic").count() == 2


def test_reader_prunes(spark, lake):
    lake.upsert_processed(
        _precios(spark, [(T0, 1, 50.0), (T2, 2, 70.0)]), "precios"
    )
    jan = lake.read_processed("precios", start="2024-01-01", end="2024-01-31 23:59:59")
    assert jan.count() == 1
    only2 = lake.read_processed("precios", mercado_ids=[2])
    assert only2.count() == 1
    cols = lake.read_processed("precios", columns=["datetime_utc", "precio"])
    assert cols.columns == ["datetime_utc", "precio"]
    # partition filters must reach the scan (pruning, not post-filter)
    plan = jan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def _declared_row(dataset, ts):
    """One row of ``dataset``'s declared processed schema."""
    from pyspark.sql import types as T

    fill = {T.TimestampNTZType: ts, T.ShortType: 1, T.FloatType: 1.5, T.StringType: "x"}
    return [fill[type(f.dataType)] for f in PROCESSED_SCHEMAS[dataset].fields]


@pytest.mark.parametrize("dataset", sorted(PROCESSED_SCHEMAS))
def test_stored_schema_matches_inferred(spark, lake, dataset):
    """The declared read-back schema equals what Spark infers from the
    directory, after a first write and after a merging upsert."""
    schema = PROCESSED_SCHEMAS[dataset]
    for ts in (T0, T1):  # the second upsert merges into the same leaf
        lake.upsert_processed(spark.createDataFrame([_declared_row(dataset, ts)], schema), dataset)
        inferred = spark.read.parquet(lake.processed_path(dataset)).schema
        assert stored_schema(dataset) == inferred


def test_merging_upsert_evaluates_input_once(spark, lake):
    lake.upsert_processed(_precios(spark, [(T0, 1, 50.0)]), "precios")
    calls = spark.sparkContext.accumulator(0)

    @F.udf("int")
    def counted(_x):
        calls.add(1)
        return 1

    # the counted column feeds the partition tuple, so the partition
    # probe cannot prune it away
    batch = spark.range(3).select(
        (F.lit(T1) + F.make_interval(mins=F.col("id").cast("int"))).alias("datetime_utc"),
        counted("id").alias("id_mercado"),
        F.col("id").cast("double").alias("precio"),
    )
    lake.upsert_processed(batch, "precios")  # merges into January
    assert calls.value == 3
    assert lake.read_processed("precios").count() == 4


def _leaf_bytes(root, leaf):
    d = os.path.join(root, leaf)
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def _seqs(lake):
    return {
        (r["datetime_utc"], r["precio"], r["_ingest_seq"])
        for r in lake.read_processed(
            "precios", columns=["datetime_utc", "precio", "_ingest_seq"]
        ).collect()
    }


def test_upsert_existing_and_new_leaf(spark, lake):
    """One batch touching an existing leaf (January) and a new one
    (March): keep-last in January, one batch-global _ingest_seq for
    both leaves, and February's files left byte for byte."""
    T3 = dt.datetime(2024, 3, 5, 8)
    lake.upsert_processed(_precios(spark, [(T0, 1, 50.0), (T1, 1, 60.0), (T2, 1, 70.0)]), "precios")
    lake.upsert_processed(_precios(spark, [(T0, 1, 50.0)]), "precios")  # January seq 1
    root = lake.processed_path("precios")
    feb = "mercado=diario/id_mercado=1/year=2024/month=2"
    feb_before = _leaf_bytes(root, feb)

    lake.upsert_processed(_precios(spark, [(T0, 1, 50.0), (T3, 1, 80.0)]), "precios")
    assert _seqs(lake) == {(T0, 50.0, 2), (T1, 60.0, 0), (T2, 70.0, 0), (T3, 80.0, 2)}
    assert _leaf_bytes(root, feb) == feb_before


def test_upsert_merges_null_partition_leaf(spark, lake):
    """A market id outside the market dim has no folder, so its rows
    land in Hive's default partition; a later batch still merges with
    them instead of overwriting the leaf."""
    lake.upsert_processed(_precios(spark, [(T0, 99, 50.0)]), "precios")
    lake.upsert_processed(_precios(spark, [(T1, 99, 60.0)]), "precios")
    got = lake.read_processed("precios").collect()
    assert {(r["mercado"], r["precio"]) for r in got} == {(None, 50.0), (None, 60.0)}


def test_merging_upsert_job_count(spark, lake):
    """A merging upsert runs the batch checkpoint (which also probes the
    touched leaves) and the write: no distinct collect, no aggregate
    for the next _ingest_seq, no schema inference."""
    lake.upsert_processed(_precios(spark, [(T0, 1, 50.0), (T2, 1, 70.0)]), "precios")
    batch = _precios(spark, [(T0, 1, 50.0), (T1, 1, 60.0)])
    assert spark_jobs(spark, lambda: lake.upsert_processed(batch, "precios")) <= 4
    assert lake.read_processed("precios").count() == 3


def test_next_seq_is_global_over_touched_footers(spark, lake):
    """January holds seq 3, February seq 1: a batch touching both
    stamps 4 in both, and keep-last holds."""
    for _ in range(4):
        lake.upsert_processed(_precios(spark, [(T0, 1, 50.0)]), "precios")
    lake.upsert_processed(_precios(spark, [(T2, 1, 70.0)]), "precios")
    lake.upsert_processed(_precios(spark, [(T2, 1, 70.0)]), "precios")
    assert _seqs(lake) == {(T0, 50.0, 3), (T2, 70.0, 1)}

    lake.upsert_processed(
        _precios(spark, [(T0, 1, 50.0), (T1, 1, 60.0), (T2, 1, 70.0)]), "precios"
    )
    assert _seqs(lake) == {(T0, 50.0, 4), (T1, 60.0, 4), (T2, 70.0, 4)}


def test_touched_file_without_seq_statistics_raises(spark, lake):
    lake.upsert_processed(_precios(spark, [(T0, 1, 50.0)]), "precios")
    leaf = os.path.join(lake.processed_path("precios"), "mercado=diario/id_mercado=1/year=2024/month=1")
    bare = os.path.join(leaf, "no-stats.parquet")
    pq.write_table(
        pa.table({
            "datetime_utc": pa.array([T1], pa.timestamp("us")),
            "precio": pa.array([60.0], pa.float32()),
            "_ingest_seq": pa.array([0], pa.int64()),
        }),
        bare,
        write_statistics=False,
    )
    with pytest.raises(RuntimeError, match="no-stats.parquet"):
        lake.upsert_processed(_precios(spark, [(T0, 1, 51.0)]), "precios")


def test_touched_leaf_bound_raises(spark, lake, monkeypatch):
    lake.upsert_processed(_precios(spark, [(T0, 1, 50.0)]), "precios")
    monkeypatch.setattr(lake_mod, "MAX_TOUCHED_LEAVES", 1)
    with pytest.raises(RuntimeError, match="more than 1 leaf"):
        lake.upsert_processed(_precios(spark, [(T0, 1, 50.0), (T2, 1, 70.0)]), "precios")


def test_read_unwritten_dataset_raises(spark, lake):
    from pyspark.errors import AnalysisException

    from etl_energy_tracker_spark.read import register_lake_tables

    with pytest.raises(AnalysisException):
        lake.read_processed("volumenes_i90")
    lake.upsert_processed(_precios(spark, [(T0, 1, 50.0)]), "precios")
    assert register_lake_tables(spark, lake) == ["precios"]


def test_raw_append_dedup(spark, lake):
    df = spark.createDataFrame(
        [("2024-01-15", "00-01", 10.0, 2024, 1)],
        "fecha string, hora string, volumenes double, year int, month int",
    )
    lake.write_raw(df, "diario", "volumenes_i90")
    lake.write_raw(df, "diario", "volumenes_i90")  # exact re-ingest dedups
    assert lake.read_raw("diario", "volumenes_i90").count() == 1


def _raw(spark, rows):
    return spark.createDataFrame(
        rows, "fecha string, hora string, volumenes double, year int, month int"
    )


def test_raw_redelivery_merges_touched_month_only(spark, lake):
    """A re-delivery into an existing month merges with its rows and
    dedups exact repeats; other months' files stay byte for byte."""
    lake.write_raw(
        _raw(spark, [("2024-01-15", "1", 10.0, 2024, 1), ("2024-02-02", "1", 20.0, 2024, 2)]),
        "diario",
        "volumenes_i90",
    )
    root = lake.raw_path("diario", "volumenes_i90")
    feb_before = _leaf_bytes(root, "year=2024/month=2")
    lake.write_raw(
        _raw(spark, [("2024-01-15", "1", 10.0, 2024, 1), ("2024-01-16", "2", 11.0, 2024, 1)]),
        "diario",
        "volumenes_i90",
    )
    got = sorted(tuple(r) for r in lake.read_raw("diario", "volumenes_i90").select(
        "fecha", "hora", "volumenes", "month").collect())
    assert got == [
        ("2024-01-15", "1", 10.0, 1), ("2024-01-16", "2", 11.0, 1), ("2024-02-02", "1", 20.0, 2)
    ]
    assert _leaf_bytes(root, "year=2024/month=2") == feb_before


def test_raw_merge_refuses_to_drop_stored_columns(spark, lake):
    """Existing rows read back with the batch's schema; a touched file
    holding a column the batch lacks would lose it in the rewrite."""
    lake.write_raw(_raw(spark, [("2024-01-15", "1", 10.0, 2024, 1)]), "diario", "v")
    narrower = _raw(spark, [("2024-01-16", "1", 1.0, 2024, 1)]).drop("hora")
    with pytest.raises(RuntimeError, match=r"month=1/.*\['hora'\]"):
        lake.write_raw(narrower, "diario", "v")
    assert lake.read_raw("diario", "v").count() == 1


def test_merging_write_raw_job_count(spark, lake):
    lake.write_raw(_raw(spark, [("2024-01-15", "1", 10.0, 2024, 1)]), "diario", "v")
    batch = _raw(spark, [("2024-01-15", "1", 10.0, 2024, 1), ("2024-01-16", "1", 1.0, 2024, 1)])
    assert spark_jobs(spark, lambda: lake.write_raw(batch, "diario", "v")) <= 3
    assert lake.read_raw("diario", "v").count() == 2


def test_writes_leave_session_overwrite_mode(spark, lake):
    """Dynamic partition overwrite is a writer option: a session set to
    ``static`` stays ``static``, and partitions the batch did not touch
    survive both sinks."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        for day, month in (("2024-01-15", 1), ("2024-02-02", 2)):
            raw = spark.createDataFrame(
                [(day, 1.0, 2024, month)], "fecha string, v double, year int, month int"
            )
            lake.write_raw(raw, "diario", "v")
        assert spark.conf.get(key) == "static"
        months = [r["month"] for r in lake.read_raw("diario", "v").collect()]
        assert sorted(months) == [1, 2]

        lake.upsert_processed(_precios(spark, [(T0, 1, 50.0)]), "precios")
        lake.upsert_processed(_precios(spark, [(T2, 1, 70.0)]), "precios")
        assert spark.conf.get(key) == "static"
        got = lake.read_processed("precios").collect()
        assert {(r["datetime_utc"], r["precio"]) for r in got} == {(T0, 50.0), (T2, 70.0)}
    finally:
        spark.conf.set(key, before)


def _leaf_file_counts(root):
    counts = {}
    for dirpath, _dirs, files in os.walk(root):
        parquet = [f for f in files if f.endswith(".parquet")]
        if parquet:
            counts[os.path.relpath(dirpath, root)] = len(parquet)
    return counts


def _fragment_leaf(root, leaf, copies=2):
    """Simulate the small files a multi-task append run leaves behind by
    duplicating the leaf's parquet file."""
    import glob
    import shutil

    src = glob.glob(os.path.join(root, leaf, "*.parquet"))[0]
    for i in range(copies):
        shutil.copy(src, os.path.join(root, leaf, f"copy{i}-{os.path.basename(src)}"))


def test_compaction(spark, lake):
    from etl_energy_tracker_spark.lake import compact_processed

    lake.upsert_processed(
        _precios(spark, [(T0, 1, 50.0), (T1, 1, 51.0)]), "precios"
    )
    lake.upsert_processed(_precios(spark, [(T2, 1, 70.0)]), "precios")
    root = lake.processed_path("precios")
    jan = next(l for l in _leaf_file_counts(root) if "month=1" in l)
    _fragment_leaf(root, jan, copies=2)  # January: 3 files; February: 1

    pre = _leaf_file_counts(root)
    assert pre[jan] == 3
    before = lake.read_processed("precios").count()

    n = compact_processed(lake, "precios")
    assert n == sum(1 for c in pre.values() if c >= 2) == 1
    post = _leaf_file_counts(root)
    # fragmented leaves collapse to one file; clean leaves untouched
    for leaf, c in pre.items():
        assert post[leaf] == (1 if c >= 2 else c)
    after = lake.read_processed("precios")
    assert after.count() == before
    assert {r["precio"] for r in after.collect()} == {50.0, 51.0, 70.0}
    # idempotent: nothing fragmented remains
    assert compact_processed(lake, "precios") == 0


def test_compaction_plan_parallelism(spark, lake):
    """The rewrite plan must parallelize across leaves — at least one
    task per fragmented leaf, and no single-partition exchange (the
    round-1 bug funneled the whole table through numPartitions=1)."""
    from etl_energy_tracker_spark.lake import compaction_plan

    lake.upsert_processed(
        _precios(spark, [(T0, 1, 50.0), (T2, 2, 51.0)]), "precios"
    )
    root = lake.processed_path("precios")
    for leaf in _leaf_file_counts(root):
        _fragment_leaf(root, leaf, copies=1)  # both leaves: 2 files
    plan = compaction_plan(lake, "precios")
    assert plan is not None
    df, leaves = plan
    assert len(leaves) == 2
    # each leaf maps to its own shuffle partition (range partitioning
    # keys lead with the partition columns)
    per_leaf = (
        df.withColumn("pid", F.spark_partition_id())
        .groupBy("mercado", "id_mercado", "year", "month")
        .agg(F.countDistinct("pid").alias("n_tasks"))
        .collect()
    )
    assert len(per_leaf) == 2
    assert all(r["n_tasks"] >= 1 for r in per_leaf)
    assert df.rdd.getNumPartitions() >= len(leaves)
    plan_str = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan_str


def test_omie_i3_jobs(spark, tmp_path):
    import etl_energy_tracker_spark.jobs as jobs
    from etl_energy_tracker_spark.lake import Lake

    lake = Lake(spark, str(tmp_path / "lake2"))
    raw_omie = spark.createDataFrame(
        [("2024-01-15", "11", "UOF1", "100,00", "C", "V", 1)],
        "Fecha string, Hora string, Unidad string, `Energía Compra/Venta` string, "
        "`Ofertada (O)/Casada (C)` string, `Tipo Oferta` string, id_mercado int",
    )
    st = jobs.run_omie_volumenes_etl(spark, lake, raw_omie, mode="latest")
    assert st["success"], st
    assert lake.read_processed("volumenes_omie").count() == 4

    raw_i3 = spark.createDataFrame(
        [("2024-01-15", "41", "Quince minutos", 12.0, "Eólica", "PHF-2")],
        "fecha string, hora string, granularity string, volumenes double, "
        "Concepto string, Programa string",
    )
    st = jobs.run_i3_volumenes_etl(spark, lake, raw_i3, mode="latest")
    assert st["success"], st
    assert lake.read_processed("volumenes_i3").count() == 1


def test_curtailment_job(spark, tmp_path):
    """run_curtailment_etl through the job runner: the Bajar/RT1 row
    lands in curtailments_i90 under the curtailment market id."""
    import etl_energy_tracker_spark.jobs as jobs
    from etl_energy_tracker_spark.lake import Lake

    lake = Lake(spark, str(tmp_path / "lake"))
    raw = spark.createDataFrame(
        [
            ("2024-01-15", "1", "Quince minutos", 8.0, "ABO3", "Bajar", "UPLPVPV"),
            ("2024-01-15", "1", "Quince minutos", 8.0, "ABO3", "Subir", "UPLPVPV"),
        ],
        "fecha string, hora string, granularity string, volumenes double, "
        "`Unidad de Programación` string, Sentido string, Redespacho string",
    )
    st = jobs.run_curtailment_etl(spark, lake, raw, mode="single", start="2024-01-15")
    assert st == {
        "success": True,
        "details": {
            "dataset": "curtailments_i90", "markets_processed": [13], "markets_failed": {}
        },
    }
    got = [
        (r["up"], r["RTx"], r["tipo"], r["volumenes"], r["id_mercado"])
        for r in lake.read_processed("curtailments_i90").collect()
    ]
    assert got == [("ABO3", "R1", "UPLPVPV", 8.0, 13)]


def test_jobs_report_failures_per_market(spark, tmp_path):
    """A failing job returns the loader's status shape with the error
    under each of its markets, never a bare ``error`` and never a raise."""
    import etl_energy_tracker_spark.jobs as jobs
    from etl_energy_tracker_spark.lake import Lake

    lake = Lake(spark, str(tmp_path / "lake"))
    raw = spark.createDataFrame(
        [("2024-01-01T00:00:00Z", 10.0)], "datetime_utc string, value double"
    )
    st = jobs.run_esios_precios_etl(spark, lake, raw, mode="no-such-mode")
    assert st["success"] is False
    assert st["details"]["dataset"] == "precios"
    assert st["details"]["markets_processed"] == []
    assert st["details"]["markets_failed"][0].startswith("ValueError: unknown mode")

    st = jobs.run_i90_volumenes_etl(spark, lake, raw, [1, 2], mode="no-such-mode")
    assert st["success"] is False
    assert sorted(st["details"]["markets_failed"]) == [1, 2]
