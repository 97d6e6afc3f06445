"""Benchmark entry point: one workload, one fresh process, three phases.

    python3 etlbench/run.py --cores 2 --workload etl_daily --seed 1 --seconds 20 --trace 0

1. set-up (untimed, reported as ``setup_s``): Spark session start,
   seeded input staging, the ``lake_read`` backfill and a warm-up over
   the same code paths;
2. the timed phase, in steady state: a fixed amount of work per
   workload (two delivered days; four request rounds), sized to last
   about ``--seconds`` on a 4-vCPU host but never cut or extended by it,
   so every run measures the same work;
3. correctness checks against DuckDB, outside the timing.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The exit code is 1 when a check
fails or an operation failed.

Pinned environment: Spark runs ``local[--cores]`` with that many
shuffle partitions and a 2 GB driver; the lake, Spark local dirs and
event log live under ``.bench_work/`` in the checkout (created per run,
deleted after). Writes use Spark's default Parquet commit with no fsync.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # set-up time counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "etl_energy_tracker_spark"
DRIVER_MEMORY = "2g"


class Context:
    def __init__(self, seed: int, work: str, spark):
        self.seed, self.work, self.spark = seed, work, spark
        self.phases: dict[str, float] = {}  # set-up phase -> seconds

    def phase_done(self, name: str, since: float) -> float:
        now = time.perf_counter()
        self.phases[name] = now - since
        return now


def cpu_ticks() -> list[int]:
    """System-wide CPU ticks (user, nice, system, idle, iowait, irq,
    softirq, steal, ...) from /proc/stat; empty where there is none."""
    try:
        with open("/proc/stat", encoding="ascii") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant (the Spark JVM, Python workers), with their reaped
    children."""
    procs: dict[int, tuple[int, int]] = {}  # pid -> (ppid, ticks)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        procs[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _) in procs.items():
            if ppid == parent and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    return sum(procs[p][1] for p in tree if p in procs) / os.sysconf("SC_CLK_TCK")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--cores", type=int, required=True, help="pinned Spark parallelism")
    ap.add_argument("--workload", choices=("etl_daily", "lake_read"), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_spark(args: argparse.Namespace, work: str):
    from etl_energy_tracker_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": f"{work}/warehouse"}
    if args.trace:
        os.makedirs(f"{work}/eventlog")
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{work}/eventlog",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    t = time.perf_counter()
    spark = get_spark(f"etlbench-{args.workload}", extra_conf=conf)
    return spark, time.perf_counter() - t


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - make sure no JVM outlives the run
        proc.kill()
        proc.wait(timeout=30)


def event_log(work: str):
    from tracing import parse_event_log

    lines: list[str] = []
    for dirpath, _, files in os.walk(f"{work}/eventlog"):
        for f in sorted(files):
            if not f.startswith("."):
                with open(os.path.join(dirpath, f), encoding="utf-8") as fh:
                    lines += fh.readlines()
    return parse_event_log(lines)


def per_layer(wl, rec, plain, log, session_s: float) -> dict[str, float]:
    """Per-layer metrics of the traced phase. A layer the workload's
    timed phase does not exercise reads 0."""
    import oracle
    import stats
    from tracing import span_spark, subtree_ids

    walls: dict[str, list[float]] = defaultdict(list)
    for s in rec.spans:
        walls[s.name].append(s.wall)

    def med(name: str) -> float:
        return stats.median(walls[name]) if walls[name] else 0.0

    ids = subtree_ids(rec.spans)
    roots = [s for s in rec.spans if s.parent is None]
    ops = [span_spark(s, ids[s.id], log) for s in roots]

    def per_op(field: str) -> float:
        return sum(getattr(o, field) for o in ops) / len(ops)

    reads = [s for s in rec.spans if "dataset_bytes" in s.attrs]
    days = [s for s in roots if s.name == "day"]
    lakes = wl.traced_lakes()
    skews = [o.worst_skew for o in ops if o.worst_skew is not None]
    return {
        "session.start_s": session_s,
        "extract.esios_s": med("extract.esios"),
        "extract.omie_s": med("extract.omie"),
        "lake.write_raw_s": med("lake.write_raw"),
        "pipelines.esios_s": med("pipelines.esios"),
        "pipelines.omie_s": med("pipelines.omie"),
        "pipelines.i90_s": med("pipelines.i90"),
        "lake.upsert_s": med("lake.upsert"),
        "lake.upserts_per_day": len(walls["lake.upsert"]) / len(days) if days else 0.0,
        "lake.write_amplification": wl.write_amplification(),
        "lake.files_per_leaf": oracle.files_per_leaf(lakes),
        "read.plan_s": med("read.plan"),
        "read.exec_s": med("read.exec"),
        "read.nl_generate_s": med("read.nl_generate"),
        "read.pruning_ratio": sum(span_spark(s, ids[s.id], log).input_bytes / s.attrs["dataset_bytes"]
                                  for s in reads) / len(reads) if reads else 0.0,
        "spark.jobs": per_op("jobs"),
        "spark.stages": per_op("stages"),
        "spark.tasks": per_op("tasks"),
        "spark.driver_gap_s": stats.median([o.driver_gap_s for o in ops]),
        "spark.executor_run_s": per_op("executor_run_s"),
        "spark.executor_cpu_s": per_op("executor_cpu_s"),
        "spark.gc_s": per_op("gc_s"),
        "spark.task_skew": max(skews) if skews else 0.0,
        "spark.shuffle_write_bytes": per_op("shuffle_write"),
        "spark.shuffle_read_bytes": per_op("shuffle_read"),
        "spark.spill_bytes": per_op("spill"),
        "spark.input_bytes": per_op("input_bytes"),
        "spark.output_bytes": per_op("output_bytes"),
        "trace.batch_s": stats.median(rec.batches),
        "trace.overhead_s": stats.median(rec.batches) - stats.median(plain.batches),
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    nproc = len(os.sched_getaffinity(0))
    if nproc < args.cores:
        print(f"refusing to run: {nproc} CPUs available, {args.cores} pinned", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"refusing to run: no {PACKAGE}/ next to {os.path.basename(HERE)}/ to benchmark",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ.update({
        "TZ": "UTC",  # collected timestamps convert in the driver's zone
        "SPARK_GRAFT_CPUS": str(args.cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    })
    time.tzset()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    load_before, ticks_before = os.getloadavg(), cpu_ticks()
    spark = None
    try:
        import pyspark

        from etl_daily import EtlDaily
        from lake_read import LakeRead
        from tracing import Recorder

        workload = {"etl_daily": EtlDaily, "lake_read": LakeRead}[args.workload]
        spark, session_s = start_spark(args, work)
        ctx = Context(args.seed, work, spark)
        ctx.phases["session"] = session_s
        wl = workload(ctx)
        # the traced run times the direct path, so it warms that path up
        wl.setup(direct=bool(args.trace))
        setup_s = time.perf_counter() - T0

        run_id = f"{args.workload}-{args.seed}"
        if args.trace:
            # the timed work twice, untraced into the set-up state and
            # traced into a copy of it, unit by unit in ABBA order so that
            # warm-up still going on favours neither. Both take the direct
            # path (the calls the jobs make, one at a time), so the
            # difference of their batch_s is the cost of the tracing alone
            # (spans, job-group tags, lake-directory walks); the event log
            # is on for the whole process, so both pay for it.
            wl.fork("t")
            rec = Recorder(run_id, sc=spark.sparkContext)
            plain = Recorder(run_id + "-plain")
            for i in range(wl.units):
                pair = [(plain, "u"), (rec, "t")]
                for r, label in pair if i % 2 == 0 else pair[::-1]:
                    wl.unit(r, label, i, direct=True)
            recs = [plain, rec]
        else:
            rec = Recorder(run_id)
            cpu0, wall0 = tree_cpu_s(), time.perf_counter()
            for i in range(wl.units):
                wl.unit(rec, "u", i, direct=False)
            timed_cpu = (tree_cpu_s() - cpu0, time.perf_counter() - wall0)
            recs = [rec]

        problems = wl.check()
        attempted = sum(r.attempted for r in recs)
        failed = sum(r.failed for r in recs)
        errors = [e for r in recs for e in r.errors]
        stamp = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "pinned": {"cores": args.cores, "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
                       "driver_memory": DRIVER_MEMORY, "master": spark.sparkContext.master,
                       "work_dir": "checkout/.bench_work (per run, deleted after)",
                       "commit": "Spark default Parquet commit, no fsync"},
            "nproc": nproc, "loadavg_before": load_before,
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
        report = wl.report(rec) + ["batches " + " ".join(f"{x:.4f}" for x in rec.batches)]
        spans = [vars(x) for x in rec.spans]
        stop_spark(spark)
        spark = None
        if args.trace:
            metrics = per_layer(wl, rec, plain, event_log(work), session_s)
        else:
            metrics = {"setup_s": setup_s, **wl.end_to_end(rec)}
        stamp["loadavg_after"] = os.getloadavg()
        ticks = [b - a for a, b in zip(ticks_before, cpu_ticks())]
        if len(ticks) > 7 and sum(ticks):
            # share of CPU time the hypervisor gave to other guests during the run
            stamp["host_steal_share"] = round(ticks[7] / sum(ticks), 4)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    print("# stamp " + json.dumps(stamp, sort_keys=True))
    if not args.trace:
        # CPU seconds of the process tree (JVM included) beside wall time
        print(f"# timed phase: cpu_s={timed_cpu[0]:.3f} wall_s={timed_cpu[1]:.3f}")
    print(f"# setup_s={setup_s:.3f} phases " + " ".join(f"{k}={v:.3f}" for k, v in ctx.phases.items()))
    for line in report:
        print("# " + line)
    for span in spans:
        print("# span " + json.dumps(span, sort_keys=True))
    for p in problems:
        print("# CHECK FAILED " + p)
    for e in errors[:10]:
        print("# OP FAILED " + e)
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in spec}
    if set(units) != set(metrics):
        raise RuntimeError(f"metrics {sorted(metrics)} do not match BENCHMARK.json {sorted(units)}")
    correct = not problems and failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
