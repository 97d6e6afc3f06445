"""Round-6: product-analytics and engine-surface operators.

Five shapes an analytics team (and the engine underneath it) runs
constantly:

- ``grouping_sets_report`` — one pass over lineitem produces the
  (brand, month), (brand), (month) and grand-total aggregates via
  GROUPING SETS + GROUPING() — exercising Spark's Expand operator,
  the engine surface behind every BI subtotal row.
- ``markov_steady_state`` — user event-type transition matrix in
  exact ppm, plus two fixed-point iterations of the chain from the
  uniform distribution — where attention flows at equilibrium, in
  the same engine-portable integer style as pca_power_iteration.
- ``ab_test_zscore`` — hash-split users into two arms and compare
  mean purchase value per event type: Welch z-statistic from exact
  integer sums (one IEEE chain at the end) — the experiment
  readout.
- ``cohort_ltv_curve`` — first-week cohorts x account age:
  purchase revenue, cumulative revenue, and cumulative revenue per
  cohort user (milli-cents) — the LTV curve under every payback
  model.
- ``dict_encoding_audit`` — per string column: exact NDV, raw
  bytes, dictionary-encoded size estimate (distinct bytes + n *
  ceil(log2 ndv) bits) and savings ppm — the storage-advisor
  arithmetic a columnar writer runs when choosing encodings.

Engine parity: exact integer cents/ppm everywhere; the one
unavoidable sqrt (Welch z) is a single fixed-shape double chain; the
GROUPING() bit layout is computed identically on both engines.

Ref parity: beyond-reference analytics ops; the reference
(jcostac/ETL-Energy-Tracker) has no analytics layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..sources.registry import load_table, register_views
from .catalog import register

# ------------------------------------------------- GROUPING SETS

_GS_REV = (
    "CAST(CAST(l_extendedprice AS DECIMAL(38,2)) * 100 AS BIGINT) "
    "* (100 - CAST(CAST(l_discount AS DECIMAL(38,2)) * 100 AS BIGINT))"
)


@register(
    "grouping_sets_report",
    oracle=f"""
    WITH src AS (
        SELECT p.p_brand AS brand,
               CAST(EXTRACT(year FROM l.l_shipdate) * 12
                    + EXTRACT(month FROM l.l_shipdate) AS BIGINT)
                   AS month_idx,
               {_GS_REV.replace("l_extendedprice", "l.l_extendedprice").replace("l_discount", "l.l_discount")} AS rev
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    )
    SELECT brand, month_idx,
           CAST(GROUPING(brand) * 2 + GROUPING(month_idx) AS BIGINT)
               AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(rev) AS BIGINT) AS rev_units
    FROM src
    GROUP BY GROUPING SETS ((brand, month_idx), (brand), (month_idx), ())
    """,
    tags=("aggregate", "tpch", "sql"),
    doc="Subtotal lattice in one pass: discounted revenue by "
    "(brand, month), by brand, by month, and the grand total via "
    "GROUP BY GROUPING SETS, with the GROUPING() bit vector "
    "(brand*2 + month) distinguishing subtotal rows from data rows "
    "whose key happens to be NULL. Exercises Spark's Expand "
    "physical operator — each input row fans out once per grouping "
    "set BEFORE the shuffle, so the lattice costs one aggregation "
    "pass, not four scans (the reason GROUPING SETS exists). "
    "Scale: Expand multiplies map-side rows by the set count (4x) "
    "but every branch partial-aggregates before exchange; output "
    "is the union of the four result cardinalities.",
)
def grouping_sets_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        f"""
        WITH src AS (
            SELECT p.p_brand AS brand,
                   CAST(year(l.l_shipdate) * 12 + month(l.l_shipdate)
                        AS BIGINT) AS month_idx,
                   {_GS_REV.replace("l_extendedprice", "l.l_extendedprice").replace("l_discount", "l.l_discount")} AS rev
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        )
        SELECT brand, month_idx,
               CAST(grouping(brand) * 2 + grouping(month_idx) AS BIGINT)
                   AS gid,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(rev) AS BIGINT) AS rev_units
        FROM src
        GROUP BY GROUPING SETS ((brand, month_idx), (brand),
                                (month_idx), ())
        """
    )


# --------------------------------------------- Markov steady state


@register(
    "markov_steady_state",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    ),
    trans AS (
        SELECT event_type AS src, next_type AS dst, COUNT(*) AS c
        FROM ordered WHERE next_type IS NOT NULL
        GROUP BY src, dst
    ),
    p AS (
        SELECT src, dst, c,
               1000000 * c // SUM(c) OVER (PARTITION BY src) AS p_ppm
        FROM trans
    ),
    states AS (SELECT DISTINCT src AS state FROM p),
    n AS (SELECT COUNT(*) AS k FROM states),
    v0 AS (
        SELECT state, 1000000 // (SELECT k FROM n) AS v
        FROM states
    ),
    v1 AS (
        SELECT p.dst AS state, SUM(v0.v * p.p_ppm) // 1000000 AS v
        FROM v0 JOIN p ON p.src = v0.state GROUP BY p.dst
    ),
    v2 AS (
        SELECT p.dst AS state, SUM(v1.v * p.p_ppm) // 1000000 AS v
        FROM v1 JOIN p ON p.src = v1.state GROUP BY p.dst
    )
    SELECT s.state,
           CAST(v0.v AS BIGINT) AS v0_ppm,
           CAST(v1.v AS BIGINT) AS v1_ppm,
           CAST(v2.v AS BIGINT) AS v2_ppm
    FROM states s
    JOIN v0 ON v0.state = s.state
    JOIN v1 ON v1.state = s.state
    JOIN v2 ON v2.state = s.state
    """,
    tags=("stats", "events", "graph"),
    doc="Event-type Markov chain at equilibrium: per-user "
    "consecutive-event transitions (LEAD over (ts, event_id) — "
    "deterministic tie order), row-normalized to exact ppm, then "
    "two fixed-point iterations v <- v.P from the uniform "
    "distribution, all in truncating integer arithmetic (the "
    "pca_power_iteration recipe applied to a stochastic matrix) — "
    "where attention concentrates after two steps, bit-identical "
    "on any engine. Scale: one per-user window builds transitions; "
    "everything after lives on the states^2 matrix (bounded "
    "dimension); iterations are broadcast-sized joins.",
)
def markov_steady_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    ordered = ev.select(
        "event_type",
        F.lead("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("next_type"),
    )
    trans = (
        ordered.where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("src"),
            F.col("next_type").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    p = trans.select(
        "src",
        "dst",
        F.expr(
            "1000000 * c DIV SUM(c) OVER (PARTITION BY src)"
        ).alias("p_ppm"),
    ).localCheckpoint(eager=False)
    states = p.select(F.col("src").alias("state")).distinct()
    k = states.agg(F.count(F.lit(1)).alias("k"))
    v0 = states.crossJoin(F.broadcast(k)).select(
        "state", F.expr("1000000 DIV k").alias("v")
    )

    def step(v: DataFrame) -> DataFrame:
        return (
            v.join(p, v.state == p.src)
            .groupBy(F.col("dst").alias("state"))
            .agg(F.expr("SUM(v * p_ppm) DIV 1000000").alias("v"))
        )

    v1 = step(v0).localCheckpoint(eager=False)
    v2 = step(v1)
    return (
        states.join(v0.withColumnRenamed("v", "v0_ppm"), "state")
        .join(v1.withColumnRenamed("v", "v1_ppm"), "state")
        .join(v2.withColumnRenamed("v", "v2_ppm"), "state")
        .select(
            "state",
            F.col("v0_ppm").cast("long").alias("v0_ppm"),
            F.col("v1_ppm").cast("long").alias("v1_ppm"),
            F.col("v2_ppm").cast("long").alias("v2_ppm"),
        )
    )


# ------------------------------------------------- A/B z-score

# CASE guard: with an empty arm (na or nb = 0) the double chain
# would produce NaN/Inf whose BIGINT cast differs between engines;
# both sides return NULL instead (and Spark's ANSI cast would throw)
_AB_Z = (
    "CASE WHEN na = 0 OR nb = 0 THEN NULL ELSE "
    "CAST(FLOOR(1000.0 * (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) "
    "- CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) / "
    "NULLIF(SQRT((CAST(na AS DOUBLE) * CAST(qa AS DOUBLE) "
    "- CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) "
    "/ (CAST(na AS DOUBLE) * CAST(na AS DOUBLE) * CAST(na AS DOUBLE)) "
    "+ (CAST(nb AS DOUBLE) * CAST(qb AS DOUBLE) "
    "- CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) "
    "/ (CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE))"
    "), 0.0)) AS BIGINT) END"
)


@register(
    "ab_test_zscore",
    oracle=f"""
    WITH base AS (
        SELECT event_type, user_id % 2 AS arm,
               CAST(FLOOR(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    s AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS na,
               CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS nb,
               CAST(SUM(CASE WHEN arm = 0 THEN cents ELSE 0 END)
                    AS BIGINT) AS sa,
               CAST(SUM(CASE WHEN arm = 1 THEN cents ELSE 0 END)
                    AS BIGINT) AS sb,
               CAST(SUM(CASE WHEN arm = 0 THEN cents * cents ELSE 0 END)
                    AS BIGINT) AS qa,
               CAST(SUM(CASE WHEN arm = 1 THEN cents * cents ELSE 0 END)
                    AS BIGINT) AS qb
        FROM base GROUP BY event_type
    )
    SELECT event_type, na AS n_a, nb AS n_b,
           CAST(sa // NULLIF(na, 0) AS BIGINT) AS mean_a_cents,
           CAST(sb // NULLIF(nb, 0) AS BIGINT) AS mean_b_cents,
           {_AB_Z} AS z_milli
    FROM s
    """,
    tags=("stats", "events", "eval"),
    doc="A/B experiment readout: users split into two arms by "
    "user_id parity (stands in for the assignment hash), per event "
    "type the Welch z-statistic of the mean value difference — "
    "population-variance form var/n = (n*sum(x^2) - sum(x)^2)/n^3, "
    "accumulated exactly in BIGINT cents and combined in ONE "
    "fixed-shape double chain (the statops Spearman recipe). "
    "|z| > ~2 on a no-effect split would flag an instrumented "
    "assignment bug (sample-ratio-mismatch's sibling). Scale: one "
    "map-side-combinable aggregate, no sort, no window, output one "
    "row per event type.",
)
def ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    base = ev.select(
        "event_type",
        (F.col("user_id") % 2).alias("arm"),
        F.expr("CAST(FLOOR(value * 100) AS BIGINT)").alias("cents"),
    )
    s = base.groupBy("event_type").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("na"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("nb"),
        F.sum(F.when(F.col("arm") == 0, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("sa"),
        F.sum(F.when(F.col("arm") == 1, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("sb"),
        F.sum(
            F.when(F.col("arm") == 0, F.expr("cents * cents")).otherwise(0)
        )
        .cast("long")
        .alias("qa"),
        F.sum(
            F.when(F.col("arm") == 1, F.expr("cents * cents")).otherwise(0)
        )
        .cast("long")
        .alias("qb"),
    )
    return s.select(
        "event_type",
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.expr("CAST(sa DIV NULLIF(na, 0) AS BIGINT)").alias(
            "mean_a_cents"
        ),
        F.expr("CAST(sb DIV NULLIF(nb, 0) AS BIGINT)").alias(
            "mean_b_cents"
        ),
        F.expr(_AB_Z).alias("z_milli"),
    )


# ------------------------------------------------ cohort LTV curve


@register(
    "cohort_ltv_curve",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               MIN(CAST((CAST(ts AS DATE) - DATE '1970-01-01') // 7
                        AS BIGINT)) AS cohort_week
        FROM events GROUP BY user_id
    ),
    sizes AS (
        SELECT cohort_week, COUNT(*) AS cohort_users
        FROM firsts GROUP BY cohort_week
    ),
    rev AS (
        SELECT f.cohort_week,
               CAST((CAST(e.ts AS DATE) - DATE '1970-01-01') // 7
                    AS BIGINT) - f.cohort_week AS age,
               CAST(SUM(CAST(FLOOR(e.value * 100) AS BIGINT))
                    AS BIGINT) AS rev_cents,
               COUNT(DISTINCT e.user_id) AS active_users
        FROM events e
        JOIN firsts f ON f.user_id = e.user_id
        WHERE e.event_type = 'purchase'
        GROUP BY f.cohort_week, age
    )
    SELECT r.cohort_week, r.age,
           CAST(s.cohort_users AS BIGINT) AS cohort_users,
           CAST(r.active_users AS BIGINT) AS active_users,
           r.rev_cents,
           CAST(SUM(r.rev_cents) OVER (
               PARTITION BY r.cohort_week ORDER BY r.age
           ) AS BIGINT) AS cum_rev_cents,
           CAST(10 * SUM(r.rev_cents) OVER (
               PARTITION BY r.cohort_week ORDER BY r.age
           ) // s.cohort_users AS BIGINT) AS cum_ltv_millicents
    FROM rev r JOIN sizes s ON s.cohort_week = r.cohort_week
    """,
    tags=("behavior", "events", "window"),
    doc="Cohort lifetime-value curve: users grouped by first-seen "
    "epoch week (weeks, not months — the corpus spans ~4 weeks and "
    "the grain must produce a curve, not a point), purchase revenue "
    "per (cohort, account age in weeks), running cumulative "
    "revenue, and cumulative LTV per cohort user in milli-cents "
    "(x10 before the truncating division so sub-cent growth "
    "between ages stays visible) — the curve every payback-period "
    "model reads off. Scale: one per-user min, one (cohort, age) "
    "aggregate, a cumulative window over the bounded cohort x age "
    "table; cohort sizing joins on the bounded week key.",
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    week = F.expr(
        "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') DIV 7 "
        "AS BIGINT)"
    )
    firsts = ev.groupBy("user_id").agg(F.min(week).alias("cohort_week"))
    sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    rev = (
        ev.where(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (week - F.col("cohort_week")).alias("age"),
        )
        .agg(
            F.expr(
                "CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)"
            ).alias("rev_cents"),
            F.countDistinct("user_id").alias("active_users"),
        )
    )
    cum = W.partitionBy("cohort_week").orderBy("age")
    return rev.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "age",
        F.col("cohort_users").cast("long").alias("cohort_users"),
        F.col("active_users").cast("long").alias("active_users"),
        "rev_cents",
        F.sum("rev_cents").over(cum).cast("long").alias("cum_rev_cents"),
        F.expr(
            "CAST(10 * SUM(rev_cents) OVER (PARTITION BY cohort_week "
            "ORDER BY age) DIV cohort_users AS BIGINT)"
        ).alias("cum_ltv_millicents"),
    )


# --------------------------------------------- dict encoding audit

# (table, column) string columns audited for dictionary encoding
_DE_COLS = (
    ("documents", "lang"),
    ("documents", "source"),
    ("events", "event_type"),
    ("lineitem", "l_returnflag"),
    ("part", "p_brand"),
)


def _de_duck_union() -> str:
    return " UNION ALL ".join(
        f"SELECT '{t}.{c}' AS col_name, CAST({c} AS VARCHAR) AS val "
        f"FROM {t}"
        for t, c in _DE_COLS
    )


@register(
    "dict_encoding_audit",
    oracle=f"""
    WITH long AS ({_de_duck_union()}),
    per_val AS (
        SELECT col_name, val, COUNT(*) AS c,
               LENGTH(val) AS len
        FROM long GROUP BY col_name, val
    )
    SELECT col_name,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS ndv,
           CAST(SUM(c * len) AS BIGINT) AS raw_bytes,
           CAST(SUM(len) + (SUM(c) * LENGTH(BIN(COUNT(*))) + 7) // 8
                AS BIGINT) AS dict_bytes,
           CAST(1000000 * (SUM(c * len) - (SUM(len)
                + (SUM(c) * LENGTH(BIN(COUNT(*))) + 7) // 8))
                // SUM(c * len) AS BIGINT) AS savings_ppm
    FROM per_val GROUP BY col_name
    """,
    tags=("layout", "stats", "optimizer"),
    doc="Dictionary-encoding advisor: per string column, exact NDV, "
    "raw payload bytes (ASCII lengths — identical on both engines), "
    "and the dictionary-encoded size estimate: distinct-value bytes "
    "plus n indexes of ceil-log2(ndv) bits (the ilog2 idiom), "
    "yielding savings ppm — the arithmetic a parquet writer runs "
    "when deciding PLAIN vs RLE_DICTIONARY per column chunk. "
    "Low-cardinality columns show >90% savings; the audit ranks "
    "which columns pay for encoding. Scale: collapses each column "
    "to its value histogram first (map-side combinable); all "
    "arithmetic on the bounded distinct table.",
)
def dict_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    long = None
    for t, c in _DE_COLS:
        part = load_table(spark, t, sf_dir).select(
            F.lit(f"{t}.{c}").alias("col_name"),
            F.col(c).cast("string").alias("val"),
        )
        long = part if long is None else long.unionByName(part)
    per_val = long.groupBy("col_name", "val").agg(
        F.count(F.lit(1)).alias("c"),
        F.length(F.first("val")).alias("len"),
    )
    return per_val.groupBy("col_name").agg(
        F.sum("c").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("ndv"),
        F.expr("CAST(SUM(c * len) AS BIGINT)").alias("raw_bytes"),
        F.expr(
            "CAST(SUM(len) + (SUM(c) * LENGTH(BIN(COUNT(*))) + 7) DIV 8 "
            "AS BIGINT)"
        ).alias("dict_bytes"),
        F.expr(
            "CAST(1000000 * (SUM(c * len) - (SUM(len) + (SUM(c) * "
            "LENGTH(BIN(COUNT(*))) + 7) DIV 8)) DIV SUM(c * len) "
            "AS BIGINT)"
        ).alias("savings_ppm"),
    )


# ------------------------------------------ weighted percentiles

_WP_QS = (50, 90, 99)


@register(
    "weighted_percentile_exact",
    oracle=f"""
    WITH base AS (
        SELECT l_returnflag AS flag,
               CAST(CAST(l_extendedprice AS DECIMAL(38,2)) * 100
                    AS BIGINT) AS cents,
               CAST(l_quantity AS BIGINT) AS w
        FROM lineitem
    ),
    hist AS (
        SELECT flag, cents, SUM(w) AS w
        FROM base GROUP BY flag, cents
    ),
    cum AS (
        SELECT flag, cents, w,
               SUM(w) OVER (PARTITION BY flag ORDER BY cents) AS cw,
               SUM(w) OVER (PARTITION BY flag) AS total_w
        FROM hist
    ),
    qs(q) AS (VALUES {", ".join(f"({q})" for q in _WP_QS)})
    SELECT flag, CAST(q AS BIGINT) AS pct,
           CAST(MIN(total_w) AS BIGINT) AS total_weight,
           CAST(MIN(cents) AS BIGINT) AS value_cents
    FROM cum CROSS JOIN qs
    WHERE cw * 100 >= q * total_w
    GROUP BY flag, q
    """,
    tags=("stats", "tpch", "aggregate"),
    doc="EXACT weighted percentiles (p50/p90/p99 of extended price "
    "weighted by quantity, per return flag): the quantile is the "
    "smallest value whose cumulative weight reaches q% of the "
    "group's total weight — pure integer comparisons on the "
    "distinct-value weight histogram, no interpolation, no float "
    "rank. The billing/SLA percentile shape (each row counts as "
    "its weight, which approx_percentile and the unweighted "
    "two-pass median both get wrong). Scale: the corpus collapses "
    "to a (group, value) weight histogram before any ordered scan; "
    "the cumulative window and the bounded quantile cross-join run "
    "on that histogram only.",
)
def weighted_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    hist = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            F.expr(
                "CAST(CAST(l_extendedprice AS DECIMAL(38,2)) * 100 "
                "AS BIGINT)"
            ).alias("cents"),
            F.expr("CAST(l_quantity AS BIGINT)").alias("w"),
        )
        .groupBy("flag", "cents")
        .agg(F.sum("w").alias("w"))
    )
    cum = hist.select(
        "flag",
        "cents",
        F.sum("w")
        .over(W.partitionBy("flag").orderBy("cents"))
        .alias("cw"),
        F.sum("w").over(W.partitionBy("flag")).alias("total_w"),
    )
    qs = spark.createDataFrame([(q,) for q in _WP_QS], "q int")
    return (
        cum.crossJoin(F.broadcast(qs))
        .where(F.col("cw") * 100 >= F.col("q") * F.col("total_w"))
        .groupBy("flag", "q")
        .agg(
            F.min("total_w").cast("long").alias("total_weight"),
            F.min("cents").cast("long").alias("value_cents"),
        )
        .select(
            "flag",
            F.col("q").cast("long").alias("pct"),
            "total_weight",
            "value_cents",
        )
    )


# -------------------------------------------- bitmap index audit

_BM_BITS = 62  # bits per word: DuckDB's BIGINT << errors at 63 (sign)


@register(
    "bitmap_intersection_audit",
    oracle=f"""
    WITH bm AS (
        SELECT event_type, user_id // {_BM_BITS} AS bucket,
               BIT_OR(1::BIGINT << CAST(user_id % {_BM_BITS} AS INT))
                   AS w
        FROM events GROUP BY event_type, bucket
    ),
    sizes AS (
        SELECT event_type,
               CAST(SUM(BIT_COUNT(w)) AS BIGINT) AS n_users
        FROM bm GROUP BY event_type
    ),
    inter AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(SUM(BIT_COUNT(a.w & b.w)) AS BIGINT) AS common_users
        FROM bm a
        JOIN bm b ON a.bucket = b.bucket
                 AND a.event_type < b.event_type
        GROUP BY type_a, type_b
    )
    SELECT i.type_a, i.type_b,
           sa.n_users AS users_a, sb.n_users AS users_b,
           i.common_users,
           CAST(1000000 * i.common_users
                // NULLIF(sa.n_users + sb.n_users - i.common_users, 0)
                AS BIGINT) AS jaccard_ppm
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.type_a
    JOIN sizes sb ON sb.event_type = i.type_b
    """,
    tags=("sketch", "events", "scale"),
    doc="Bitmap-index set intersections (the roaring-bitmap "
    "pattern): each event type's user set becomes 62-bit words "
    "keyed by user_id DIV 62 (62, not 64 — a BIGINT shift into the "
    "sign bit overflows on one engine), pairwise audience overlap "
    "is then SUM(popcount(a AND b)) over a bucket-aligned join — "
    "set algebra at memory-bandwidth speed instead of a "
    "COUNT(DISTINCT) shuffle per pair, exactly how bitmap indexes "
    "accelerate segment-overlap queries. Emits exact user counts "
    "and Jaccard ppm per type pair (the pytest replays against "
    "direct set intersection). Scale: the bitmap collapse is one "
    "map-side-combinable BIT_OR per (type, bucket); the pair join "
    "is bucket-co-partitioned, words not rows, with |types| a "
    "bounded dimension.",
)
def bitmap_intersection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    bm = (
        ev.groupBy(
            "event_type",
            F.expr(f"user_id DIV {_BM_BITS}").alias("bucket"),
        )
        .agg(
            F.expr(
                f"BIT_OR(SHIFTLEFT(CAST(1 AS BIGINT), "
                f"CAST(user_id % {_BM_BITS} AS INT)))"
            ).alias("w")
        )
        .localCheckpoint(eager=False)
    )
    sizes = bm.groupBy("event_type").agg(
        F.expr("CAST(SUM(BIT_COUNT(w)) AS BIGINT)").alias("n_users")
    )
    b = bm.select(
        F.col("event_type").alias("type_b"),
        "bucket",
        F.col("w").alias("wb"),
    )
    inter = (
        bm.select(
            F.col("event_type").alias("type_a"), "bucket", "w"
        )
        .join(b, "bucket")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.expr("CAST(SUM(BIT_COUNT(w & wb)) AS BIGINT)").alias(
                "common_users"
            )
        )
    )
    return (
        inter.join(
            sizes.select(
                F.col("event_type").alias("type_a"),
                F.col("n_users").alias("users_a"),
            ),
            "type_a",
        )
        .join(
            sizes.select(
                F.col("event_type").alias("type_b"),
                F.col("n_users").alias("users_b"),
            ),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "users_a",
            "users_b",
            "common_users",
            F.expr(
                "CAST(1000000 * common_users DIV NULLIF(users_a + "
                "users_b - common_users, 0) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )


# ------------------------------------ Markov removal-effect attribution

_MAR_ITERS = 8


def _mar_u_ctes(k: int) -> str:
    """Unrolled absorption-probability iterations u1..uk, each keyed
    (scenario, state): u_i(s) = (sum_dst p(s,dst) * val(dst)) // 1e6
    with val(__conv__)=1e6, val(__null__)=0, val(transient)=u_{i-1}."""
    ctes = [
        """u1 AS (
        SELECT scenario, src AS state,
               SUM(CASE WHEN dst = '__conv__' THEN p_ppm * 1000000
                        ELSE 0 END) // 1000000 AS u
        FROM m GROUP BY scenario, src
    )"""
    ]
    for i in range(2, k + 1):
        ctes.append(f"""u{i} AS (
        SELECT m.scenario, m.src AS state,
               SUM(CASE WHEN m.dst = '__conv__' THEN m.p_ppm * 1000000
                        WHEN m.dst = '__null__' THEN 0
                        ELSE m.p_ppm * COALESCE(prev.u, 0) END)
                   // 1000000 AS u
        FROM m LEFT JOIN u{i - 1} prev
          ON prev.scenario = m.scenario AND prev.state = m.dst
        GROUP BY m.scenario, m.src
    )""")
    return ",\n    ".join(ctes)


@register(
    "markov_attribution_removal",
    oracle=f"""
    WITH pos AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS pos
        FROM events
    ),
    fp AS (
        SELECT *,
               MIN(CASE WHEN event_type = 'purchase' THEN pos END)
                   OVER (PARTITION BY user_id) AS first_purchase
        FROM pos
    ),
    path AS (
        SELECT * FROM fp
        WHERE first_purchase IS NULL OR pos <= first_purchase
    ),
    hops AS (
        -- LEAD over the FULL truncated path (filtering src=purchase
        -- first would hide the purchase row from the window and no
        -- conversion edge would ever form)
        SELECT event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY pos
               ) AS next_type
        FROM path
    ),
    step_edges AS (
        SELECT event_type AS src,
               CASE WHEN next_type = 'purchase' THEN '__conv__'
                    WHEN next_type IS NULL THEN '__null__'
                    ELSE next_type END AS dst
        FROM hops WHERE event_type <> 'purchase'
    ),
    start_edges AS (
        SELECT '__start__' AS src,
               CASE WHEN event_type = 'purchase' THEN '__conv__'
                    ELSE event_type END AS dst
        FROM path WHERE pos = 1
    ),
    trans AS (
        SELECT src, dst, COUNT(*) AS c
        FROM (SELECT * FROM step_edges UNION ALL
              SELECT * FROM start_edges)
        GROUP BY src, dst
    ),
    p AS (
        SELECT src, dst,
               1000000 * c // SUM(c) OVER (PARTITION BY src) AS p_ppm
        FROM trans
    ),
    chan AS (
        SELECT DISTINCT src AS ch FROM p WHERE src <> '__start__'
    ),
    scen AS (
        SELECT ch AS scenario FROM chan
        UNION ALL SELECT '__base__'
    ),
    m AS (
        SELECT s.scenario, p.src,
               CASE WHEN p.dst = s.scenario THEN '__null__'
                    ELSE p.dst END AS dst,
               SUM(p.p_ppm) AS p_ppm
        FROM scen s JOIN p ON p.src <> s.scenario
        GROUP BY s.scenario, p.src, dst
    ),
    {_mar_u_ctes(_MAR_ITERS)},
    conv AS (
        SELECT scenario, u FROM u{_MAR_ITERS} WHERE state = '__start__'
    ),
    touches AS (
        SELECT event_type AS channel, COUNT(*) AS n_touches
        FROM path WHERE event_type <> 'purchase'
        GROUP BY event_type
    ),
    eff AS (
        SELECT c.ch AS channel,
               b.u AS base_conv_ppm,
               r.u AS removed_conv_ppm,
               GREATEST(b.u - r.u, 0) AS removal_effect_ppm
        FROM chan c
        JOIN conv r ON r.scenario = c.ch
        CROSS JOIN (SELECT u FROM conv WHERE scenario = '__base__') b
    )
    SELECT e.channel,
           CAST(t.n_touches AS BIGINT) AS n_touches,
           CAST(e.base_conv_ppm AS BIGINT) AS base_conv_ppm,
           CAST(e.removed_conv_ppm AS BIGINT) AS removed_conv_ppm,
           CAST(e.removal_effect_ppm AS BIGINT) AS removal_effect_ppm,
           CAST(1000000 * e.removal_effect_ppm
                // NULLIF(SUM(e.removal_effect_ppm) OVER (), 0)
                AS BIGINT) AS attribution_ppm
    FROM eff e JOIN touches t ON t.channel = e.channel
    """,
    tags=("stats", "events", "attribution"),
    doc="Markov removal-effect attribution (the data-driven successor "
    "to attribution_u_shaped's positional heuristic): per-user "
    "journeys truncated at first purchase become a first-order chain "
    "START -> channels -> {CONV, NULL}; conversion probability is "
    "the absorption probability of CONV, computed by 8 fixed-point "
    "iterations in truncating-integer ppm (the markov_steady_state "
    "recipe pointed at an absorbing chain — iteration count fixed, "
    "so the truncated fixed point is bit-identical on both engines). "
    "Each channel's removal effect re-solves the chain with every "
    "edge INTO the channel redirected to NULL and the channel's "
    "outgoing rows dropped — all scenarios solved simultaneously on "
    "one (scenario, src, dst) matrix. attribution_ppm normalizes "
    "effects across channels. Scale: one per-user window builds "
    "edges; everything downstream lives on the (channels+1) x "
    "states^2 matrix (bounded dimension); the 8 iterations are "
    "broadcast-sized joins. Ref parity: beyond-reference analytics.",
)
def markov_attribution_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    wp = W.partitionBy("user_id").orderBy("ts", "event_id")
    pos = ev.select(
        "user_id", "event_type", F.row_number().over(wp).alias("pos")
    )
    fp = pos.withColumn(
        "first_purchase",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("pos"))
        ).over(W.partitionBy("user_id")),
    )
    path = fp.where(
        F.col("first_purchase").isNull()
        | (F.col("pos") <= F.col("first_purchase"))
    ).localCheckpoint(eager=False)
    wpath = W.partitionBy("user_id").orderBy("pos")
    # LEAD over the FULL truncated path, THEN drop src=purchase rows —
    # filtering first would hide the purchase row from the window and
    # no conversion edge would ever form
    hops = path.select(
        "event_type", F.lead("event_type").over(wpath).alias("next_type")
    )
    step_edges = hops.where(F.col("event_type") != "purchase").select(
        F.col("event_type").alias("src"),
        F.when(F.col("next_type") == "purchase", F.lit("__conv__"))
        .when(F.col("next_type").isNull(), F.lit("__null__"))
        .otherwise(F.col("next_type"))
        .alias("dst"),
    )
    start_edges = path.where(F.col("pos") == 1).select(
        F.lit("__start__").alias("src"),
        F.when(F.col("event_type") == "purchase", F.lit("__conv__"))
        .otherwise(F.col("event_type"))
        .alias("dst"),
    )
    trans = (
        step_edges.unionByName(start_edges)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    p = trans.select(
        "src",
        "dst",
        F.expr("1000000 * c DIV SUM(c) OVER (PARTITION BY src)").alias(
            "p_ppm"
        ),
    )
    # The transition matrix is states^2 rows (a bounded artifact —
    # channels are a bounded dimension, same precedent as the IVF
    # codebook collect). The former formulation kept the 8 fixed-point
    # iterations on-engine: each was a broadcast join + aggregate +
    # coalesce(1) + localCheckpoint — ten-odd scheduled jobs over
    # ~40-row tables. The iterations are truncating-integer ppm
    # arithmetic, so the identical values fall out of plain Python
    # ints over the collected matrix: one job instead of ten, zero
    # change in any output bit (sums are order-independent integers;
    # // matches DIV on these non-negative operands).
    p_rows = [(r["src"], r["dst"], int(r["p_ppm"])) for r in p.collect()]
    # explicit 100 TB safety bound (VERDICT r12): states are event
    # TYPES (a schema-bounded dimension, single digits here), so the
    # matrix is states² rows no matter the corpus size. Fail loudly if
    # a schema change ever makes this collect corpus-shaped.
    if len(p_rows) > 65536:
        raise RuntimeError(
            f"markov transition matrix unexpectedly large ({len(p_rows)} rows);"
            " driver-side solve assumes a bounded state space"
        )
    chans = sorted({s for s, _, _ in p_rows if s != "__start__"})
    from collections import defaultdict

    def solve(scenario: str) -> dict[str, int]:
        # scenario matrix: drop the channel's outgoing rows, redirect
        # edges INTO it to __null__ (merged by summation, as the former
        # groupBy did)
        mat: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
        for src, dst, ppm in p_rows:
            if src == scenario:
                continue
            mat[src]["__null__" if dst == scenario else dst] += ppm
        u = {
            src: sum(
                ppm * 1000000 for dst, ppm in row.items() if dst == "__conv__"
            ) // 1000000
            for src, row in mat.items()
        }
        for _ in range(_MAR_ITERS - 1):
            u = {
                src: sum(
                    ppm * 1000000
                    if dst == "__conv__"
                    else (0 if dst == "__null__" else ppm * u.get(dst, 0))
                    for dst, ppm in row.items()
                ) // 1000000
                for src, row in mat.items()
            }
        return u

    # .get, not [ ]: an empty events table (or one with no __start__
    # transitions) must degrade to zero/empty output like the former
    # on-engine formulation did, not raise KeyError (ADVICE r12).
    base_u = solve("__base__").get("__start__", 0)
    rem_rows = [(ch, solve(ch).get("__start__", 0)) for ch in chans]
    base = spark.createDataFrame(
        [(base_u,)], "base_conv_ppm long"
    )
    rem = spark.createDataFrame(
        rem_rows, "channel string, removed_conv_ppm long"
    )
    touches = path.where(F.col("event_type") != "purchase").groupBy(
        F.col("event_type").alias("channel")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_touches"))
    eff = rem.crossJoin(F.broadcast(base)).withColumn(
        "removal_effect_ppm",
        F.expr("GREATEST(base_conv_ppm - removed_conv_ppm, 0)"),
    )
    return (
        eff.join(touches, "channel")
        .select(
            "channel",
            "n_touches",
            F.col("base_conv_ppm").cast("long").alias("base_conv_ppm"),
            F.col("removed_conv_ppm")
            .cast("long")
            .alias("removed_conv_ppm"),
            F.col("removal_effect_ppm")
            .cast("long")
            .alias("removal_effect_ppm"),
            F.expr(
                "CAST(1000000 * removal_effect_ppm DIV NULLIF("
                "SUM(removal_effect_ppm) OVER (), 0) AS BIGINT)"
            ).alias("attribution_ppm"),
        )
    )


# -------------------------------------------- sequential SPRT monitor

# Wald SPRT for the purchase-conversion rate, H0: p=0.18 vs H1:
# p=0.22, error bounds alpha=beta=0.05. Log-likelihood increments and
# thresholds are precomputed integer micro-nats (ln never runs
# in-engine): s = ln(p1/p0)*1e6 per success, f = ln((1-p1)/(1-p0))*1e6
# per failure, cross at +/- ln(19)*1e6.
_SPRT_S = 200671
_SPRT_F = -50010
_SPRT_A = 2944439
_SPRT_BUCKETS = 16


@register(
    "sequential_sprt_monitor",
    oracle=f"""
    WITH obs AS (
        SELECT user_id % {_SPRT_BUCKETS} AS bucket, ts, event_id,
               CASE WHEN event_type = 'purchase'
                    THEN {_SPRT_S} ELSE {_SPRT_F} END AS llr
        FROM events
    ),
    walked AS (
        SELECT bucket,
               row_number() OVER w AS rn,
               CAST(SUM(llr) OVER (PARTITION BY bucket
                   ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                   AS BIGINT) AS cum
        FROM obs
        WINDOW w AS (PARTITION BY bucket ORDER BY ts, event_id)
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(MIN(CASE WHEN cum >= {_SPRT_A} OR cum <= -{_SPRT_A}
                    THEN rn END) AS BIGINT) AS first_cross_n,
           CASE WHEN MIN(CASE WHEN cum >= {_SPRT_A} THEN rn END)
                     <= COALESCE(MIN(CASE WHEN cum <= -{_SPRT_A}
                                     THEN rn END), 9223372036854775807)
                THEN 'h1'
                WHEN MIN(CASE WHEN cum <= -{_SPRT_A} THEN rn END)
                     IS NOT NULL THEN 'h0'
                ELSE 'undecided' END AS decision,
           CAST(MAX(CASE WHEN rn = (SELECT MAX(rn) FROM walked w2
                                    WHERE w2.bucket = walked.bucket)
                    THEN cum END) AS BIGINT) AS final_llr_micro
    FROM walked
    GROUP BY bucket
    """,
    tags=("stats", "eval", "sequential"),
    doc="Wald sequential probability ratio test (SPRT, Wald 1945) "
    "monitoring the purchase-conversion rate across 16 independent "
    "hash-bucket replicates: each observation adds a precomputed "
    "integer micro-nat log-likelihood increment (success ln(p1/p0), "
    "failure ln((1-p1)/(1-p0)) — computed ONCE in Python, no "
    "in-engine transcendentals) and the test stops at the first "
    "+/-ln(19) crossing — the always-valid early-stopping companion "
    "to ab_test_zscore's fixed-horizon test (peeking at a z-test "
    "inflates false positives; SPRT is DESIGNED to be peeked at "
    "every observation). Reports per replicate: observations to "
    "decision, the decision, and the final statistic. Scale: one "
    "window partitioned BY BUCKET (parallel — buckets are the unit "
    "a streaming monitor shards on), exact integer cumsum, bounded "
    "output. Ref parity: beyond-reference experimentation layer.",
)
def sequential_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    obs = ev.select(
        (F.col("user_id") % _SPRT_BUCKETS).alias("bucket"),
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", F.lit(_SPRT_S))
        .otherwise(F.lit(_SPRT_F))
        .alias("llr"),
    )
    from pyspark.sql import Window as W

    wo = W.partitionBy("bucket").orderBy("ts", "event_id")
    walked = obs.select(
        "bucket",
        F.row_number().over(wo).alias("rn"),
        F.sum("llr")
        .over(wo.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("long")
        .alias("cum"),
    )
    a = _SPRT_A
    big = 9223372036854775807
    return walked.groupBy(F.col("bucket").cast("long").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.expr(
            f"CAST(MIN(CASE WHEN cum >= {a} OR cum <= -{a} THEN rn END)"
            " AS BIGINT)"
        ).alias("first_cross_n"),
        F.expr(
            f"CASE WHEN MIN(CASE WHEN cum >= {a} THEN rn END)"
            f" <= COALESCE(MIN(CASE WHEN cum <= -{a} THEN rn END),"
            f" {big}) THEN 'h1'"
            f" WHEN MIN(CASE WHEN cum <= -{a} THEN rn END) IS NOT NULL"
            " THEN 'h0' ELSE 'undecided' END"
        ).alias("decision"),
        F.expr(
            "CAST(MAX_BY(cum, rn) AS BIGINT)"
        ).alias("final_llr_micro"),
    )


# ------------------------------- exact Shapley channel attribution

# The coalition game: v(S) = conversions among users whose pre-
# purchase channel SET is contained in S (characteristic-function
# attribution, Zhao et al. 2018). Channels are a bounded dimension
# (event types), so the 2^C subset lattice is a bounded table and
# the Shapley sum is EXACT — weights |S|!(C-|S|-1)! stay integer by
# keeping phi scaled by C! until the final division. Supported to
# C = 12 channels (12! and the 4096-row subset table; phi_scaled is
# exact in BIGINT to ~1.9e10 conversions at C = 12 — noted, not
# hidden). The output divisions use divide-before-multiply with
# remainder (ADVICE r9: the earlier 1e6 * phi_scaled pre-multiply
# silently tightened the ceiling to ~1.9e4 conversions): exact via
# k*phi DIV f = k*(phi DIV f) + k*(phi % f) DIV f and the nested
# floor identity, so the phi_scaled ceiling itself is the binding
# bound again. v is monotone, so every marginal is non-negative and
# all truncating divisions agree across engines.
_SHAP_BITS = ", ".join(f"({i}, {1 << i})" for i in range(13))
_SHAP_FACT = ", ".join(f"({n}, {__import__('math').factorial(n)})"
                       for n in range(13))


@register(
    "shapley_channel_attribution",
    oracle=f"""
    WITH pos AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS pos
        FROM events
    ),
    fp AS (
        SELECT *,
               MIN(CASE WHEN event_type = 'purchase' THEN pos END)
                   OVER (PARTITION BY user_id) AS first_purchase
        FROM pos
    ),
    touch AS (
        SELECT DISTINCT user_id, event_type
        FROM fp
        WHERE event_type <> 'purchase'
          AND (first_purchase IS NULL OR pos < first_purchase)
    ),
    chans AS (
        SELECT event_type AS channel,
               CAST(ROW_NUMBER() OVER (ORDER BY event_type) - 1
                    AS BIGINT) AS idx
        FROM (SELECT DISTINCT event_type FROM touch)
    ),
    bits AS (SELECT * FROM (VALUES {_SHAP_BITS}) AS b(idx, bit)),
    fact AS (SELECT * FROM (VALUES {_SHAP_FACT}) AS f(n, f)),
    chanbits AS (
        SELECT c.channel, b.bit FROM chans c JOIN bits b ON b.idx = c.idx
    ),
    usermask AS (
        SELECT t.user_id, CAST(SUM(cb.bit) AS BIGINT) AS mask
        FROM touch t JOIN chanbits cb ON cb.channel = t.event_type
        GROUP BY t.user_id
    ),
    conv AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY user_id
    ),
    mstats AS (
        SELECT COALESCE(um.mask, 0) AS mask,
               CAST(SUM(cv.converted) AS BIGINT) AS conv
        FROM conv cv LEFT JOIN usermask um ON um.user_id = cv.user_id
        GROUP BY COALESCE(um.mask, 0)
    ),
    meta AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS c,
               (SELECT bit FROM bits
                WHERE idx = (SELECT COUNT(*) FROM chans)) AS two_c
        FROM chans
    ),
    subsets AS (
        SELECT s.range AS s FROM range(0, 4096) s
        WHERE s.range < (SELECT two_c FROM meta)
    ),
    v AS (
        SELECT s.s, CAST(COALESCE(SUM(m.conv), 0) AS BIGINT) AS v
        FROM subsets s LEFT JOIN mstats m ON (m.mask & s.s) = m.mask
        GROUP BY s.s
    ),
    contrib AS (
        SELECT cb.channel,
               CAST(SUM(fs.f * fns.f * (vi.v - vs.v)) AS BIGINT)
                   AS phi_scaled
        FROM chanbits cb
        JOIN v vs ON (vs.s & cb.bit) = 0
        JOIN v vi ON vi.s = vs.s + cb.bit
        CROSS JOIN meta
        JOIN fact fs ON fs.n = bit_count(vs.s)
        JOIN fact fns ON fns.n = meta.c - bit_count(vs.s) - 1
        GROUP BY cb.channel
    ),
    totals AS (
        SELECT (SELECT v FROM v WHERE s = meta.two_c - 1) AS v_full,
               (SELECT v FROM v WHERE s = 0) AS v_empty,
               f.f AS fact_c
        FROM meta JOIN fact f ON f.n = meta.c
    )
    SELECT ct.channel,
           CAST(COALESCE(t.n_users_touched, 0) AS BIGINT)
               AS n_users_touched,
           CAST(1000 * (ct.phi_scaled // tt.fact_c)
                + (1000 * (ct.phi_scaled % tt.fact_c)) // tt.fact_c
                AS BIGINT) AS conv_attributed_milli,
           CAST((1000000 * (ct.phi_scaled // tt.fact_c)
                 + (1000000 * (ct.phi_scaled % tt.fact_c)) // tt.fact_c)
                // NULLIF(tt.v_full - tt.v_empty, 0)
                AS BIGINT) AS share_ppm
    FROM contrib ct
    LEFT JOIN (
        SELECT cb.channel, CAST(COUNT(*) AS BIGINT) AS n_users_touched
        FROM usermask um
        JOIN chanbits cb ON (um.mask & cb.bit) <> 0
        GROUP BY cb.channel
    ) t ON t.channel = ct.channel
    CROSS JOIN totals tt
    """,
    tags=("events", "stats", "eval"),
    doc="Exact Shapley-value channel attribution: the coalition game "
    "v(S) = conversions among users whose pre-first-purchase channel "
    "set is contained in S, with the Shapley sum evaluated EXACTLY "
    "over the bounded 2^C subset lattice (channels = event types, a "
    "bounded dimension) — phi stays scaled by C! so the permutation "
    "weights |S|!(C-|S|-1)! never leave integer arithmetic, and v's "
    "monotonicity keeps every marginal non-negative so truncating "
    "division agrees across engines. The efficiency axiom sum(phi) = "
    "v(full) - v(empty) is pinned exactly in pytest — the property "
    "U-shaped / Markov-removal heuristics do not have. Supported to "
    "C = 12 channels (documented cap; the 4096-row subset table and "
    "12! weights stay far inside BIGINT; output milli/ppm divisions "
    "are divide-before-multiply-with-remainder so phi_scaled's own "
    "~1.9e10-conversion ceiling is the binding bound, not a "
    "pre-multiply). Scale: one per-user window "
    "+ distinct collapse to user masks, one map-side mask histogram; "
    "everything after — subset lattice, marginals, weights — lives "
    "on bounded tables, independent of corpus size. Ref parity: "
    "beyond-reference attribution layer (exact companion to "
    "attribution_u_shaped and markov_attribution_removal).",
)
def shapley_channel_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    wpos = W.partitionBy("user_id").orderBy("ts", "event_id")
    pos = ev.select(
        "user_id", "event_type", F.row_number().over(wpos).alias("pos")
    )
    fp = pos.withColumn(
        "first_purchase",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("pos"))
        ).over(W.partitionBy("user_id")),
    )
    # ONE corpus pass: the window output is already partitioned by
    # user_id, so this aggregate needs no further exchange, and it
    # folds the former three event-table consumers together — the
    # per-user converted flag (previously a SECOND scan + shuffle of
    # events), the distinct pre-first-purchase channel set (previously
    # a separate distinct), and — via the checkpoint — the shared input
    # of usermask's two downstream consumers, which each re-derived the
    # whole two-window lineage. collect_set ignores the NULLs the
    # when() emits for purchase/post-purchase rows, so chset is exactly
    # the old `touch` relation per user.
    touch_pre = (
        (F.col("event_type") != "purchase")
        & (
            F.col("first_purchase").isNull()
            | (F.col("pos") < F.col("first_purchase"))
        )
    )
    peruser = (
        fp.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted"),
            F.collect_set(
                F.when(touch_pre, F.col("event_type"))
            ).alias("chset"),
        )
        .localCheckpoint(eager=False)
    )
    chans = (
        peruser.select(F.explode("chset").alias("event_type"))
        .distinct()
        .select(
            F.col("event_type").alias("channel"),
            (F.row_number().over(W.orderBy("event_type")) - 1)
            .cast("long")
            .alias("idx"),
        )
    )
    bits = spark.createDataFrame(
        [(i, 1 << i) for i in range(13)], "idx long, bit long"
    )
    fact = spark.createDataFrame(
        [(n, __import__("math").factorial(n)) for n in range(13)],
        "n long, f long",
    )
    chanbits = chans.join(bits, "idx").select("channel", "bit")
    chanbits = chanbits.localCheckpoint(eager=False)
    usermask = (
        peruser.select("user_id", F.explode("chset").alias("channel"))
        .join(F.broadcast(chanbits), "channel")
        .groupBy("user_id")
        .agg(F.sum("bit").cast("long").alias("mask"))
    )
    mstats = (
        peruser.join(usermask, "user_id", "left")
        .select(
            F.coalesce(F.col("mask"), F.lit(0)).alias("mask"), "converted"
        )
        .groupBy("mask")
        .agg(F.sum("converted").cast("long").alias("conv"))
        .localCheckpoint(eager=False)
    )
    meta = chans.agg(F.count(F.lit(1)).cast("long").alias("c")).join(
        bits.withColumnRenamed("bit", "two_c"),
        F.col("c") == F.col("idx"),
    ).select("c", "two_c")
    subsets = (
        spark.range(4096)
        .select(F.col("id").cast("long").alias("s"))
        .crossJoin(F.broadcast(meta))
        .where("s < two_c")
        .select("s")
    )
    v = (
        subsets.join(
            F.broadcast(mstats),
            F.expr("(mask & s) = mask"),
            "left",
        )
        .groupBy("s")
        .agg(
            F.coalesce(F.sum("conv"), F.lit(0)).cast("long").alias("v")
        )
        .localCheckpoint(eager=False)
    )
    vs = v.select(F.col("s").alias("s0"), F.col("v").alias("v0"))
    vi = v.select(F.col("s").alias("s1"), F.col("v").alias("v1"))
    contrib = (
        F.broadcast(chanbits)
        .join(vs, F.expr("(s0 & bit) = 0"))
        .join(vi, F.expr("s1 = s0 + bit"))
        .crossJoin(F.broadcast(meta))
        .join(
            F.broadcast(fact.withColumnRenamed("f", "fs")),
            F.expr("n = bit_count(s0)"),
        )
        .drop("n")
        .join(
            F.broadcast(fact.withColumnRenamed("f", "fns")),
            F.expr("n = c - bit_count(s0) - 1"),
        )
        .groupBy("channel")
        .agg(
            F.expr("CAST(SUM(fs * fns * (v1 - v0)) AS BIGINT)").alias(
                "phi_scaled"
            )
        )
    )
    totals = (
        v.crossJoin(F.broadcast(meta))
        .where("s = two_c - 1")
        .select(F.col("c"), F.col("v").alias("v_full"))
        .crossJoin(
            F.broadcast(
                v.where("s = 0").select(F.col("v").alias("v_empty"))
            )
        )
        .join(F.broadcast(fact), F.expr("n = c"))
        .select("v_full", "v_empty", F.col("f").alias("fact_c"))
    )
    touched = (
        usermask.join(F.broadcast(chanbits), F.expr("(mask & bit) <> 0"))
        .groupBy("channel")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users_touched"))
    )
    return (
        contrib.join(touched, "channel", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "channel",
            F.coalesce(F.col("n_users_touched"), F.lit(0))
            .cast("long")
            .alias("n_users_touched"),
            F.expr(
                "CAST(1000 * (phi_scaled DIV fact_c)"
                " + (1000 * (phi_scaled % fact_c)) DIV fact_c"
                " AS BIGINT)"
            ).alias("conv_attributed_milli"),
            F.expr(
                "CAST((1000000 * (phi_scaled DIV fact_c)"
                " + (1000000 * (phi_scaled % fact_c)) DIV fact_c)"
                " DIV NULLIF(v_full - v_empty, 0) AS BIGINT)"
            ).alias("share_ppm"),
        )
    )
