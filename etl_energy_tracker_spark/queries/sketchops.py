"""Sketch operators — sublinear-memory summaries with exact error
accounting, the query-planning / monitoring layer of a 100 TB engine.

- ``cms_token_counts``     — Count-Min sketch (d×w) over the corpus
  token stream, probed for the top exact tokens so the one-sided
  overestimate guarantee is visible per token.
- ``cms_join_cardinality`` — join-size estimation WITHOUT running the
  join: CMS inner product of the two key streams (the classic AGMS/
  CMS application planners use to pick join order), reported next to
  the exact cardinality.

Both sketches use the engine-portable polynomial hash family
(functions/hashing.py) so Spark and DuckDB build bit-identical
sketches: every cell, estimate, and error term is an exact integer on
both engines — no float surface at all (the ratio column is a single
IEEE division, rounded once).

Scale notes: a CMS is a d×w integer grid built by map-side partial
aggregation — per-partition state is bounded by d×w cells regardless
of input size or key cardinality, and the merge is cellwise addition
(associative, commutative). That is why it works where an exact
groupBy over 10^11 keys would not. Here the cells come from a groupBy
on (row, position) — same result, and the exact counts are computed
anyway for the error audit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.hashing import duckdb_charhash, spark_charhash
from ..sources.registry import load_table
from .catalog import register

# ------------------------------------------------------ CMS parameters

_CMS_D = 4  # depth (independent hash rows)
_CMS_W = 512  # width (cells per row)
_TOPN = 15  # probe set: top-N exact tokens


def _pos_duck(expr: str, j: int, w: int) -> str:
    return f"(({duckdb_charhash(expr)} * {2 * j + 3} + {577 * (j + 1)}) % {w})"


def _pos_spark(expr: str, j: int, w: int) -> str:
    return f"(({spark_charhash(expr)} * {2 * j + 3} + {577 * (j + 1)}) % {w})"


def _jp_explode(key: str, d: int, w: int):
    """Exploded (j, pos) CMS coordinate column for ``key``: one array
    of d structs per row, so every depth row is built in a single pass
    (one shuffle for the whole sketch, not one per depth). The ONE
    rendering of the position formula on the Spark side — the sketch
    build and every probe must index the same cells."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    F.expr(_pos_spark(key, j, w)).alias("pos"),
                )
                for j in range(d)
            ]
        )
    ).alias("jp")


_TOKS_DUCK = (
    "SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok "
    "FROM documents"
)


@register(
    "cms_token_counts",
    oracle=f"""
    WITH toks AS ({_TOKS_DUCK}),
    exact AS (SELECT tok, COUNT(*) AS exact_c FROM toks GROUP BY tok),
    cells AS (
        {" UNION ALL ".join(f"SELECT {j} AS j, {_pos_duck('tok', j, _CMS_W)} AS pos, CAST(SUM(exact_c) AS BIGINT) AS cell FROM exact GROUP BY pos" for j in range(_CMS_D))}
    ),
    probe AS (
        SELECT tok, exact_c FROM exact
        ORDER BY exact_c DESC, tok LIMIT {_TOPN}
    ),
    est AS (
        SELECT probe.tok, probe.exact_c, MIN(cells.cell) AS est_c
        FROM probe
        JOIN cells ON (
            {" OR ".join(f"(cells.j = {j} AND cells.pos = {_pos_duck('probe.tok', j, _CMS_W)})" for j in range(_CMS_D))}
        )
        GROUP BY probe.tok, probe.exact_c
    )
    SELECT tok, exact_c, est_c, est_c - exact_c AS overest
    FROM est
    """,
    tags=("sketch",),
    doc="Count-Min sketch over the corpus token stream (d=4, w=512, "
    "portable hash family), probed for the top exact tokens: per-token "
    "exact count, CMS estimate, and the one-sided overestimate "
    "(est >= exact always — the CMS guarantee, pinned in pytest). "
    "Sketch state is d*w integers regardless of token cardinality; "
    "build is map-side partial aggregation + cellwise merge, so at "
    "100 TB it replaces an unboundedly wide exact groupBy for "
    "frequency monitoring. Bit-identical sketches on both engines.",
)
def cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    )
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_c"))
    # build the d cell rows from the exact counts in ONE pass: explode
    # the (j, pos) pairs per token and aggregate once — one shuffle for
    # the whole sketch instead of one per depth row (production builds
    # the same cells straight off the stream, see module docstring)
    jp = _jp_explode("tok", _CMS_D, _CMS_W)
    cells = (
        exact.select(jp, "exact_c")
        .select("jp.j", "jp.pos", "exact_c")
        .groupBy("j", "pos")
        .agg(F.sum("exact_c").alias("cell"))
    )
    probe = exact.orderBy(F.desc("exact_c"), "tok").limit(_TOPN)
    probe_pos = probe.select(
        "tok",
        "exact_c",
        _jp_explode("tok", _CMS_D, _CMS_W),
    ).select("tok", "exact_c", "jp.j", "jp.pos")
    return (
        probe_pos.join(F.broadcast(cells), ["j", "pos"])
        .groupBy("tok", "exact_c")
        .agg(F.min("cell").alias("est_c"))
        .select(
            "tok", "exact_c", "est_c", (F.col("est_c") - F.col("exact_c")).alias("overest")
        )
    )


# ------------------------------------------- CMS join-size estimation

_JW = 1024  # wider sketch for the cardinality inner product
_JD = 3


@register(
    "cms_join_cardinality",
    oracle=f"""
    WITH ok AS (
        SELECT CAST(o_orderkey AS VARCHAR) AS k FROM orders
    ),
    lk AS (
        SELECT CAST(l_orderkey AS VARCHAR) AS k FROM lineitem
    ),
    oc AS (
        {" UNION ALL ".join(f"SELECT {j} AS j, {_pos_duck('k', j, _JW)} AS pos, CAST(COUNT(*) AS BIGINT) AS cell FROM ok GROUP BY pos" for j in range(_JD))}
    ),
    lc AS (
        {" UNION ALL ".join(f"SELECT {j} AS j, {_pos_duck('k', j, _JW)} AS pos, CAST(COUNT(*) AS BIGINT) AS cell FROM lk GROUP BY pos" for j in range(_JD))}
    ),
    ip AS (
        SELECT oc.j, CAST(SUM(oc.cell * lc.cell) AS BIGINT) AS dot
        FROM oc JOIN lc ON oc.j = lc.j AND oc.pos = lc.pos
        GROUP BY oc.j
    ),
    est AS (SELECT MIN(dot) AS est_pairs FROM ip),
    exact AS (
        SELECT COUNT(*) AS exact_pairs
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    )
    SELECT exact_pairs, est_pairs,
           ROUND(est_pairs * 1.0 / exact_pairs, 6) AS overest_ratio
    FROM exact CROSS JOIN est
    """,
    tags=("sketch",),
    doc="Join-cardinality estimation without executing the join: build "
    "a CMS over each side's key stream and take the minimum inner "
    "product across depth rows (the CMS/AGMS estimator query planners "
    "use for join ordering). Reported next to the exact |orders x "
    "lineitem| count; the estimate is one-sided (est >= exact, pinned "
    "in pytest). Each side is one scan into d*w bounded cells — at "
    "100 TB this estimates a fact-fact join size from two cheap "
    "passes, with no shuffle of either table (the sketches meet on "
    "d*w rows).",
)
def cms_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    lineitem = load_table(spark, "lineitem", sf_dir)
    ok = orders.select(F.col("o_orderkey").cast("string").alias("k"))
    lk = lineitem.select(F.col("l_orderkey").cast("string").alias("k"))

    def sketch(side: DataFrame) -> DataFrame:
        # one explode + one aggregate for all depth rows (not one
        # shuffle per row): each input key contributes d cells
        jp = _jp_explode("k", _JD, _JW)
        return (
            side.select(jp)
            .select("jp.j", "jp.pos")
            .groupBy("j", "pos")
            .agg(F.count(F.lit(1)).alias("cell"))
        )

    oc = sketch(ok)
    lc = sketch(lk).withColumnRenamed("cell", "cell2")
    ip = (
        oc.join(lc, ["j", "pos"])
        .groupBy("j")
        .agg(F.sum(F.col("cell") * F.col("cell2")).alias("dot"))
    )
    est = ip.agg(F.min("dot").alias("est_pairs"))
    exact = (
        orders.join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .agg(F.count(F.lit(1)).alias("exact_pairs"))
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_pairs",
        "est_pairs",
        F.round(F.col("est_pairs") * 1.0 / F.col("exact_pairs"), 6).alias(
            "overest_ratio"
        ),
    )


# ----------------------------------------------- HyperLogLog audit

_HLL_M = 256  # 2^8 buckets
_HLL_W = 22  # bits in the rho word: (MOD-1)/m < 2^22
_HLL_ALPHA = "0.7182725932495458"  # 0.7213/(1 + 1.079/m), m=256


def _rho_case(w: str) -> str:
    # rho = leading zeros of the 22-bit word + 1 = 23 - bit_length(w);
    # a CASE ladder keeps it pure integer (floor(log2) via float ln
    # would mis-round exactly at powers of two)
    branches = [f"WHEN ({w}) = 0 THEN {_HLL_W + 1}"]
    for bl in range(_HLL_W, 0, -1):
        branches.append(f"WHEN ({w}) >= {1 << (bl - 1)} THEN {_HLL_W + 1 - bl}")
    return "CASE " + " ".join(branches) + " END"


def _hll_corrected(raw: str, n_filled: str) -> str:
    # standard linear-counting small-range correction: below 2.5m with
    # empty buckets left, m*ln(m/empty) estimates far better than the
    # raw harmonic mean (identical SQL on both engines)
    return (
        f"CASE WHEN ({raw}) <= {2.5 * _HLL_M} AND ({n_filled}) < {_HLL_M} "
        f"THEN {_HLL_M} * ln({_HLL_M} * 1.0 / ({_HLL_M} - ({n_filled}))) "
        f"ELSE ({raw}) END"
    )


@register(
    "hll_distinct_audit",
    oracle=f"""
    WITH h AS (
        SELECT {duckdb_charhash("CAST(o_orderkey AS VARCHAR)")} AS hv
        FROM orders
    ),
    reg AS (
        SELECT hv % {_HLL_M} AS bucket,
               MAX({_rho_case(f"hv // {_HLL_M}")}) AS rho
        FROM h GROUP BY bucket
    ),
    s AS (
        SELECT COUNT(*) AS n_filled,
               SUM(1.0 / CAST((1 << rho) AS DOUBLE)) AS s_filled
        FROM reg
    ),
    est AS (
        SELECT n_filled,
               CAST({_HLL_ALPHA} AS DOUBLE) * {_HLL_M * _HLL_M}
                   / (({_HLL_M} - n_filled) * 1.0 + s_filled) AS raw
        FROM s
    ),
    exact AS (SELECT COUNT(DISTINCT o_orderkey) AS exact_distinct FROM orders),
    corr AS (
        SELECT n_filled,
               CASE WHEN raw <= {2.5 * _HLL_M} AND n_filled < {_HLL_M}
                    THEN {_HLL_M} * ln({_HLL_M} * 1.0 / ({_HLL_M} - n_filled))
                    ELSE raw END AS est
        FROM est
    )
    SELECT exact_distinct,
           ROUND(est, 4) AS hll_est,
           CAST({_HLL_M} - n_filled AS BIGINT) AS n_empty_buckets,
           ROUND((est - exact_distinct) / exact_distinct, 6) AS rel_err
    FROM exact CROSS JOIN corr
    """,
    tags=("sketch",),
    doc="HyperLogLog distinct-count audit (m=256, portable hash): "
    "bucket registers hold the max leading-zero rank of the remaining "
    "22-bit hash word (CASE-ladder integer rank — a float log2 would "
    "mis-round at powers of two), the harmonic-mean estimate is "
    "computed from them, and the exact distinct count sits alongside "
    "with the relative error. Every 2^-rho term is a dyadic rational "
    "with LSB 2^-23 and the register sum stays under 2^8, so the "
    "double summation is EXACT regardless of order — the trick that "
    "makes an HLL estimate reproducible across engines and cluster "
    "sizes. Register state is m integers; merge is elementwise max — "
    "the sketch that replaces COUNT(DISTINCT) over 10^11 keys. "
    "Includes the standard linear-counting small-range correction "
    "(raw <= 2.5m with empty buckets -> m*ln(m/empty)), so the "
    "estimate stays honest at low cardinality too.",
)
def hll_distinct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    h = orders.select(
        F.expr(spark_charhash("cast(o_orderkey as string)")).alias("hv")
    )
    reg = (
        h.select(
            (F.col("hv") % _HLL_M).alias("bucket"),
            F.expr(_rho_case(f"hv div {_HLL_M}")).alias("rho"),
        )
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
    )
    s = reg.agg(
        F.count(F.lit(1)).alias("n_filled"),
        F.sum(
            F.lit(1.0) / F.expr("cast(shiftleft(1, rho) as double)")
        ).alias("s_filled"),
    )
    est = s.select(
        "n_filled",
        (
            F.lit(float(_HLL_ALPHA))
            * _HLL_M
            * _HLL_M
            / ((_HLL_M - F.col("n_filled")) * 1.0 + F.col("s_filled"))
        ).alias("raw"),
    )
    corr = est.select(
        "n_filled",
        F.expr(_hll_corrected("raw", "n_filled")).alias("est"),
    )
    exact = orders.agg(
        F.countDistinct("o_orderkey").alias("exact_distinct")
    )
    return exact.crossJoin(F.broadcast(corr)).select(
        "exact_distinct",
        F.round("est", 4).alias("hll_est"),
        (F.lit(_HLL_M) - F.col("n_filled")).cast("long").alias("n_empty_buckets"),
        F.round(
            (F.col("est") - F.col("exact_distinct")) / F.col("exact_distinct"), 6
        ).alias("rel_err"),
    )


def _hll_est_duck(reg: str) -> str:
    # small-range-corrected estimate from a (bucket, rho) register
    # relation (same correction as hll_distinct_audit)
    return f"""
        SELECT {_hll_corrected("raw", "n_filled")} AS raw FROM (
            SELECT COUNT(*) AS n_filled,
                   CAST({_HLL_ALPHA} AS DOUBLE) * {_HLL_M * _HLL_M}
                   / (({_HLL_M} - COUNT(*)) * 1.0
                      + SUM(1.0 / CAST((1 << rho) AS DOUBLE))) AS raw
            FROM {reg}
        )
    """


@register(
    "hll_set_union_intersect",
    oracle=f"""
    WITH viewers AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
    ),
    clickers AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
    ),
    ha AS (
        SELECT {duckdb_charhash("CAST(user_id AS VARCHAR)")} AS hv FROM viewers
    ),
    hb AS (
        SELECT {duckdb_charhash("CAST(user_id AS VARCHAR)")} AS hv FROM clickers
    ),
    rega AS (
        SELECT hv % {_HLL_M} AS bucket, MAX({_rho_case(f"hv // {_HLL_M}")}) AS rho
        FROM ha GROUP BY bucket
    ),
    regb AS (
        SELECT hv % {_HLL_M} AS bucket, MAX({_rho_case(f"hv // {_HLL_M}")}) AS rho
        FROM hb GROUP BY bucket
    ),
    regu AS (
        SELECT bucket, MAX(rho) AS rho FROM (
            SELECT * FROM rega UNION ALL SELECT * FROM regb
        ) GROUP BY bucket
    ),
    ea AS ({_hll_est_duck("rega")}),
    eb AS ({_hll_est_duck("regb")}),
    eu AS ({_hll_est_duck("regu")}),
    exact AS (
        SELECT (SELECT COUNT(*) FROM viewers) AS exact_a,
               (SELECT COUNT(*) FROM clickers) AS exact_b,
               (SELECT COUNT(*) FROM (
                   SELECT user_id FROM viewers
                   UNION SELECT user_id FROM clickers)) AS exact_union,
               (SELECT COUNT(*) FROM viewers
                JOIN clickers USING (user_id)) AS exact_intersect
    )
    SELECT exact_a, exact_b, exact_union, exact_intersect,
           ROUND(ea.raw, 4) AS est_a,
           ROUND(eb.raw, 4) AS est_b,
           ROUND(eu.raw, 4) AS est_union,
           ROUND(ea.raw + eb.raw - eu.raw, 4) AS est_intersect
    FROM exact CROSS JOIN ea CROSS JOIN eb CROSS JOIN eu
    """,
    tags=("sketch",),
    doc="HLL set algebra by register merge: viewer and clicker "
    "audiences sketched separately, the UNION estimated by merging "
    "registers with elementwise max — the mergeability property that "
    "lets per-partition/per-day sketches combine without re-reading "
    "data — and the intersection by inclusion-exclusion. Exact "
    "counts computed alongside for the error audit. At 100 TB this "
    "is how audience-overlap queries run in milliseconds off "
    "pre-aggregated daily sketches instead of re-scanning events.",
)
def hll_set_union_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)

    def users(et: str) -> DataFrame:
        # each audience feeds 3-4 consumers (registers, exact count,
        # union, intersect) — materialize the distinct set once instead
        # of recomputing the events scan + distinct per consumer
        return (
            ev.where(F.col("event_type") == et)
            .select("user_id")
            .distinct()
            .localCheckpoint(eager=False)
        )

    def regs(side: DataFrame) -> DataFrame:
        h = side.select(
            F.expr(spark_charhash("cast(user_id as string)")).alias("hv")
        )
        return (
            h.select(
                (F.col("hv") % _HLL_M).alias("bucket"),
                F.expr(_rho_case(f"hv div {_HLL_M}")).alias("rho"),
            )
            .groupBy("bucket")
            .agg(F.max("rho").alias("rho"))
        )

    def est(reg: DataFrame, name: str) -> DataFrame:
        return reg.agg(
            F.count(F.lit(1)).alias("n_filled"),
            (
                F.lit(float(_HLL_ALPHA))
                * _HLL_M
                * _HLL_M
                / (
                    (_HLL_M - F.count(F.lit(1))) * 1.0
                    + F.sum(
                        F.lit(1.0) / F.expr("cast(shiftleft(1, rho) as double)")
                    )
                )
            ).alias("raw"),
        ).select(F.expr(_hll_corrected("raw", "n_filled")).alias(name))

    viewers, clickers = users("view"), users("click")
    rega, regb = regs(viewers), regs(clickers)
    regu = (
        rega.unionByName(regb).groupBy("bucket").agg(F.max("rho").alias("rho"))
    )
    ea, eb, eu = est(rega, "ra"), est(regb, "rb"), est(regu, "ru")
    exact = (
        viewers.agg(F.count(F.lit(1)).alias("exact_a"))
        .crossJoin(clickers.agg(F.count(F.lit(1)).alias("exact_b")))
        .crossJoin(
            viewers.unionByName(clickers)
            .distinct()
            .agg(F.count(F.lit(1)).alias("exact_union"))
        )
        .crossJoin(
            viewers.join(clickers, "user_id")
            .agg(F.count(F.lit(1)).alias("exact_intersect"))
        )
    )
    return (
        exact.crossJoin(F.broadcast(ea))
        .crossJoin(F.broadcast(eb))
        .crossJoin(F.broadcast(eu))
        .select(
            "exact_a",
            "exact_b",
            "exact_union",
            "exact_intersect",
            F.round("ra", 4).alias("est_a"),
            F.round("rb", 4).alias("est_b"),
            F.round("ru", 4).alias("est_union"),
            F.round(F.col("ra") + F.col("rb") - F.col("ru"), 4).alias(
                "est_intersect"
            ),
        )
    )


# -------------------------------------------- histogram quantiles

_HIST_BINS = 256


@register(
    "histogram_quantile_estimate",
    oracle=f"""
    WITH bounds AS (
        SELECT MIN(value) AS mn, MAX(value) AS mx, COUNT(*) AS n_total
        FROM events
    ),
    binned AS (
        -- mx = mn (all values equal) degenerates to one bin instead of
        -- dividing by zero
        SELECT CASE WHEN mx = mn THEN 0
                    ELSE LEAST(CAST(FLOOR((value - mn) / (mx - mn) * {_HIST_BINS})
                               AS BIGINT), {_HIST_BINS - 1}) END AS bin,
               COUNT(*) AS c
        FROM events, bounds GROUP BY 1
    ),
    cum AS (
        SELECT bin, SUM(c) OVER (ORDER BY bin) AS cum_c FROM binned
    ),
    est AS (
        SELECT
            (SELECT MIN(bin) FROM cum, bounds WHERE cum_c * 100 >= 50 * n_total) AS b50,
            (SELECT MIN(bin) FROM cum, bounds WHERE cum_c * 100 >= 90 * n_total) AS b90,
            (SELECT MIN(bin) FROM cum, bounds WHERE cum_c * 100 >= 99 * n_total) AS b99
    )
    SELECT ROUND(mn + b50 * (mx - mn) / {_HIST_BINS}, 6) AS p50_est,
           ROUND(mn + b90 * (mx - mn) / {_HIST_BINS}, 6) AS p90_est,
           ROUND(mn + b99 * (mx - mn) / {_HIST_BINS}, 6) AS p99_est,
           ROUND(quantile_cont(value, 0.5), 6) AS p50_exact,
           ROUND(quantile_cont(value, 0.9), 6) AS p90_exact,
           ROUND(quantile_cont(value, 0.99), 6) AS p99_exact
    FROM est, bounds, events
    GROUP BY b50, b90, b99, mn, mx
    """,
    tags=("sketch", "stats"),
    doc="Histogram-sketch quantile estimation next to the exact "
    "answer: one pass for (min, max, count), one pass binning values "
    "into 256 fixed-width buckets (the mergeable, constant-size "
    "sketch a 100 TB profiler maintains per column), then p50/p90/p99 "
    "read off the cumulative histogram as the owning bin's lower "
    "edge. The exact interpolated quantiles (a full sort at scale — "
    "the thing the sketch exists to avoid) are computed alongside so "
    "the estimate's error is visible in the output. Bin index "
    "arithmetic is identical double math on both engines; estimate "
    "error is bounded by one bin width by construction (pinned in "
    "pytest).",
)
def histogram_quantile_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select("value")
    bounds = ev.agg(
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        F.count(F.lit(1)).alias("n_total"),
    )
    binned = (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            # mx = mn degenerates to one bin instead of dividing by zero
            F.when(F.col("mx") == F.col("mn"), F.lit(0).cast("long"))
            .otherwise(
                F.least(
                    F.floor((F.col("value") - F.col("mn"))
                            / (F.col("mx") - F.col("mn")) * _HIST_BINS).cast("long"),
                    F.lit(_HIST_BINS - 1),
                )
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cum = binned.select(
        "bin", F.sum("c").over(W.orderBy("bin")).alias("cum_c")
    ).crossJoin(F.broadcast(bounds))
    est = cum.agg(
        *[
            F.min(
                F.when(F.col("cum_c") * 100 >= p * F.col("n_total"), F.col("bin"))
            ).alias(f"b{p}")
            for p in (50, 90, 99)
        ]
    )
    exact = ev.agg(
        *[
            F.round(F.expr(f"percentile(value, {p / 100})"), 6).alias(f"p{p}_exact")
            for p in (50, 90, 99)
        ]
    )
    # empty events: the oracle's grouped select over the empty cross
    # product yields ZERO rows; Spark's global aggregates would yield
    # one all-null row — filter to match
    return (
        est.crossJoin(F.broadcast(bounds))
        .crossJoin(F.broadcast(exact))
        .where(F.col("n_total") > 0)
        .select(
            *[
                F.round(
                    F.col("mn")
                    + F.col(f"b{p}") * (F.col("mx") - F.col("mn")) / _HIST_BINS,
                    6,
                ).alias(f"p{p}_est")
                for p in (50, 90, 99)
            ],
            "p50_exact", "p90_exact", "p99_exact",
        )
    )


# ------------------------------------------------ two-pass exact median

_TPM_BIN = 128  # cents per fixed-width bin


@register(
    "twopass_exact_median",
    oracle=f"""
    WITH c AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    n AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
               (CAST(COUNT(*) AS BIGINT) + 1) // 2 AS rk
        FROM c GROUP BY event_type
    ),
    ranked AS (
        SELECT event_type, cents,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY cents
               ) AS rn
        FROM c
    ),
    med AS (
        SELECT r.event_type, r.cents AS median_cents
        FROM ranked r JOIN n ON n.event_type = r.event_type
        WHERE r.rn = n.rk
    )
    SELECT m.event_type, n.n_rows, m.median_cents,
           m.median_cents // {_TPM_BIN} AS median_bin,
           CAST((SELECT COUNT(*) FROM c
                 WHERE c.event_type = m.event_type
                   AND c.cents // {_TPM_BIN} = m.median_cents // {_TPM_BIN})
                AS BIGINT) AS bin_rows
    FROM med m JOIN n ON n.event_type = m.event_type
    """,
    tags=("sketch", "stats"),
    doc="EXACT per-group median in two passes with NO global sort — "
    "the scale-correct way to get an exact quantile when the sketch "
    "estimate (histogram_quantile_estimate) is not enough: pass 1 "
    "bins values into fixed 128-cent buckets and walks the cumulative "
    "histogram (a window over the BOUNDED per-group histogram, not "
    "the data) to find the bucket owning rank (n+1)/2; pass 2 sorts "
    "ONLY that bucket's rows (bin_rows in the output shows how few) "
    "and picks the (rank - below)-th element. The oracle computes the "
    "same lower median by direct global ranking — proving the "
    "refinement is exact. Values quantize once to cents; all "
    "arithmetic integer. Scale: pass 1 is a map-side-combinable "
    "aggregate; pass 2's per-group sort touches n/bins rows; at "
    "100 TB both passes are full scans but nothing ever globally "
    "sorts — the classic 'exact quantile in O(passes) scans' "
    "pattern (Munro-Paterson style).",
)
def twopass_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    c = events.select(
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        "event_id",
    )
    # ---- pass 1: fixed-width histogram + cumulative walk
    # the histogram is bounded (groups x ~400 bins) and feeds four
    # consumers (n, cum, below, bin_counts) — checkpoint it so pass 1
    # scans the events table once, not per consumer
    binned = c.groupBy(
        "event_type", F.expr(f"cents DIV {_TPM_BIN}").alias("bin")
    ).agg(F.count(F.lit(1)).cast("long").alias("bc")).localCheckpoint(
        eager=False
    )
    n = binned.groupBy("event_type").agg(
        F.sum("bc").cast("long").alias("n_rows")
    ).withColumn("rk", F.expr("(n_rows + 1) DIV 2"))
    wcum = (
        W.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = binned.withColumn("cum", F.sum("bc").over(wcum))
    med_bin = (
        cum.join(n, "event_type")
        .where(F.col("cum") >= F.col("rk"))
        .groupBy("event_type", "n_rows", "rk")
        .agg(
            F.min("bin").alias("median_bin"),
        )
    )
    # rank below the median bin = cum at the previous bin
    below = (
        cum.join(
            med_bin.select("event_type", "median_bin"), "event_type"
        )
        .where(F.col("bin") < F.col("median_bin"))
        .groupBy("event_type")
        .agg(F.sum("bc").cast("long").alias("below"))
    )
    target = (
        med_bin.join(below, "event_type", "left")
        .withColumn("below", F.coalesce("below", F.lit(0)))
        .withColumn("in_bin_rk", F.col("rk") - F.col("below"))
    )
    # ---- pass 2: sort only the median bucket's rows per group
    tgt = target.select(
        F.col("event_type").alias("et"),
        "median_bin",
        "in_bin_rk",
        "n_rows",
    )
    bucket_rows = c.join(
        F.broadcast(tgt),
        (c.event_type == F.col("et"))
        & (F.expr(f"cents DIV {_TPM_BIN}") == F.col("median_bin")),
    )
    wbin = W.partitionBy("et").orderBy("cents", "event_id")
    picked = (
        bucket_rows.withColumn("rn", F.row_number().over(wbin))
        .where(F.col("rn") == F.col("in_bin_rk"))
        .select(
            F.col("et").alias("event_type"),
            "n_rows",
            F.col("cents").alias("median_cents"),
            "median_bin",
        )
    )
    bin_counts = binned.select(
        F.col("event_type").alias("et2"),
        F.col("bin").alias("bin2"),
        F.col("bc"),
    )
    return picked.join(
        F.broadcast(bin_counts),
        (picked.event_type == F.col("et2"))
        & (picked.median_bin == F.col("bin2")),
    ).select(
        "event_type",
        "n_rows",
        "median_cents",
        "median_bin",
        F.col("bc").alias("bin_rows"),
    )


# ------------------------------------------- bloom-join runtime filter

_BJ_M = 131072  # 2^17-bit filter
_BJ_K = 3
_BJ_WORDS = _BJ_M // 64


def _bj_pos_duck(i: int) -> str:
    key = duckdb_charhash("CAST(l_orderkey AS VARCHAR)")
    return f"(({key} * {2 * i + 3} + {101 * (i + 1)}) % {_BJ_M})"


def _bj_pos_duck_o(i: int) -> str:
    key = duckdb_charhash("CAST(o_orderkey AS VARCHAR)")
    return f"(({key} * {2 * i + 3} + {101 * (i + 1)}) % {_BJ_M})"


def _bj_pos_spark_o(i: int) -> str:
    key = spark_charhash("CAST(o_orderkey AS STRING)")
    return f"(({key} * {2 * i + 3} + {101 * (i + 1)}) % {_BJ_M})"


@register(
    "bloom_join_prefilter",
    oracle=f"""
    WITH small AS (
        SELECT o_orderkey FROM orders
        WHERE o_orderpriority = '1-URGENT'
          AND month(o_orderdate) = 3
    ),
    bits AS (
        SELECT DISTINCT pos FROM (
            {" UNION ALL ".join(f"SELECT {_bj_pos_duck_o(i).replace('l_orderkey', 'o_orderkey')} AS pos FROM small" for i in range(_BJ_K))}
        )
    ),
    keys AS (SELECT DISTINCT l_orderkey FROM lineitem),
    kpos AS (
        {" UNION ALL ".join(f"SELECT l_orderkey, {_bj_pos_duck(i)} AS pos FROM keys" for i in range(_BJ_K))}
    ),
    kpass AS (
        SELECT l_orderkey,
               CASE WHEN COUNT(bits.pos) = {_BJ_K} THEN 1 ELSE 0 END
                   AS passed
        FROM kpos LEFT JOIN bits USING (pos) GROUP BY l_orderkey
    ),
    flags AS (
        SELECT li.l_orderkey, kp.passed,
               CASE WHEN s.o_orderkey IS NOT NULL THEN 1 ELSE 0 END
                   AS matched,
               CAST(round(li.l_quantity) AS BIGINT) AS qty
        FROM lineitem li
        JOIN kpass kp ON kp.l_orderkey = li.l_orderkey
        LEFT JOIN small s ON s.o_orderkey = li.l_orderkey
    )
    SELECT CAST((SELECT COUNT(*) FROM small) AS BIGINT) AS small_keys,
           CAST(COUNT(*) AS BIGINT) AS li_rows,
           CAST(SUM(passed) AS BIGINT) AS bloom_passed,
           CAST(SUM(matched) AS BIGINT) AS true_matched,
           CAST(SUM(passed) - SUM(matched) AS BIGINT) AS false_passed,
           CAST(1000000 * (SUM(passed) - SUM(matched))
                // NULLIF(COUNT(*) - SUM(matched), 0) AS BIGINT)
               AS fp_ppm,
           CAST(SUM(CASE WHEN matched = 1 THEN qty ELSE 0 END) AS BIGINT)
               AS matched_qty
    FROM flags
    """,
    tags=("sketch", "join", "scale"),
    doc="Bloom-filter JOIN pre-filtering (the runtime-filter / "
    "sideways-information-passing pattern): the selective small side "
    "(urgent March orders) builds a k=3, m=2^17-bit portable bloom, "
    "compacted into a 2048-word BIGINT bitmap on ONE row and "
    "broadcast; the fact side tests membership with two shifts and "
    "an AND per hash — O(1) per row, map-side, BEFORE any shuffle. "
    "The output audits exactly what a runtime filter buys: rows "
    "passed, true matches, false passes (bloom FPs that a real "
    "pruned join would discard post-shuffle), and the fp rate in "
    "ppm of the prunable rows. Lossless by construction — the "
    "audited join result (matched rows/qty) is oracle-checked "
    "against the plain join. Scale: at 100 TB the bitmap is 16 KB "
    "broadcast against a shuffle that would otherwise move the full "
    "fact table; the oracle's key-join formulation is semantically "
    "identical membership.",
)
def bloom_join_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    lineitem = load_table(spark, "lineitem", sf_dir)
    small = orders.where(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.month("o_orderdate") == 3)
    ).select("o_orderkey")
    pos_o = [F.expr(_bj_pos_spark_o(i)) for i in range(_BJ_K)]
    bits = small.select(F.explode(F.array(*pos_o)).alias("pos")).distinct()
    # compact the bit positions into a 2048-word bitmap on ONE row —
    # the broadcastable runtime-filter artifact. Per-word masks fold
    # DISTRIBUTED (groupBy word + bit_or), then one cheap map lookup
    # per word densifies the array — not a single-row O(words x bits)
    # lambda fold
    wm = bits.groupBy(F.expr("pos DIV 64").alias("w")).agg(
        F.expr("bit_or(shiftleft(1L, CAST(pos % 64 AS INT)))").alias(
            "mask"
        )
    )
    bitmap = wm.agg(
        F.expr("map_from_entries(collect_list(struct(w, mask)))").alias("m")
    ).select(
        F.expr(
            f"transform(sequence(0, {_BJ_WORDS - 1}), w -> "
            "coalesce(element_at(m, CAST(w AS BIGINT)), 0L))"
        ).alias("bm")
    )
    # hoist the char-fold hash to ONE evaluation per row; the k
    # positions and their DIV/% reuses all derive from the column
    # (inlining the fold re-evaluates it 2k times per row)
    test = " AND ".join(
        f"((shiftright(bm[CAST((((h * {2 * i + 3} + {101 * (i + 1)})"
        f" % {_BJ_M})) DIV 64 AS INT)],"
        f" CAST((((h * {2 * i + 3} + {101 * (i + 1)}) % {_BJ_M}))"
        " % 64 AS INT)) & 1) = 1)"
        for i in range(_BJ_K)
    )
    flags = (
        lineitem.select("l_orderkey", "l_quantity")
        .withColumn(
            "h", F.expr(spark_charhash("CAST(l_orderkey AS STRING)"))
        )
        .crossJoin(F.broadcast(bitmap))
        .withColumn("passed", F.when(F.expr(test), 1).otherwise(0))
        .join(
            F.broadcast(small.withColumn("mk", F.lit(1))),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left",
        )
        .select(
            "passed",
            F.coalesce("mk", F.lit(0)).alias("matched"),
            F.expr("CAST(round(l_quantity) AS BIGINT)").alias("qty"),
        )
    )
    nsmall = small.agg(F.count(F.lit(1)).cast("long").alias("small_keys"))
    return flags.agg(
        F.count(F.lit(1)).cast("long").alias("li_rows"),
        F.sum("passed").cast("long").alias("bloom_passed"),
        F.sum("matched").cast("long").alias("true_matched"),
        (F.sum("passed") - F.sum("matched"))
        .cast("long")
        .alias("false_passed"),
        F.expr(
            "CAST(1000000 * (SUM(passed) - SUM(matched))"
            " DIV NULLIF(COUNT(*) - SUM(matched), 0) AS BIGINT)"
        ).alias("fp_ppm"),
        F.sum(F.when(F.col("matched") == 1, F.col("qty")).otherwise(0))
        .cast("long")
        .alias("matched_qty"),
    ).crossJoin(F.broadcast(nsmall)).select(
        "small_keys", "li_rows", "bloom_passed", "true_matched",
        "false_passed", "fp_ppm", "matched_qty",
    )


# ----------------------------------------------- HLL daily series


@register(
    "hll_daily_series",
    oracle=f"""
    WITH h AS (
        SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
                   AS day_num,
               user_id,
               {duckdb_charhash("CAST(user_id AS VARCHAR)")} AS hv
        FROM events
    ),
    reg AS (
        SELECT day_num, hv % {_HLL_M} AS bucket,
               MAX({_rho_case(f"hv // {_HLL_M}")}) AS rho
        FROM h GROUP BY day_num, bucket
    ),
    day_est AS (
        SELECT day_num, COUNT(*) AS n_filled,
               SUM(1.0 / CAST((1 << rho) AS DOUBLE)) AS s_filled
        FROM reg GROUP BY day_num
    ),
    day_corr AS (
        SELECT day_num,
               CASE WHEN CAST({_HLL_ALPHA} AS DOUBLE) * {_HLL_M * _HLL_M}
                         / (({_HLL_M} - n_filled) * 1.0 + s_filled)
                         <= {2.5 * _HLL_M} AND n_filled < {_HLL_M}
                    THEN {_HLL_M} * ln({_HLL_M} * 1.0
                                       / ({_HLL_M} - n_filled))
                    ELSE CAST({_HLL_ALPHA} AS DOUBLE) * {_HLL_M * _HLL_M}
                         / (({_HLL_M} - n_filled) * 1.0 + s_filled)
               END AS est
        FROM day_est
    ),
    day_exact AS (
        SELECT day_num, COUNT(DISTINCT user_id) AS exact_users
        FROM h GROUP BY day_num
    ),
    merged AS (
        SELECT bucket, MAX(rho) AS rho FROM reg GROUP BY bucket
    ),
    m_est AS (
        SELECT COUNT(*) AS n_filled,
               SUM(1.0 / CAST((1 << rho) AS DOUBLE)) AS s_filled
        FROM merged
    ),
    m_corr AS (
        SELECT CASE WHEN CAST({_HLL_ALPHA} AS DOUBLE) * {_HLL_M * _HLL_M}
                         / (({_HLL_M} - n_filled) * 1.0 + s_filled)
                         <= {2.5 * _HLL_M} AND n_filled < {_HLL_M}
                    THEN {_HLL_M} * ln({_HLL_M} * 1.0
                                       / ({_HLL_M} - n_filled))
                    ELSE CAST({_HLL_ALPHA} AS DOUBLE) * {_HLL_M * _HLL_M}
                         / (({_HLL_M} - n_filled) * 1.0 + s_filled)
               END AS est
        FROM m_est
    ),
    m_exact AS (SELECT COUNT(DISTINCT user_id) AS total_users FROM h)
    SELECT d.day_num,
           CAST(x.exact_users AS BIGINT) AS exact_users,
           ROUND(d.est, 4) AS hll_est,
           (SELECT CAST(total_users AS BIGINT) FROM m_exact)
               AS total_exact_users,
           (SELECT ROUND(est, 4) FROM m_corr) AS merged_hll_est
    FROM day_corr d JOIN day_exact x ON x.day_num = d.day_num
    """,
    tags=("sketch", "time", "events"),
    doc="Mergeable distinct-count time series: one HLL register set "
    "per day over user_id (same m=256 portable-hash registers as "
    "hll_distinct_audit), per-day estimate vs exact alongside the "
    "MERGED sketch (bucket-wise max across all days) vs the exact "
    "total — the property that makes pre-aggregated daily sketches "
    "answer any date-range distinct query without rescanning raw "
    "rows, which COUNT(DISTINCT) pre-aggregates cannot do. The "
    "2^-rho register sums are dyadic rationals (exact in doubles "
    "regardless of order), so the estimates are bit-reproducible "
    "across engines. Scale: registers are days x 256 rows; the "
    "merge is a bucket-keyed max — the daily sketch table IS the "
    "serving layer.",
)
def hll_daily_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    h = ev.select(
        F.expr(
            "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)"
        ).alias("day_num"),
        "user_id",
        F.expr(spark_charhash("cast(user_id as string)")).alias("hv"),
    ).localCheckpoint(eager=False)
    reg = (
        h.select(
            "day_num",
            (F.col("hv") % _HLL_M).alias("bucket"),
            F.expr(_rho_case(f"hv div {_HLL_M}")).alias("rho"),
        )
        .groupBy("day_num", "bucket")
        .agg(F.max("rho").alias("rho"))
        .localCheckpoint(eager=False)
    )

    def estimate(grouped: DataFrame, keys: list[str]) -> DataFrame:
        s = grouped.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n_filled"),
            F.sum(
                F.lit(1.0) / F.expr("cast(shiftleft(1, rho) as double)")
            ).alias("s_filled"),
        ) if keys else grouped.agg(
            F.count(F.lit(1)).alias("n_filled"),
            F.sum(
                F.lit(1.0) / F.expr("cast(shiftleft(1, rho) as double)")
            ).alias("s_filled"),
        )
        raw = (
            F.lit(float(_HLL_ALPHA))
            * _HLL_M
            * _HLL_M
            / ((_HLL_M - F.col("n_filled")) * 1.0 + F.col("s_filled"))
        )
        return s.select(
            *keys,
            raw.alias("raw"),
            "n_filled",
        ).select(
            *keys,
            F.expr(_hll_corrected("raw", "n_filled")).alias("est"),
        )

    day_est = estimate(reg, ["day_num"])
    merged = reg.groupBy("bucket").agg(F.max("rho").alias("rho"))
    m_est = estimate(merged, [])
    day_exact = h.groupBy("day_num").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    m_exact = h.agg(F.countDistinct("user_id").alias("total_users"))
    return (
        day_est.join(day_exact, "day_num")
        .crossJoin(F.broadcast(m_est.select(F.col("est").alias("m_est"))))
        .crossJoin(F.broadcast(m_exact))
        .select(
            "day_num",
            F.col("exact_users").cast("long").alias("exact_users"),
            F.round("est", 4).alias("hll_est"),
            F.col("total_users").cast("long").alias("total_exact_users"),
            F.round("m_est", 4).alias("merged_hll_est"),
        )
    )


# ------------------------------------- Misra-Gries heavy hitters

_MG_K = 64  # counters per partition summary; threshold = n / k


@register(
    "misra_gries_heavy_hitters",
    oracle=f"""
    WITH toks AS ({_TOKS_DUCK}),
    n AS (SELECT COUNT(*) AS c FROM toks),
    exact AS (SELECT tok, COUNT(*) AS exact_c FROM toks GROUP BY tok)
    SELECT tok,
           CAST(exact_c AS BIGINT) AS exact_c,
           CAST(exact_c * 1000000 // (SELECT c FROM n) AS BIGINT)
               AS share_ppm
    FROM exact
    WHERE exact_c * {_MG_K} > (SELECT c FROM n)
    """,
    tags=("sketch", "aggregate"),
    doc="Misra-Gries heavy hitters with exact verification: every "
    "partition builds a k-counter MG summary in one pass (bounded "
    "state regardless of token cardinality — the mergeable-summary "
    "property: an item with global count > n/k must survive at least "
    "one partition's summary, since sum_p(c_p - n_p/k) > 0 forces "
    "c_p > n_p/k somewhere), the union of candidates (<= k x "
    "partitions rows) is broadcast back, and only candidate tokens "
    "get exact counts — the final output is the EXACT set "
    "{{count*k > n}}, deterministic despite MG's order-dependence, "
    "so the oracle is plain SQL. At 100 TB this replaces an "
    "unboundedly wide exact groupBy with one bounded-state pass plus "
    "a groupBy over <= k*partitions candidate keys. MG stage is an "
    "Arrow mapInPandas (no row-at-a-time Python).",
)
def misra_gries_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    )

    def mg_summaries(batches):
        import pandas as pd

        # batch-merge formulation: vectorized value_counts per Arrow
        # batch, then the MG summary MERGE (add counts; if over k
        # counters, subtract the (k+1)-th largest and drop <=0). Same
        # c_hat >= c - n/k guarantee as item-at-a-time MG, without a
        # per-token Python loop.
        counters: dict[str, int] = {}
        for pdf in batches:
            for tok, c in pdf["tok"].value_counts().items():
                counters[tok] = counters.get(tok, 0) + int(c)
            if len(counters) > _MG_K:
                kth = sorted(counters.values(), reverse=True)[_MG_K]
                counters = {
                    t: c - kth for t, c in counters.items() if c > kth
                }
        yield pd.DataFrame({"tok": list(counters.keys())})

    candidates = (
        toks.mapInPandas(mg_summaries, "tok string").distinct()
    )
    total = toks.agg(F.count(F.lit(1)).alias("c"))
    exact = (
        toks.join(F.broadcast(candidates), "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_c"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .where(F.col("exact_c") * _MG_K > F.col("c"))
        .select(
            "tok",
            F.col("exact_c").cast("long").alias("exact_c"),
            F.expr("CAST(exact_c * 1000000 DIV c AS BIGINT)").alias(
                "share_ppm"
            ),
        )
    )


# ------------------------------------- KMV (theta) sketch set algebra

_KMV_K = 256
_KMV_MOD = 1_000_000_007
# integer id hash: reduce BEFORE multiplying so the product stays
# under int64 even for probe-shifted ids (~1e10)
_KMV_H = (
    "((user_id % 1000000007) * 2654435761 + 40503) % 1000000007"
)


def _kmv_sql(div: str) -> str:
    """Engine-shared KMV query text; ``div`` is the integer-division
    token (Spark ``DIV``, DuckDB ``//``) — the only dialect delta."""
    k, m = _KMV_K, _KMV_MOD
    est_u = f"({k - 1} * CAST({m} AS BIGINT)) {div} thu"
    return f"""
    WITH a_ids AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
    ),
    b_ids AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    ),
    ha AS (SELECT DISTINCT {_KMV_H} AS h FROM a_ids),
    hb AS (SELECT DISTINCT {_KMV_H} AS h FROM b_ids),
    ka AS (SELECT h FROM ha ORDER BY h LIMIT {k}),
    kb AS (SELECT h FROM hb ORDER BY h LIMIT {k}),
    u AS (
        SELECT DISTINCT h FROM (
            SELECT h FROM ka UNION ALL SELECT h FROM kb
        ) z
    ),
    ku AS (SELECT h FROM u ORDER BY h LIMIT {k}),
    stats AS (
        SELECT
            (SELECT COUNT(*) FROM a_ids) AS ea,
            (SELECT COUNT(*) FROM b_ids) AS eb,
            (SELECT COUNT(*) FROM (
                SELECT user_id FROM a_ids
                UNION SELECT user_id FROM b_ids) x) AS eu,
            (SELECT COUNT(*) FROM (
                SELECT user_id FROM a_ids
                INTERSECT SELECT user_id FROM b_ids) x) AS ei,
            (SELECT COUNT(*) FROM ha) AS nha,
            (SELECT COUNT(*) FROM hb) AS nhb,
            (SELECT COUNT(*) FROM u) AS nu,
            (SELECT MAX(h) FROM ka) AS tha,
            (SELECT MAX(h) FROM kb) AS thb,
            (SELECT MAX(h) FROM ku) AS thu,
            (SELECT COUNT(*) FROM ku
              JOIN ka ON ku.h = ka.h JOIN kb ON ku.h = kb.h) AS matches
        FROM (SELECT 1 AS one) o
    )
    SELECT CAST(ea AS BIGINT) AS exact_a,
           CAST(eb AS BIGINT) AS exact_b,
           CAST(eu AS BIGINT) AS exact_union,
           CAST(ei AS BIGINT) AS exact_inter,
           CAST(CASE WHEN nha <= {k} THEN nha
                ELSE ({k - 1} * CAST({m} AS BIGINT)) {div} tha END
               AS BIGINT) AS est_a,
           CAST(CASE WHEN nhb <= {k} THEN nhb
                ELSE ({k - 1} * CAST({m} AS BIGINT)) {div} thb END
               AS BIGINT) AS est_b,
           CAST(CASE WHEN nu <= {k} THEN nu
                ELSE {est_u} END AS BIGINT) AS est_union,
           CAST(CASE WHEN nu <= {k} THEN matches
                ELSE (matches * ({est_u})) {div} {k} END
               AS BIGINT) AS est_inter
    FROM stats
    """


@register(
    "kmv_theta_setops",
    oracle=_kmv_sql("//"),
    tags=("sketch", "setops"),
    doc="KMV / theta-sketch set algebra (the Apache DataSketches theta "
    "family): each side keeps only its k=256 smallest distinct hash "
    "values — a mergeable, bounded summary; distinct-count estimate "
    "(k-1)*M/theta from the k-th smallest, union by re-truncating the "
    "merged sketch, intersection by counting sketch members present "
    "in both sides (est_inter = matches * est_union / k). Unlike HLL "
    "(hll_set_union_intersect), theta sketches support set "
    "INTERSECTION natively instead of inclusion-exclusion — the "
    "reason DataSketches deploys them for audience-overlap queries. "
    "Exact counts reported alongside for the error audit; below k "
    "distinct values the sketch is provably exact and the estimate "
    "switches to the count (pinned here). Fully deterministic: "
    "integer id hash (reduced mod M BEFORE the multiply so "
    "probe-shifted ids stay inside int64), k-smallest is an "
    "ORDER BY/LIMIT (TakeOrderedAndProject: per-partition top-k, one "
    "k-row merge — never a global sort), all arithmetic integer. "
    "Identical SQL text on both engines modulo the DIV token. Ref "
    "parity: beyond-reference sketch algebra.",
)
def kmv_theta_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, "events", sf_dir).createOrReplaceTempView("events")
    return spark.sql(_kmv_sql("DIV"))


# ------------------------------------------------ Bloom-filter audit

# The join-pruning sketch the other direction from KMV/CMS: a Bloom
# filter over the build side's keys lets a 100 TB probe side drop
# non-matching rows BEFORE the shuffle (Spark's own
# spark.sql.optimizer.runtime.bloomFilter does exactly this opaquely;
# this op builds the filter as DATA so the false-positive economics
# are measurable and oracle-checkable). m = 2^14 bits, k = 4
# positions per key via the fixed odd-multiplier permutation family
# (pure BIGINT arithmetic, bit-identical on both engines). The
# filter itself is the distinct set-bit table (<= m rows) — the
# representation a distributed build produces naturally (one distinct
# over positions), broadcastable at any scale since |bits| <= m.

_BLOOM_M = 1 << 14
_BLOOM_K = 4

_BLOOM_POS = ", ".join(
    f"((2 * {i} + 1) * ck + ({i} + 1) * 7919) % {_BLOOM_M}"
    for i in range(_BLOOM_K)
)


@register(
    "bloom_prune_audit",
    oracle=f"""
    WITH build AS (
        SELECT DISTINCT o_custkey AS ck FROM orders
    ),
    bits AS (
        SELECT DISTINCT unnest([{_BLOOM_POS}]) AS bit FROM build
    ),
    probe AS (
        SELECT c_custkey AS ck FROM customer
    ),
    probe_bits AS (
        SELECT ck, unnest([{_BLOOM_POS}]) AS bit FROM probe
    ),
    flagged AS (
        SELECT pb.ck
        FROM probe_bits pb JOIN bits USING (bit)
        GROUP BY pb.ck
        HAVING COUNT(DISTINCT bit) = {_BLOOM_K}
    ),
    member AS (
        SELECT ck FROM probe WHERE ck IN (SELECT ck FROM build)
    )
    SELECT CAST({_BLOOM_M} AS BIGINT) AS m_bits,
           CAST({_BLOOM_K} AS BIGINT) AS k_hashes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM build) AS n_build,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_set_bits,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM probe) AS n_probe,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM flagged) AS n_flagged,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM member) AS n_member,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM flagged
             WHERE ck NOT IN (SELECT ck FROM member)) AS n_fp,
           CAST((SELECT COUNT(*) FROM flagged
                  WHERE ck NOT IN (SELECT ck FROM member)) * 1000
                // NULLIF((SELECT COUNT(*) FROM probe)
                          - (SELECT COUNT(*) FROM member), 0) AS BIGINT)
               AS fp_permille
    """,
    tags=("sketch", "join", "infra"),
    doc="Bloom-filter join-prune audit, the sketch laid bare as data: "
    "build an m=16384-bit / k=4 filter over the DISTINCT order "
    "custkeys (positions from the fixed odd-multiplier permutation "
    "family — pure BIGINT arithmetic both engines compute "
    "identically), probe every customer, and report the measured "
    "false-positive economics against exact membership: a customer "
    "is FLAGGED when all 4 of its bit positions are set, a FALSE "
    "POSITIVE when flagged but orderless. No flagged member can be "
    "missed (no false negatives, pinned in pytest). Spark's own "
    "runtime bloomFilter rewrite does this opaquely inside the "
    "exchange; materializing it shows WHETHER the m/k budget pays at "
    "a given NDV — the audit a 100 TB prune decision needs. Scale: "
    "the filter is the distinct set-bit table (<= m rows, "
    "broadcastable by construction); build and probe are one distinct "
    "+ one m-bounded join each; nothing all-pairs. Ref parity: "
    "beyond-reference sketch layer.",
)
def bloom_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    build = orders.select(
        F.col("o_custkey").alias("ck")
    ).distinct().localCheckpoint(eager=False)
    pos_arr = f"array({_BLOOM_POS})"
    bits = (
        build.select(F.explode(F.expr(pos_arr)).alias("bit"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    probe = cust.select(F.col("c_custkey").alias("ck")).localCheckpoint(
        eager=False
    )
    probe_bits = probe.select("ck", F.explode(F.expr(pos_arr)).alias("bit"))
    flagged = (
        probe_bits.join(F.broadcast(bits), "bit")
        .groupBy("ck")
        .agg(F.countDistinct("bit").alias("nb"))
        .where(F.col("nb") == _BLOOM_K)
        .select("ck")
        .localCheckpoint(eager=False)
    )
    member = probe.join(build, "ck", "left_semi").localCheckpoint(
        eager=False
    )
    n_build = build.agg(F.count(F.lit(1)).cast("long").alias("n_build"))
    n_bits = bits.agg(F.count(F.lit(1)).cast("long").alias("n_set_bits"))
    n_probe = probe.agg(F.count(F.lit(1)).cast("long").alias("n_probe"))
    n_flagged = flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_flagged")
    )
    n_member = member.agg(
        F.count(F.lit(1)).cast("long").alias("n_member")
    )
    n_fp = flagged.join(member, "ck", "left_anti").agg(
        F.count(F.lit(1)).cast("long").alias("n_fp")
    )
    return (
        n_build.crossJoin(F.broadcast(n_bits))
        .crossJoin(F.broadcast(n_probe))
        .crossJoin(F.broadcast(n_flagged))
        .crossJoin(F.broadcast(n_member))
        .crossJoin(F.broadcast(n_fp))
        .select(
            F.lit(_BLOOM_M).cast("long").alias("m_bits"),
            F.lit(_BLOOM_K).cast("long").alias("k_hashes"),
            "n_build",
            "n_set_bits",
            "n_probe",
            "n_flagged",
            "n_member",
            "n_fp",
            F.expr(
                "CAST(n_fp * 1000 DIV NULLIF(n_probe - n_member, 0)"
                " AS BIGINT)"
            ).alias("fp_permille"),
        )
    )
