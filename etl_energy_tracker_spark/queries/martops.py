"""Round-6: data-mart / warehouse-hygiene operators.

The four shapes a BI-facing mart layer runs daily:

- ``fk_integrity_audit`` — referential-integrity sweep over every
  declared foreign key of the star schema (7 relationships), with
  orphan row/key counts — the DQ gate between staging and mart.
- ``copurchase_item_similarity`` — item-item co-occurrence cosine
  over order baskets with top-5 neighbors per item, the classic
  "bought together" recommender precompute.
- ``dow_hour_heatmap`` — day-of-week x hour activity heatmap with
  an independence-lift score per cell (does Tuesday-9am carry more
  than its margins predict) — the seasonality input to capacity
  planning and anomaly baselines.
- ``asof_join_next_purchase`` — FORWARD as-of join (smallest
  purchase timestamp at-or-after each click), the complement of
  ``asof_join_last_click``'s backward direction; pandas calls this
  ``merge_asof(direction='forward')``, Spark lacks it natively.

Engine parity: integer ppm arithmetic; the similarity ranking key is
one fixed-shape double ratio (exact ints in, identical IEEE ops) with
an integer tie-break; dow is pinned to Monday=0 explicitly on both
engines (Spark ``dayofweek`` is Sunday=1, DuckDB ``isodow`` is
Monday=1 — both mapped, never used raw).

Ref parity: beyond-reference mart/BI operators; the reference
(jcostac/ETL-Energy-Tracker) has no mart layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..sources.registry import load_table
from .catalog import register

# ---------------------------------------------- FK integrity audit

# (label, child table, child key, parent table, parent key)
_FK_RELS = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey",
     "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
     "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey",
     "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey",
     "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey",
     "region", "r_regionkey"),
)


def _fk_duck_one(label, child, ck, parent, pk) -> str:
    return f"""
    SELECT '{label}' AS relationship,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT c.{ck}) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS orphan_rows,
           CAST(COUNT(DISTINCT CASE WHEN p.{pk} IS NULL
                      THEN c.{ck} END) AS BIGINT) AS orphan_keys,
           CAST(1000000 * SUM(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END)
                // NULLIF(COUNT(*), 0) AS BIGINT) AS orphan_ppm
    FROM {child} c LEFT JOIN {parent} p ON c.{ck} = p.{pk}
    """


@register(
    "fk_integrity_audit",
    oracle=" UNION ALL ".join(
        _fk_duck_one(*rel) for rel in _FK_RELS
    ),
    tags=("quality", "tpch", "audit"),
    doc="Referential-integrity audit over the star schema's 7 "
    "declared foreign keys: per relationship, child rows, distinct "
    "child keys, orphan rows/keys (child keys with no parent), and "
    "orphan ppm — the staging-to-mart DQ gate; a healthy warehouse "
    "reports all zeros, and the pytest proves the detector fires on "
    "an injected orphan. Scale: each relationship is one left join "
    "on its key (parents nation/region/supplier/customer broadcast; "
    "lineitem->orders co-partitions on the shared key) feeding one "
    "map-side-combinable aggregate; relationships are independent "
    "and union to a 7-row report.",
)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    # only the constant-size dims get an explicit broadcast; supplier/
    # customer/orders/part are SF-scaled, AQE decides for them
    small_parents = {"nation", "region"}
    for label, child, ck, parent, pk in _FK_RELS:
        c = load_table(spark, child, sf_dir)
        p = load_table(spark, parent, sf_dir).select(pk)
        if parent in small_parents:
            p = F.broadcast(p)
        joined = c.join(p, c[ck] == p[pk], "left")
        one = joined.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct(ck).cast("long").alias("n_keys"),
            F.sum(F.when(F.col(pk).isNull(), 1).otherwise(0))
            .cast("long")
            .alias("orphan_rows"),
            F.countDistinct(
                F.when(F.col(pk).isNull(), F.col(ck))
            )
            .cast("long")
            .alias("orphan_keys"),
            F.expr(
                # NULLIF: an empty child table makes COUNT(*) = 0 and
                # Spark's ANSI DIV would throw where DuckDB NULLs
                f"CAST(1000000 * SUM(CASE WHEN {pk} IS NULL THEN 1 "
                f"ELSE 0 END) DIV NULLIF(COUNT(*), 0) AS BIGINT)"
            ).alias("orphan_ppm"),
        ).select(F.lit(label).alias("relationship"), "*")
        out = one if out is None else out.unionByName(one)
    return out


# ------------------------------------- co-purchase item similarity

_CP_TOPK = 5

_CP_RATIO = (
    "CAST(c AS DOUBLE) * CAST(c AS DOUBLE) / "
    "(CAST(n_part AS DOUBLE) * CAST(n_neighbor AS DOUBLE))"
)
_CP_COS = (
    "CAST(FLOOR(1000000.0 * CAST(c AS DOUBLE) / "
    "SQRT(CAST(n_part AS DOUBLE) * CAST(n_neighbor AS DOUBLE))) "
    "AS BIGINT)"
)


@register(
    "copurchase_item_similarity",
    oracle=f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    freq AS (
        SELECT l_partkey, COUNT(*) AS n FROM li GROUP BY l_partkey
    ),
    pairs AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS c
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY p1, p2
    ),
    sym AS (
        SELECT p1 AS part, p2 AS neighbor, c FROM pairs
        UNION ALL
        SELECT p2 AS part, p1 AS neighbor, c FROM pairs
    ),
    scored AS (
        SELECT s.part, s.neighbor, s.c,
               f1.n AS n_part, f2.n AS n_neighbor
        FROM sym s
        JOIN freq f1 ON f1.l_partkey = s.part
        JOIN freq f2 ON f2.l_partkey = s.neighbor
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY part
                   ORDER BY {_CP_RATIO} DESC, neighbor
               ) AS rk
        FROM scored
    )
    SELECT CAST(part AS BIGINT) AS part,
           CAST(neighbor AS BIGINT) AS neighbor,
           CAST(c AS BIGINT) AS copurchases,
           CAST(rk AS BIGINT) AS rank,
           {_CP_COS} AS cosine_ppm
    FROM ranked WHERE rk <= {_CP_TOPK}
    """,
    tags=("join", "behavior", "tpch"),
    doc="Item-item 'bought together' similarity: distinct "
    "(order, part) baskets, within-order part pairs (p1 < p2 then "
    "symmetrized), cosine = c/sqrt(n_i*n_j) against per-part order "
    "counts, top-5 neighbors per part. The ranking key is "
    "c^2/(n_i*n_j) — ONE double ratio built from exact integers, "
    "identical IEEE ops on both engines, neighbor-id tie-break — "
    "and the reported cosine is a single FLOOR'd ppm chain. Scale: "
    "pair fan-out is sum over orders of k^2 with k = parts per "
    "order (bounded, ~4-7 in practice) — never all-pairs over the "
    "catalog; the top-k window partitions by part. A hot mega-"
    "basket would need the same df-cap guard as the shingle join "
    "(documented, not needed on order data).",
)
def copurchase_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, "lineitem", sf_dir)
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    freq = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    b = li.select(
        F.col("l_orderkey"), F.col("l_partkey").alias("p2")
    )
    pairs = (
        li.join(b, "l_orderkey")
        .where(F.col("l_partkey") < F.col("p2"))
        .groupBy(F.col("l_partkey").alias("p1"), "p2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sym = pairs.select(
        F.col("p1").alias("part"), F.col("p2").alias("neighbor"), "c"
    ).unionByName(
        pairs.select(
            F.col("p2").alias("part"), F.col("p1").alias("neighbor"), "c"
        )
    )
    scored = (
        sym.join(
            freq.select(
                F.col("l_partkey").alias("part"),
                F.col("n").alias("n_part"),
            ),
            "part",
        )
        .join(
            freq.select(
                F.col("l_partkey").alias("neighbor"),
                F.col("n").alias("n_neighbor"),
            ),
            "neighbor",
        )
    )
    ranked = scored.select(
        "*",
        F.row_number()
        .over(
            W.partitionBy("part").orderBy(
                F.expr(_CP_RATIO).desc(), "neighbor"
            )
        )
        .alias("rk"),
    )
    return ranked.where(F.col("rk") <= _CP_TOPK).select(
        F.col("part").cast("long").alias("part"),
        F.col("neighbor").cast("long").alias("neighbor"),
        F.col("c").cast("long").alias("copurchases"),
        F.col("rk").cast("long").alias("rank"),
        F.expr(_CP_COS).alias("cosine_ppm"),
    )


# ------------------------------------------- dow x hour heatmap


@register(
    "dow_hour_heatmap",
    oracle="""
    WITH base AS (
        SELECT CAST(EXTRACT(isodow FROM ts) - 1 AS BIGINT) AS dow,
               CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr,
               CAST(FLOOR(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    cell AS (
        SELECT dow, hr, COUNT(*) AS n,
               CAST(SUM(cents) AS BIGINT) AS value_cents
        FROM base GROUP BY dow, hr
    )
    SELECT dow, hr,
           CAST(n AS BIGINT) AS n_events,
           value_cents,
           CAST(1000000 * n * SUM(n) OVER ()
                // (SUM(n) OVER (PARTITION BY dow)
                    * SUM(n) OVER (PARTITION BY hr)) AS BIGINT)
               AS lift_ppm
    FROM cell
    """,
    tags=("time", "events", "aggregate"),
    doc="Day-of-week x hour activity heatmap with independence "
    "lift: per cell, event count, value total (cents), and "
    "lift = n * N / (rowsum * colsum) in ppm — >1e6 means the cell "
    "carries more traffic than its margins predict (true weekly "
    "seasonality, not just 'mornings are busy'). Weekday is pinned "
    "Monday=0 via isodow-1 (DuckDB) == (dayofweek+5)%7 (Spark) — "
    "the raw functions disagree on week start and are never used "
    "unmapped. Scale: one map-side-combinable aggregate collapses "
    "the corpus to <=168 cells; the margin windows run on the cell "
    "table only.",
)
def dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    cell = ev.select(
        F.expr("CAST((dayofweek(ts) + 5) % 7 AS BIGINT)").alias("dow"),
        F.hour("ts").cast("long").alias("hr"),
        F.expr("CAST(FLOOR(value * 100) AS BIGINT)").alias("cents"),
    ).groupBy("dow", "hr").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("long").alias("value_cents"),
    )
    return cell.select(
        "dow",
        "hr",
        F.col("n").cast("long").alias("n_events"),
        "value_cents",
        F.expr(
            "CAST(1000000 * n * SUM(n) OVER () "
            "DIV (SUM(n) OVER (PARTITION BY dow) "
            "* SUM(n) OVER (PARTITION BY hr)) AS BIGINT)"
        ).alias("lift_ppm"),
    )


# ------------------------------------------ forward as-of join


@register(
    "asof_join_next_purchase",
    oracle="""
    SELECT c.event_id, c.user_id, c.ts,
           p.ts AS next_purchase_at, p.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND p.ts >= c.ts
    """,
    tags=("join", "asof", "window"),
    doc="FORWARD as-of join (complement of asof_join_last_click): "
    "for each click, the EARLIEST purchase at-or-after it by the "
    "same user — pandas merge_asof(direction='forward'), which "
    "Spark lacks natively. Implemented as the union-stream window: "
    "tag both sides, one ascending sort per user with clicks "
    "ordered before same-timestamp purchases (so >= includes ties), "
    "then first purchase timestamp/value over [current row, "
    "unbounded following] — a single shuffle on the user key, vs "
    "an O(n*m) theta join. Oracle is DuckDB's native forward ASOF "
    "JOIN, an independent formulation. Scale: per-user range-"
    "partitioned sort, no pair formation.",
)
def asof_join_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    stream = ev.where(
        F.col("event_type").isin("click", "purchase")
    ).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        # clicks sort before same-ts purchases so the frame starting
        # at the click row still sees an equal-timestamp purchase
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias(
            "side"
        ),
        F.when(
            F.col("event_type") == "purchase", F.col("ts")
        ).alias("_purchase_ts"),
        F.when(
            F.col("event_type") == "purchase", F.col("value")
        ).alias("_purchase_value"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    return (
        stream.select(
            "event_id",
            "user_id",
            "ts",
            "event_type",
            F.first("_purchase_ts", ignorenulls=True)
            .over(w)
            .alias("next_purchase_at"),
            F.first("_purchase_value", ignorenulls=True)
            .over(w)
            .alias("purchase_value"),
        )
        .where(F.col("event_type") == "click")
        .drop("event_type")
    )


# ------------------------------------- order-total reconciliation

# integer money units: micro = cents x 1e4 (price x 1e6) — the
# charge ep*(1-disc)*(1+tax) lands exactly on micro units when all
# three inputs are 2-decimal money (they are; the DECIMAL(38,2)
# cast strips float representation noise first, the idiom proven by
# cdcops' checksum op)
_REC_EP = "CAST(CAST(l_extendedprice AS DECIMAL(38,2)) * 100 AS BIGINT)"
_REC_D = "CAST(CAST(l_discount AS DECIMAL(38,2)) * 100 AS BIGINT)"
_REC_T = "CAST(CAST(l_tax AS DECIMAL(38,2)) * 100 AS BIGINT)"
_REC_TOL_MICRO = 10_000  # 1 cent


@register(
    "order_total_reconciliation",
    oracle=f"""
    WITH comp AS (
        SELECT l_orderkey,
               SUM({_REC_EP} * (100 - {_REC_D}) * (100 + {_REC_T}))
                   AS comp_micro
        FROM lineitem GROUP BY l_orderkey
    ),
    diffs AS (
        SELECT o.o_orderstatus AS status,
               ABS(CAST(CAST(o.o_totalprice AS DECIMAL(38,2)) * 100
                        AS BIGINT) * 10000
                   - COALESCE(c.comp_micro, 0)) AS adiff
        FROM orders o LEFT JOIN comp c ON o.o_orderkey = c.l_orderkey
    ),
    hist AS (
        SELECT status, adiff, COUNT(*) AS cnt
        FROM diffs GROUP BY status, adiff
    ),
    cum AS (
        SELECT status, adiff, cnt,
               SUM(cnt) OVER (
                   PARTITION BY status ORDER BY adiff
               ) AS cum_c,
               SUM(cnt) OVER (PARTITION BY status) AS n
        FROM hist
    ),
    med AS (
        SELECT status, MIN(adiff) AS median_adiff
        FROM cum WHERE 2 * cum_c >= n GROUP BY status
    )
    SELECT h.status,
           CAST(SUM(h.cnt) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN h.adiff > {_REC_TOL_MICRO}
                    THEN h.cnt ELSE 0 END) AS BIGINT) AS n_mismatch,
           CAST(1000000 * SUM(CASE WHEN h.adiff > {_REC_TOL_MICRO}
                    THEN h.cnt ELSE 0 END) // SUM(h.cnt) AS BIGINT)
               AS mismatch_ppm,
           CAST(MAX(h.adiff) // 10000 AS BIGINT) AS max_adiff_cents,
           CAST(MIN(m.median_adiff) // 10000 AS BIGINT)
               AS median_adiff_cents
    FROM hist h JOIN med m ON h.status = m.status
    GROUP BY h.status
    """,
    tags=("quality", "tpch", "audit"),
    doc="Warehouse reconciliation audit: recompute each order's "
    "total from its line items (sum of extendedprice*(1-discount)*"
    "(1+tax), exact integer micro-units off DECIMAL-stripped "
    "2-decimal money) and compare against the stated o_totalprice; "
    "per order status, mismatch count/ppm beyond a 1-cent "
    "tolerance, max and exact median absolute discrepancy. On this "
    "synthetic data the totals deliberately do NOT reconcile — the "
    "report quantifies the discrepancy distribution, which is the "
    "operator's whole job. Scale: one lineitem aggregate "
    "co-partitioned with orders on the order key, then a distinct-"
    "difference histogram per status (bounded) carries the exact "
    "median — no raw-row sort.",
)
def order_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    comp = li.groupBy("l_orderkey").agg(
        F.expr(
            f"SUM({_REC_EP} * (100 - {_REC_D}) * (100 + {_REC_T}))"
        ).alias("comp_micro")
    )
    diffs = (
        orders.join(comp, orders.o_orderkey == comp.l_orderkey, "left")
        .select(
            F.col("o_orderstatus").alias("status"),
            F.expr(
                "ABS(CAST(CAST(o_totalprice AS DECIMAL(38,2)) * 100 "
                "AS BIGINT) * 10000 - COALESCE(comp_micro, 0))"
            ).alias("adiff"),
        )
    )
    hist = (
        diffs.groupBy("status", "adiff")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    cum = hist.select(
        "status",
        "adiff",
        F.sum("cnt")
        .over(W.partitionBy("status").orderBy("adiff"))
        .alias("cum_c"),
        F.sum("cnt").over(W.partitionBy("status")).alias("n"),
    )
    med = (
        cum.where(2 * F.col("cum_c") >= F.col("n"))
        .groupBy("status")
        .agg(F.min("adiff").alias("median_adiff"))
    )
    return hist.join(med, "status").groupBy("status").agg(
        F.sum("cnt").cast("long").alias("n_orders"),
        F.sum(
            F.when(F.col("adiff") > _REC_TOL_MICRO, F.col("cnt")).otherwise(0)
        )
        .cast("long")
        .alias("n_mismatch"),
        F.expr(
            f"CAST(1000000 * SUM(CASE WHEN adiff > {_REC_TOL_MICRO} "
            f"THEN cnt ELSE 0 END) DIV SUM(cnt) AS BIGINT)"
        ).alias("mismatch_ppm"),
        F.expr("CAST(MAX(adiff) DIV 10000 AS BIGINT)").alias(
            "max_adiff_cents"
        ),
        F.expr("CAST(MIN(median_adiff) DIV 10000 AS BIGINT)").alias(
            "median_adiff_cents"
        ),
    )


# --------------------------------------- co-purchase modularity

_GM_CONTRIB = (
    "CAST(FLOOR(1000000.0 * (CAST(m_cc AS DOUBLE) / CAST(m AS DOUBLE) "
    "- (CAST(deg_c AS DOUBLE) / (2.0 * CAST(m AS DOUBLE))) "
    "* (CAST(deg_c AS DOUBLE) / (2.0 * CAST(m AS DOUBLE))))) AS BIGINT)"
)


@register(
    "graph_modularity_score",
    oracle=f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS c
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY p1, p2
    ),
    lab AS (
        SELECT pr.p1, pr.p2, pr.c,
               b1.p_brand AS brand1, b2.p_brand AS brand2
        FROM pairs pr
        JOIN part b1 ON b1.p_partkey = pr.p1
        JOIN part b2 ON b2.p_partkey = pr.p2
    ),
    total AS (SELECT SUM(c) AS m FROM lab),
    intra AS (
        SELECT brand1 AS brand, SUM(c) AS m_cc
        FROM lab WHERE brand1 = brand2 GROUP BY brand1
    ),
    deg AS (
        SELECT brand, SUM(c) AS deg_c FROM (
            SELECT brand1 AS brand, c FROM lab
            UNION ALL SELECT brand2 AS brand, c FROM lab
        ) GROUP BY brand
    )
    SELECT d.brand,
           CAST(COALESCE(i.m_cc, 0) AS BIGINT) AS intra_weight,
           CAST(d.deg_c AS BIGINT) AS degree_weight,
           (SELECT CAST(m AS BIGINT) FROM total) AS total_weight,
           (SELECT {_GM_CONTRIB.replace("m_cc", "COALESCE(i.m_cc, 0)").replace("deg_c", "d.deg_c")}
            FROM total) AS contribution_ppm
    FROM deg d LEFT JOIN intra i ON d.brand = i.brand
    """,
    tags=("graph", "tpch", "stats"),
    doc="Newman modularity of the brand partition over the weighted "
    "co-purchase graph: Q = sum_c (m_cc/m - (deg_c/2m)^2) where "
    "m_cc is intra-community edge weight and deg_c the community "
    "degree — does 'same brand' explain which parts sell together "
    "(Q near 0 = the partition carries no structure, which is the "
    "truthful answer on random baskets, and the oracle confirms it "
    "exactly). Each community's contribution is ONE fixed-shape "
    "double expression from exact integer weights (identical IEEE "
    "ops both engines, floored to ppm). Scale: pair fan-out is "
    "basket-bounded (same as copurchase_item_similarity); "
    "everything after the pair table is brand-cardinality work.",
)
def graph_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, "lineitem", sf_dir)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    part = load_table(spark, "part", sf_dir).select(
        "p_partkey", "p_brand"
    )
    b = li.select(F.col("l_orderkey"), F.col("l_partkey").alias("p2"))
    pairs = (
        li.join(b, "l_orderkey")
        .where(F.col("l_partkey") < F.col("p2"))
        .groupBy(F.col("l_partkey").alias("p1"), "p2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    lab = (
        pairs.join(
            part.select(
                F.col("p_partkey").alias("p1"),
                F.col("p_brand").alias("brand1"),
            ),
            "p1",
        )
        .join(
            part.select(
                F.col("p_partkey").alias("p2"),
                F.col("p_brand").alias("brand2"),
            ),
            "p2",
        )
        .localCheckpoint(eager=False)
    )
    total = lab.agg(F.sum("c").alias("m"))
    intra = (
        lab.where(F.col("brand1") == F.col("brand2"))
        .groupBy(F.col("brand1").alias("brand"))
        .agg(F.sum("c").alias("m_cc"))
    )
    deg = (
        lab.select(F.col("brand1").alias("brand"), "c")
        .unionByName(lab.select(F.col("brand2").alias("brand"), "c"))
        .groupBy("brand")
        .agg(F.sum("c").alias("deg_c"))
    )
    return (
        deg.join(intra, "brand", "left")
        .withColumn("m_cc", F.coalesce("m_cc", F.lit(0)))
        .crossJoin(F.broadcast(total))
        .select(
            "brand",
            F.col("m_cc").cast("long").alias("intra_weight"),
            F.col("deg_c").cast("long").alias("degree_weight"),
            F.col("m").cast("long").alias("total_weight"),
            F.expr(_GM_CONTRIB).alias("contribution_ppm"),
        )
    )


# ----------------------------------------- brand month-over-month

_BM_REV = (
    "CAST(CAST(l_extendedprice AS DECIMAL(38,2)) * 100 AS BIGINT) "
    "* (100 - CAST(CAST(l_discount AS DECIMAL(38,2)) * 100 AS BIGINT))"
)


@register(
    "brand_month_movers",
    oracle=f"""
    WITH rev AS (
        SELECT p.p_brand AS brand,
               CAST(EXTRACT(year FROM l.l_shipdate) * 12
                    + EXTRACT(month FROM l.l_shipdate) AS BIGINT)
                   AS month_idx,
               CAST(SUM({_BM_REV.replace("l_extendedprice", "l.l_extendedprice").replace("l_discount", "l.l_discount")}) AS BIGINT)
                   AS rev_units
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY brand, month_idx
    ),
    mom AS (
        SELECT brand, month_idx, rev_units,
               LAG(rev_units) OVER (
                   PARTITION BY brand ORDER BY month_idx
               ) AS prev_units
        FROM rev
    )
    SELECT brand, month_idx, rev_units,
           CAST(1000000 * (rev_units - prev_units)
                // NULLIF(prev_units, 0) AS BIGINT) AS mom_ppm,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY month_idx
               ORDER BY 1000000 * (rev_units - prev_units)
                        // NULLIF(prev_units, 0) DESC, brand
           ) AS BIGINT) AS mover_rank
    FROM mom WHERE prev_units IS NOT NULL
    """,
    tags=("time", "tpch", "window"),
    doc="Month-over-month revenue movers per brand: discounted "
    "revenue in exact integer units per (brand, month), ppm change "
    "vs the brand's previous observed month (LAG over a gapless-or-"
    "not month index — 'previous observed' is the contract), and a "
    "per-month mover rank on the exact integer ppm with brand "
    "tie-break. The week-over-week BI staple, in month grain so "
    "both engines share the calendar function (ISO week-year "
    "pairing differs between them and is deliberately avoided). "
    "Scale: one join keyed on partkey, one (brand, month) "
    "aggregate — bounded table; both windows run on it.",
)
def brand_month_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir).select(
        "p_partkey", "p_brand"
    )
    rev = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.expr(
                "CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT)"
            ).alias("month_idx"),
        )
        .agg(F.expr(f"CAST(SUM({_BM_REV}) AS BIGINT)").alias("rev_units"))
    )
    mom = rev.select(
        "*",
        F.lag("rev_units")
        .over(W.partitionBy("brand").orderBy("month_idx"))
        .alias("prev_units"),
    ).where(F.col("prev_units").isNotNull())
    return mom.select(
        "brand",
        "month_idx",
        "rev_units",
        # NULLIF is belt-and-braces (revenue units are >= 90 by
        # construction) — ANSI DIV would throw where DuckDB NULLs
        F.expr(
            "CAST(1000000 * (rev_units - prev_units) "
            "DIV NULLIF(prev_units, 0) AS BIGINT)"
        ).alias("mom_ppm"),
        F.row_number()
        .over(
            W.partitionBy("month_idx").orderBy(
                F.expr(
                    "1000000 * (rev_units - prev_units) "
                    "DIV NULLIF(prev_units, 0)"
                ).desc(),
                "brand",
            )
        )
        .cast("long")
        .alias("mover_rank"),
    )


# --------------------------------------- Louvain first sweep

_LV_CONTRIB = (
    "CAST(FLOOR(1000000.0 * (CAST(m_cc AS DOUBLE) / CAST(m AS DOUBLE) "
    "- (CAST(deg_c AS DOUBLE) / (2.0 * CAST(m AS DOUBLE))) "
    "* (CAST(deg_c AS DOUBLE) / (2.0 * CAST(m AS DOUBLE))))) AS BIGINT)"
)


@register(
    "louvain_one_pass",
    oracle=f"""
    WITH RECURSIVE li AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY p1, p2
    ),
    sym AS (
        SELECT p1 AS i, p2 AS j, c FROM pairs
        UNION ALL SELECT p2, p1, c FROM pairs
    ),
    deg AS (SELECT i, CAST(SUM(c) AS BIGINT) AS k FROM sym GROUP BY i),
    total AS (SELECT CAST(SUM(c) AS BIGINT) AS m FROM pairs),
    scored AS (
        SELECT s.i, s.j,
               2 * t.m * s.c - di.k * dj.k AS score
        FROM sym s
        JOIN deg di ON di.i = s.i
        JOIN deg dj ON dj.i = s.j
        CROSS JOIN total t
    ),
    choice AS (
        SELECT i, j FROM (
            SELECT i, j, score, row_number() OVER (
                PARTITION BY i ORDER BY score DESC, j) AS rn
            FROM scored WHERE score > 0
        ) WHERE rn = 1
    ),
    edges AS (
        SELECT i AS a, j AS b FROM choice
        UNION ALL SELECT j, i FROM choice
    ),
    reach AS (
        SELECT a AS node, a AS lab FROM edges
        UNION
        SELECT e.b AS node, r.lab FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (
        SELECT node, MIN(lab) AS community_id FROM reach GROUP BY node
        UNION ALL
        SELECT d.i AS node, d.i AS community_id FROM deg d
        WHERE d.i NOT IN (SELECT node FROM reach)
    ),
    members AS (SELECT community_id, node FROM comp),
    intra AS (
        SELECT ca.community_id, CAST(SUM(p.c) AS BIGINT) AS m_cc
        FROM pairs p
        JOIN members ca ON ca.node = p.p1
        JOIN members cb ON cb.node = p.p2
         AND cb.community_id = ca.community_id
        GROUP BY ca.community_id
    ),
    cdeg AS (
        SELECT mm.community_id, CAST(SUM(d.k) AS BIGINT) AS deg_c,
               CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM members mm JOIN deg d ON d.i = mm.node
        GROUP BY mm.community_id
    )
    SELECT cd.community_id, cd.n_nodes,
           CAST(COALESCE(i.m_cc, 0) AS BIGINT) AS intra_weight,
           cd.deg_c AS degree_weight,
           (SELECT {_LV_CONTRIB.replace("m_cc", "COALESCE(i.m_cc, 0)").replace("deg_c", "cd.deg_c")}
            FROM total) AS contribution_ppm
    FROM cdeg cd LEFT JOIN intra i ON i.community_id = cd.community_id
    """,
    tags=("graph", "iterative", "tpch"),
    doc="Louvain community detection, first sweep (Blondel et al. "
    "2008) over the weighted co-purchase graph: from singleton "
    "communities, every node synchronously picks the neighbor whose "
    "community maximizes the modularity gain — for singletons "
    "proportional to 2m*w_ij - k_i*k_j, compared as EXACT BIGINTs "
    "(no float surface), tie-break smallest neighbor, no move when "
    "no positive gain — and the resulting choice graph's connected "
    "components are the sweep's communities (the standard "
    "distributed-Louvain formulation: synchronous argmax + CC "
    "contraction per round). Output: per-community size, intra "
    "weight, degree weight, and the Newman contribution in ppm "
    "(graph_modularity_score's fixed-shape expression — comparing "
    "its brand-partition Q against this sweep's Q measures how much "
    "structure the data actually holds). Scale: scoring is one join "
    "per edge endpoint on the degree table; argmax is a per-node "
    "window; CC is the large-star/small-star operator (per-round shuffle, "
    "lineage-truncated); basket-bounded pair fan-out as in "
    "copurchase_item_similarity. Ref parity: beyond-reference graph "
    "layer.",
)
def louvain_one_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup
    from ..session import shuffle_width

    li = (
        load_table(spark, "lineitem", sf_dir)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    b = li.select("l_orderkey", F.col("l_partkey").alias("p2"))
    pairs = (
        li.join(b, "l_orderkey")
        .where(F.col("l_partkey") < F.col("p2"))
        .groupBy(F.col("l_partkey").alias("p1"), "p2")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    sym = pairs.select(
        F.col("p1").alias("i"), F.col("p2").alias("j"), "c"
    ).unionByName(
        pairs.select(
            F.col("p2").alias("i"), F.col("p1").alias("j"), "c"
        )
    )
    deg = sym.groupBy("i").agg(F.sum("c").cast("long").alias("k"))
    total = pairs.agg(F.sum("c").cast("long").alias("m"))
    scored = (
        sym.join(deg.select(F.col("i"), F.col("k").alias("ki")), "i")
        .join(
            deg.select(F.col("i").alias("j"), F.col("k").alias("kj")),
            "j",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "i",
            "j",
            (2 * F.col("m") * F.col("c") - F.col("ki") * F.col("kj"))
            .cast("long")
            .alias("score"),
        )
    )
    wch = W.partitionBy("i").orderBy(F.desc("score"), F.col("j"))
    choice = (
        scored.where(F.col("score") > 0)
        .withColumn("rn", F.row_number().over(wch))
        .where(F.col("rn") == 1)
        .select("i", "j")
        # materialize here, at the full shuffle width: the lineage is
        # the pair+score+argmax job, and the CC phase below runs narrow
        .localCheckpoint(eager=True)
    )
    # The choice graph is tiny (<= one node per part), so the
    # per-round floor is task overhead: scope the shuffle width down
    # for the CC phase (the streaming-drive convention).
    with shuffle_width(spark, 8):
        comp = dedup.connected_components(choice, "i", "j").select(
            "node", F.col("component").alias("community_id")
        )
        comp = comp.localCheckpoint(eager=True)
    singles = deg.join(
        comp, deg.i == comp.node, "left_anti"
    ).select(F.col("i").alias("node"), F.col("i").alias("community_id"))
    members = comp.unionByName(singles).localCheckpoint(eager=False)
    ma = members.select(
        F.col("node").alias("p1"), F.col("community_id").alias("ca")
    )
    mb = members.select(
        F.col("node").alias("p2"), F.col("community_id").alias("cb")
    )
    intra = (
        pairs.join(ma, "p1")
        .join(mb, "p2")
        .where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community_id"))
        .agg(F.sum("c").cast("long").alias("m_cc"))
    )
    cdeg = (
        members.join(deg, members.node == deg.i)
        .groupBy("community_id")
        .agg(
            F.sum("k").cast("long").alias("deg_c"),
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
        )
    )
    return (
        cdeg.join(intra, "community_id", "left")
        .withColumn("m_cc", F.coalesce("m_cc", F.lit(0)))
        .crossJoin(F.broadcast(total))
        .select(
            "community_id",
            "n_nodes",
            F.col("m_cc").alias("intra_weight"),
            F.col("deg_c").alias("degree_weight"),
            F.expr(_LV_CONTRIB).alias("contribution_ppm"),
        )
    )
