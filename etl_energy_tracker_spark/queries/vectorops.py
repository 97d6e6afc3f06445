"""Similarity search over the `embeddings` table (array<float>, 64-d).

Brute-force cosine top-k is the exactness baseline: O(Q·N) dot
products as pure higher-order column expressions (zip_with +
aggregate), fully JVM-side, query side broadcast. The LSH-bucketed
variant (operators/similarity.py) is the 100 TB scale path — bucket
join instead of cross join; its recall is data-dependent so it gets a
rows-only check, while the math kernel is oracle-verified here.

Scores are rounded to 6 decimals on both engines before ranking so
float fold-order ulps cannot flip the hash or the top-k cut; ties
break on vec_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.hashing import duckdb_charhash
from ..operators.similarity import dot
from ..sources.registry import load_table
from .catalog import register

_N_QUERIES = 5
_TOP_K = 10


@register(
    "ann_cosine_topk",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv
        FROM embeddings WHERE vec_id < {_N_QUERIES}
    ),
    c AS (
        SELECT vec_id, embedding AS cv
        FROM embeddings WHERE vec_id >= {_N_QUERIES}
    ),
    scored AS (
        SELECT query_id, vec_id,
               ROUND(
                 list_sum(list_transform(range(1, 65),
                     i -> CAST(qv[CAST(i AS INT)] AS DOUBLE)
                          * CAST(cv[CAST(i AS INT)] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(range(1, 65),
                     i -> CAST(qv[CAST(i AS INT)] AS DOUBLE)
                          * CAST(qv[CAST(i AS INT)] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(range(1, 65),
                     i -> CAST(cv[CAST(i AS INT)] AS DOUBLE)
                          * CAST(cv[CAST(i AS INT)] AS DOUBLE))))),
               6) AS cosine
        FROM q CROSS JOIN c
    )
    SELECT query_id, vec_id, cosine FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, vec_id
        ) AS rn FROM scored
    ) WHERE rn <= {_TOP_K}
    """,
    tags=("vector", "topk"),
    doc="Brute-force cosine top-k: query set broadcast against the corpus, "
    "zip_with/aggregate dot products, per-query row_number cut.",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.where(F.col("vec_id") >= _N_QUERIES).select(
        "vec_id", F.col("embedding").alias("cv")
    )
    # norms hoisted out of the cross join (one fold per row, not three
    # per pair); the divisor is the same sqrt(q.q) * sqrt(c.c) product
    # in the same order, so every double is bit-identical
    q = q.withColumn("qn", F.sqrt(dot(F.col("qv"), F.col("qv"))))
    c = c.withColumn("cn", F.sqrt(dot(F.col("cv"), F.col("cv"))))
    scored = (
        c.crossJoin(F.broadcast(q))
        .withColumn(
            "cosine",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
                6,
            ),
        )
        .select("query_id", "vec_id", "cosine")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _TOP_K)
        .select("query_id", "vec_id", "cosine")
    )


_N_PLANES = 8


@register(
    "ann_lsh_bucketed",
    oracle=f"""
    WITH planes AS (
        SELECT p, d,
               (list_reduce(list_prepend(CAST(7 AS BIGINT),
                   list_transform(range(1, length('p' || p || 'd' || d) + 1),
                       i -> CAST(ascii(substr('p' || p || 'd' || d, CAST(i AS INT), 1)) AS BIGINT))),
                   (acc, x) -> (acc*31 + x) % 1000000007) % 2001) - 1000 AS w
        FROM (SELECT unnest(range(0, {_N_PLANES})) AS p),
             (SELECT unnest(range(0, 64)) AS d)
    ),
    proj AS (
        SELECT vec_id, p,
               SUM(CAST(embedding[CAST(d AS INT) + 1] AS DOUBLE) * w) AS s
        FROM embeddings CROSS JOIN planes
        GROUP BY vec_id, p
    ),
    buckets AS (
        SELECT vec_id,
               SUM(CASE WHEN s >= 0 THEN (1::BIGINT << CAST(p AS INT)) ELSE 0 END) AS bucket
        FROM proj GROUP BY vec_id
    ),
    q AS (
        SELECT b.vec_id AS query_id, bucket, embedding AS qv
        FROM buckets b JOIN embeddings e ON e.vec_id = b.vec_id
        WHERE b.vec_id < {_N_QUERIES}
    ),
    c AS (
        SELECT b.vec_id, bucket, embedding AS cv
        FROM buckets b JOIN embeddings e ON e.vec_id = b.vec_id
        WHERE b.vec_id >= {_N_QUERIES}
    ),
    scored AS (
        SELECT query_id, c.vec_id,
               ROUND(
                 list_sum(list_transform(range(1, 65),
                     i -> CAST(qv[CAST(i AS INT)] AS DOUBLE)
                          * CAST(cv[CAST(i AS INT)] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(range(1, 65),
                     i -> CAST(qv[CAST(i AS INT)] AS DOUBLE)
                          * CAST(qv[CAST(i AS INT)] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(range(1, 65),
                     i -> CAST(cv[CAST(i AS INT)] AS DOUBLE)
                          * CAST(cv[CAST(i AS INT)] AS DOUBLE))))),
               6) AS cosine
        FROM q JOIN c USING (bucket)
    )
    SELECT query_id, vec_id, cosine FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, vec_id
        ) AS rn FROM scored
    ) WHERE rn <= {_TOP_K}
    """,
    tags=("vector", "topk", "hash"),
    doc="LSH-bucketed approximate top-k — the 100 TB scale path: "
    "deterministic hyperplanes from the portable hash (no RNG state to "
    "broadcast), sign-pattern bucket join instead of a cross join, "
    "exact cosine rescoring within buckets. Bit-for-bit oracle-checked "
    "because the planes are engine-portable.",
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import lsh_topk

    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.where(F.col("vec_id") < _N_QUERIES)
    c = emb.where(F.col("vec_id") >= _N_QUERIES)
    return lsh_topk(
        q, c, "vec_id", "vec_id", k=_TOP_K, n_planes=_N_PLANES
    ).withColumnRenamed("corpus_id", "vec_id")


@register(
    "embedding_norm_stats",
    oracle="""
    SELECT label,
           COUNT(*) AS n_vectors,
           ROUND(AVG(sqrt(list_sum(list_transform(range(1, 65),
               i -> CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                    * CAST(embedding[CAST(i AS INT)] AS DOUBLE))))), 4)
               AS avg_norm
    FROM embeddings
    GROUP BY label
    """,
    tags=("vector", "aggregate"),
    doc="Per-label embedding L2-norm statistics — vector column health "
    "check (aggregate over array<float> without exploding).",
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    norm = F.sqrt(dot(F.col("embedding"), F.col("embedding")))
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg(norm), 4).alias("avg_norm"),
    )


_NEAR_DUP_BANDS = 2


@register(
    "embedding_near_dup_pairs",
    oracle=f"""
    WITH params AS (
        SELECT CASE WHEN COUNT(*) <= 32 THEN 8
               ELSE GREATEST(8, CAST(ceil(log2(COUNT(*) / 32.0)) AS BIGINT))
               END AS np
        FROM embeddings
    ),
    planes AS (
        SELECT p, d,
               (list_reduce(list_prepend(CAST(7 AS BIGINT),
                   list_transform(string_split('p' || p || 'd' || d, ''),
                       c -> CAST(ascii(c) AS BIGINT))),
                   (acc, x) -> (acc*31 + x) % 1000000007) % 2001) - 1000 AS w
        FROM (SELECT unnest(range(0, {_NEAR_DUP_BANDS}*np)) AS p FROM params),
             (SELECT unnest(range(0, 64)) AS d)
    ),
    proj AS (
        SELECT vec_id, p,
               SUM(CAST(embedding[CAST(d AS INT) + 1] AS DOUBLE) * w) AS s
        FROM embeddings CROSS JOIN planes
        GROUP BY vec_id, p
    ),
    buckets AS (
        SELECT vec_id, p // np AS band,
               SUM(CASE WHEN s >= 0 THEN (1::BIGINT << CAST(p % np AS INT)) ELSE 0 END) AS bucket
        FROM proj CROSS JOIN params
        GROUP BY vec_id, p // np
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, o.vec_id AS id_b
        FROM buckets a JOIN buckets o
          ON a.band = o.band AND a.bucket = o.bucket AND a.vec_id < o.vec_id
    ),
    v AS (
        SELECT vec_id, embedding AS ev,
               sqrt(list_sum(list_transform(range(1, 65),
                   i -> CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                        * CAST(embedding[CAST(i AS INT)] AS DOUBLE)))) AS n
        FROM embeddings
    ),
    pairs AS (
        SELECT id_a, id_b,
               ROUND(list_sum(list_transform(range(1, 65),
                   i -> CAST(a.ev[CAST(i AS INT)] AS DOUBLE)
                        * CAST(o.ev[CAST(i AS INT)] AS DOUBLE)))
                   / (a.n * o.n), 6) AS cosine
        FROM cand JOIN v a ON a.vec_id = id_a JOIN v o ON o.vec_id = id_b
    )
    SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.45
    """,
    tags=("vector", "dedup", "hash"),
    doc="Embedding-cosine near-dup detection, scale-safe: bucket count "
    "scales with corpus size (2^planes per band, planes = "
    "max(8, ceil(log2(N/32))) — candidates stay near-linear instead "
    "of O(N²/256)), two independent plane-set bands recover recall, "
    "exact cosine (Arrow numpy kernel) only on candidates. The "
    "target-bucket constant dropped 500 -> 32 after the x30 probe "
    "measured a 300x cost at 30x data: with target 500 the plane "
    "count sat at its floor until N > 128k while clustered "
    "embeddings piled into hot sign-pattern buckets. Below N = 8192 "
    "both constants resolve identically, so driver-SF results are "
    "unchanged. Deterministic hyperplanes keep the approximate "
    "pipeline bit-for-bit oracle-checkable.",
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import near_dup_pairs

    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    # at scale this count comes from table statistics; a columnar
    # count(*) is metadata-cheap either way
    n = emb.count()
    return near_dup_pairs(
        emb, "vec_id", "embedding", 0.45, n, n_bands=_NEAR_DUP_BANDS
    ).select("id_a", "id_b", "cosine")


_COS64 = """ROUND(
    list_sum(list_transform(range(1, 65),
        i -> CAST({a}[CAST(i AS INT)] AS DOUBLE) * CAST({b}[CAST(i AS INT)] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(range(1, 65),
        i -> CAST({a}[CAST(i AS INT)] AS DOUBLE) * CAST({a}[CAST(i AS INT)] AS DOUBLE))))
     * sqrt(list_sum(list_transform(range(1, 65),
        i -> CAST({b}[CAST(i AS INT)] AS DOUBLE) * CAST({b}[CAST(i AS INT)] AS DOUBLE))))),
    6)"""


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS cv
        FROM embeddings WHERE vec_id >= 100 AND vec_id < 116
    ),
    corpus AS (
        SELECT vec_id AS corpus_id, embedding AS ev
        FROM embeddings WHERE vec_id >= {_N_QUERIES}
    ),
    queries AS (
        SELECT vec_id AS query_id, embedding AS qv
        FROM embeddings WHERE vec_id < {_N_QUERIES}
    ),
    c_cells AS (
        SELECT corpus_id, ev, centroid_id AS cell FROM (
            SELECT corpus_id, ev, centroid_id,
                   row_number() OVER (PARTITION BY corpus_id
                       ORDER BY {_COS64.format(a='ev', b='cv')} DESC, centroid_id) AS rk
            FROM corpus CROSS JOIN cent
        ) WHERE rk = 1
    ),
    q_cells AS (
        SELECT query_id, qv, centroid_id AS cell FROM (
            SELECT query_id, qv, centroid_id,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY {_COS64.format(a='qv', b='cv')} DESC, centroid_id) AS rk
            FROM queries CROSS JOIN cent
        ) WHERE rk <= 2
    ),
    scored AS (
        SELECT query_id, corpus_id,
               {_COS64.format(a='qv', b='ev')} AS cosine
        FROM q_cells JOIN c_cells USING (cell)
    )
    SELECT query_id, corpus_id AS vec_id, cosine FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, corpus_id
        ) AS rn FROM scored
    ) WHERE rn <= {_TOP_K}
    """,
    tags=("vector", "topk"),
    doc="IVF approximate top-k — the codebook scale path beside LSH: "
    "corpus indexed to its nearest centroid (codebook = a deterministic "
    "16-vector subset standing in for a sampled k-means training pass), "
    "queries multi-probe their 2 nearest cells, exact cosine rescoring "
    "within probed cells. Bucket-then-rescore with a data-derived "
    "partition — oracle-checked end to end.",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk

    emb = load_table(spark, "embeddings", sf_dir)
    cent = emb.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 116)).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv")
    )
    q = emb.where(F.col("vec_id") < _N_QUERIES)
    c = emb.where(F.col("vec_id") >= _N_QUERIES)
    return ivf_topk(q, c, cent, "vec_id", "vec_id", k=_TOP_K, n_probe=2).withColumnRenamed(
        "corpus_id", "vec_id"
    )


# long-form cosine between vectors and centroids, for the k-means oracle
_KMEANS_SIM = """
    SELECT l.vec_id, c.cell,
           round(SUM(l.v * c.cv)
                 / (sqrt(SUM(l.v * l.v)) * sqrt(SUM(c.cv * c.cv))), 6) AS s
    FROM long l JOIN {cent} c USING (d)
    GROUP BY l.vec_id, c.cell
"""


@register(
    "ann_ivf_trained",
    oracle=f"""
    WITH long AS (
        SELECT vec_id, d, CAST(embedding[CAST(d AS INT) + 1] AS DOUBLE) AS v
        FROM embeddings, (SELECT unnest(range(0, 64)) AS d)
    ),
    a0 AS (SELECT vec_id, vec_id % 16 AS cell FROM embeddings),
    c0 AS (
        SELECT cell, d, round(avg(v), 4) AS cv
        FROM long JOIN a0 USING (vec_id) GROUP BY cell, d
    ),
    sim1 AS ({_KMEANS_SIM.format(cent='c0')}),
    a1 AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rk
            FROM sim1) WHERE rk = 1
    ),
    c1 AS (
        SELECT cell, d, round(avg(v), 4) AS cv
        FROM long JOIN a1 USING (vec_id) GROUP BY cell, d
    ),
    sim2 AS ({_KMEANS_SIM.format(cent='c1')}),
    ranked AS (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rk
        FROM sim2
    ),
    c_cells AS (
        SELECT r.vec_id AS corpus_id, r.cell, e.embedding AS ev
        FROM ranked r JOIN embeddings e ON e.vec_id = r.vec_id
        WHERE r.rk = 1 AND r.vec_id >= {_N_QUERIES}
    ),
    q_cells AS (
        SELECT r.vec_id AS query_id, r.cell, e.embedding AS qv
        FROM ranked r JOIN embeddings e ON e.vec_id = r.vec_id
        WHERE r.rk <= 2 AND r.vec_id < {_N_QUERIES}
    ),
    scored AS (
        SELECT query_id, corpus_id,
               {_COS64.format(a='qv', b='ev')} AS cosine
        FROM q_cells JOIN c_cells USING (cell)
    )
    SELECT query_id, corpus_id AS vec_id, cosine FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, corpus_id
        ) AS rn FROM scored
    ) WHERE rn <= {_TOP_K}
    """,
    tags=("vector", "topk"),
    doc="IVF top-k with a TRAINED codebook: deterministic k-means "
    "(init cell = vec_id mod k, per-dim means rounded to 4 dp as "
    "centroids, one Lloyd reassignment by rounded cosine with "
    "centroid-id tie-break), then the same bucket-then-rescore read "
    "path as ann_ivf_topk. Replaces round 1's fixed 16-vector codebook "
    "stand-in with a data-derived one while staying bit-for-bit "
    "oracle-checkable. In production the training input is a sample; "
    "the codebook is k×dim and broadcasts.",
)
def ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk, train_ivf_codebook

    emb = load_table(spark, "embeddings", sf_dir)
    cent = train_ivf_codebook(emb, "vec_id", "embedding", k=16, iters=1)
    q = emb.where(F.col("vec_id") < _N_QUERIES)
    c = emb.where(F.col("vec_id") >= _N_QUERIES)
    return ivf_topk(q, c, cent, "vec_id", "vec_id", k=_TOP_K, n_probe=2).withColumnRenamed(
        "corpus_id", "vec_id"
    )


@register(
    "cluster_balanced_sample",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS cv
        FROM embeddings WHERE vec_id >= 100 AND vec_id < 116
    ),
    assigned AS (
        SELECT vec_id, cell FROM (
            SELECT e.vec_id, centroid_id AS cell,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {_COS64.format(a='e.embedding', b='cv')} DESC,
                                centroid_id) AS rk
            FROM embeddings e CROSS JOIN cent
        ) WHERE rk = 1
    )
    SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY cell
                   ORDER BY {{h}}, vec_id) AS rn
        FROM assigned
    ) WHERE rn <= 20
    """.replace("{h}", duckdb_charhash("CAST(vec_id AS VARCHAR)")),
    tags=("vector", "corpus"),
    doc="Cluster-balanced diversity sampling: every embedding is "
    "assigned to its nearest codebook centroid (broadcast, same IVF "
    "assignment as the ANN path), then at most 20 docs are kept per "
    "cell, ordered by the portable id hash — a deterministic stand-in "
    "for per-cluster random sampling. This is the semantic-diversity "
    "counterpart of stratified_sample_docs: strata come from the "
    "embedding space, not a column. One shuffle (per-cell ranking) "
    "after a map-side broadcast assignment.",
)
def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import spark_charhash
    from ..operators.similarity import with_ivf_cell

    emb = load_table(spark, "embeddings", sf_dir)
    cent = emb.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 116)).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv")
    )
    assigned = with_ivf_cell(emb, cent, "embedding", "vec_id", n_probe=1)
    h = F.expr(spark_charhash("cast(vec_id as string)"))
    w = W.partitionBy("cell").orderBy(h.asc(), F.col("vec_id").asc())
    return (
        assigned.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 20)
        .select("vec_id", "cell")
    )


# --------------------------------------------------- int8 quantization

@register(
    "embedding_quantize_int8",
    oracle="""
    WITH per_dim AS (
        SELECT i AS pos,
               MIN(CAST(embedding[CAST(i AS INT)] AS DOUBLE)) AS mn,
               MAX(CAST(embedding[CAST(i AS INT)] AS DOUBLE)) AS mx
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
        GROUP BY i
    ),
    stats AS (
        SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs
        FROM per_dim
    ),
    coded AS (
        SELECT vec_id,
               list_transform(range(1, 65), i -> CASE
                   WHEN mxs[CAST(i AS INT)] = mns[CAST(i AS INT)] THEN 0
                   ELSE CAST(floor(
                       (CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                        - mns[CAST(i AS INT)])
                       / (mxs[CAST(i AS INT)] - mns[CAST(i AS INT)])
                       * 255.0) AS BIGINT) END) AS codes,
               embedding, mns, mxs
        FROM embeddings CROSS JOIN stats
    )
    SELECT vec_id,
           CAST(list_sum(codes) AS BIGINT) AS code_sum,
           list_min(codes) AS code_min,
           list_max(codes) AS code_max,
           CAST(floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, 65), i ->
                   abs(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                       - (mns[CAST(i AS INT)]
                          + CAST(codes[CAST(i AS INT)] AS DOUBLE) / 255.0
                            * (mxs[CAST(i AS INT)] - mns[CAST(i AS INT)]))))),
               (acc, x) -> acc + x) * 1000000) AS BIGINT) AS abs_err_micro
    FROM coded
    """,
    tags=("vector",),
    doc="Scalar int8 embedding quantization: per-dimension min/max over "
    "the corpus (map-side-combinable agg -> 64-row shuffle), stats "
    "broadcast back as one row, each vector floor-quantized to [0,255] "
    "codes with per-vector reconstruction error. 4x storage cut for "
    "ANN candidate scans. floor + micro-scaled integer error keep the "
    "output bit-identical across engines (no float rounding ties); "
    "degenerate (constant) dimensions code to 0. At 100 TB the stats "
    "pass is one tiny aggregate and the coding pass is map-only.",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    per_dim = (
        emb.select(F.posexplode("embedding").alias("pos", "v"))
        .groupBy("pos")
        .agg(
            F.min(F.col("v").cast("double")).alias("mn"),
            F.max(F.col("v").cast("double")).alias("mx"),
        )
    )
    stats = per_dim.agg(
        F.expr("transform(array_sort(collect_list(struct(pos, mn))), s -> s.mn)").alias("mns"),
        F.expr("transform(array_sort(collect_list(struct(pos, mx))), s -> s.mx)").alias("mxs"),
    )
    coded = emb.crossJoin(F.broadcast(stats)).withColumn(
        "codes",
        F.expr(
            "transform(sequence(0, 63), i -> CASE "
            "WHEN mxs[i] = mns[i] THEN 0L "
            "ELSE CAST(floor((CAST(embedding[i] AS DOUBLE) - mns[i]) "
            "/ (mxs[i] - mns[i]) * 255.0) AS BIGINT) END)"
        ),
    )
    err = F.expr(
        "aggregate(sequence(0, 63), CAST(0.0 AS DOUBLE), (acc, i) -> "
        "acc + abs(CAST(embedding[i] AS DOUBLE) "
        "- (mns[i] + CAST(codes[i] AS DOUBLE) / 255.0 * (mxs[i] - mns[i]))))"
    )
    return coded.select(
        "vec_id",
        F.expr("aggregate(codes, 0L, (acc, x) -> acc + x)").alias("code_sum"),
        F.array_min("codes").alias("code_min"),
        F.array_max("codes").alias("code_max"),
        F.floor(err * 1000000).cast("bigint").alias("abs_err_micro"),
    )


# ------------------------------------------- random projection (JL)

_RP_OUT = 8  # output dimensionality
_RP_DIM = 64  # input dimensionality


def _rp_sign(i: str, j: str) -> str:
    # deterministic ±1 from pure integer arithmetic — identical in any
    # SQL dialect, no RNG state and no hash-function parity to maintain
    return f"(CASE WHEN ({i} * 73 + {j} * 151) % 97 < 48 THEN 1 ELSE -1 END)"


@register(
    "random_projection_reduce",
    oracle=f"""
    SELECT vec_id,
           {", ".join(
               "CAST(list_sum(list_transform(range(0, " + str(_RP_DIM) + "), "
               "i -> " + _rp_sign("i", str(j)) + " * CAST(round(CAST("
               "embedding[CAST(i AS INT) + 1] AS DOUBLE) * 1000000) AS BIGINT)"
               ")) AS BIGINT) AS p" + str(j)
               for j in range(_RP_OUT))}
    FROM embeddings
    """,
    tags=("vector", "map-only"),
    doc="Johnson-Lindenstrauss random projection 64-d -> 8-d with a "
    "deterministic ±1 (Achlioptas) matrix derived from integer "
    "arithmetic: out_j = Σ_i sign(i,j)·emb_i. The standard cheap "
    "dimensionality reduction in front of clustering / dedup at "
    "corpus scale — map-only, zero shuffle, O(dim·out) per row, and "
    "the projection matrix is code, not state (nothing to broadcast "
    "or persist). Components are computed in exact integer "
    "micro-units (each input quantized once to 1e-6, then summed as "
    "BIGINT) so fold order cannot move the result on any engine.",
)
def random_projection_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    cols = [
        F.expr(
            f"aggregate(sequence(0, {_RP_DIM - 1}), 0L, (acc, i) -> "
            f"acc + {_rp_sign('i', str(j))} * CAST(round(CAST(embedding[i] "
            f"AS DOUBLE) * 1000000) AS BIGINT))"
        ).alias(f"p{j}")
        for j in range(_RP_OUT)
    ]
    return emb.select("vec_id", *cols)


# ------------------------------------------------- hard negative mining

_HN_ANCHORS = 20     # vec_id < 20 are the anchors
_HN_K = 5            # negatives mined per anchor
_HN_DUP_CUT = 0.95   # cosine >= this is a near-duplicate, not a negative


@register(
    "hard_negative_mining",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS cv
        FROM embeddings WHERE vec_id >= 100 AND vec_id < 116
    ),
    corpus AS (
        SELECT vec_id AS corpus_id, embedding AS ev, label AS neg_label
        FROM embeddings WHERE vec_id >= {_HN_ANCHORS}
    ),
    anchors AS (
        SELECT vec_id AS query_id, embedding AS qv, label AS anchor_label
        FROM embeddings WHERE vec_id < {_HN_ANCHORS}
    ),
    c_cells AS (
        SELECT corpus_id, ev, neg_label, centroid_id AS cell FROM (
            SELECT corpus_id, ev, neg_label, centroid_id,
                   row_number() OVER (PARTITION BY corpus_id
                       ORDER BY {_COS64.format(a='ev', b='cv')} DESC, centroid_id) AS rk
            FROM corpus CROSS JOIN cent
        ) WHERE rk = 1
    ),
    q_cells AS (
        SELECT query_id, qv, anchor_label, centroid_id AS cell FROM (
            SELECT query_id, qv, anchor_label, centroid_id,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY {_COS64.format(a='qv', b='cv')} DESC, centroid_id) AS rk
            FROM anchors CROSS JOIN cent
        ) WHERE rk <= 2
    ),
    scored AS (
        SELECT DISTINCT query_id, anchor_label, corpus_id, neg_label,
               {_COS64.format(a='qv', b='ev')} AS cosine
        FROM q_cells JOIN c_cells USING (cell)
        WHERE anchor_label != neg_label
    )
    SELECT query_id, anchor_label, corpus_id AS vec_id, neg_label, cosine
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, corpus_id
        ) AS rn FROM scored
        WHERE cosine < {_HN_DUP_CUT!r}
    ) WHERE rn <= {_HN_K}
    """,
    tags=("vector", "topk", "llm-prep"),
    doc="Hard-negative mining for contrastive training (the DPR/"
    "sentence-embedding fine-tuning data primitive): for each anchor, "
    "the highest-cosine corpus vectors whose LABEL differs — similar "
    "enough to be hard, provably not a positive — with near-duplicate "
    "candidates (cosine >= 0.95) excluded so false negatives don't "
    "poison the training batch. Candidates come from the anchor's 2 "
    "probed IVF cells, never the full corpus: the same codebook "
    "assignment the ANN path uses, so mining cost per anchor is "
    "bounded by cell size. At 100 TB the anchor side is the small "
    "relation (a training batch), broadcast against the cell-indexed "
    "corpus; the label filter rides inside the cell join, and the "
    "final top-k is one window over candidates, not corpus rows.",
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import with_ivf_cell, with_norm
    from ..sources.registry import load_table_split

    emb = load_table_split(spark, "embeddings", sf_dir)
    cent = emb.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 116)).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv")
    )
    anchors = emb.where(F.col("vec_id") < _HN_ANCHORS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("anchor_label"),
    )
    corpus = emb.where(F.col("vec_id") >= _HN_ANCHORS).select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").alias("ev"),
        F.col("label").alias("neg_label"),
    )
    q_cells = with_norm(
        with_ivf_cell(anchors, cent, "qv", "query_id", n_probe=2), "qv", "qn"
    )
    c_cells = with_norm(
        with_ivf_cell(corpus, cent, "ev", "corpus_id", n_probe=1), "ev", "cn"
    )
    scored = (
        c_cells.join(F.broadcast(q_cells), "cell")
        .where(F.col("anchor_label") != F.col("neg_label"))
        .withColumn(
            "cosine",
            F.round(
                F.try_divide(
                    dot(F.col("qv"), F.col("ev")), F.col("qn") * F.col("cn")
                ),
                6,
            ),
        )
        .select("query_id", "anchor_label", "corpus_id", "neg_label", "cosine")
        .dropDuplicates(["query_id", "corpus_id"])
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "corpus_id")
    return (
        scored.where(F.col("cosine") < _HN_DUP_CUT)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= _HN_K)
        .select(
            "query_id",
            "anchor_label",
            F.col("corpus_id").alias("vec_id"),
            "neg_label",
            "cosine",
        )
    )


# ------------------------------------------------- centroid drift


@register(
    "embedding_centroid_shift",
    oracle="""
    WITH expanded AS (
        SELECT label, vec_id % 2 AS par, d AS pos,
               CAST(embedding[CAST(d AS INT)] AS DOUBLE) AS x
        FROM embeddings, (SELECT unnest(range(1, 65)) AS d)
    ),
    dims AS (
        SELECT label, pos,
               SUM(CASE WHEN par = 0 THEN x END)
                   / COUNT(CASE WHEN par = 0 THEN 1 END) AS m0,
               SUM(CASE WHEN par = 1 THEN x END)
                   / COUNT(CASE WHEN par = 1 THEN 1 END) AS m1,
               COUNT(CASE WHEN par = 0 THEN 1 END) AS n0,
               COUNT(CASE WHEN par = 1 THEN 1 END) AS n1
        FROM expanded GROUP BY label, pos
    )
    SELECT label,
           CAST(MAX(n0) AS BIGINT) AS n_even,
           CAST(MAX(n1) AS BIGINT) AS n_odd,
           ROUND(sqrt(SUM((m0 - m1) * (m0 - m1))), 4) AS centroid_l2_shift
    FROM dims GROUP BY label
    """,
    tags=("vector", "aggregate", "quality"),
    doc="Embedding-distribution drift monitor: split each label's "
    "vectors into two deterministic halves (vec_id parity — stands in "
    "for yesterday's batch vs today's), compute both half-centroids, "
    "and report the L2 distance between them per label. Near-zero "
    "shift = the halves are exchangeable (healthy); a large shift on "
    "one label = the embedding space moved (encoder drift, pipeline "
    "change) — the cheap early-warning check run before committing a "
    "new embedding batch to an ANN index whose codebook assumed the "
    "old geometry. Scale: one 64-way per-vector expansion, one "
    "(label, dim) aggregate, one label aggregate — corpus-linear, "
    "no pair formation; output is one row per label.",
)
def embedding_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    expanded = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("par"),
        F.posexplode("embedding").alias("pos0", "x"),
    ).select(
        "label",
        "par",
        (F.col("pos0") + 1).alias("pos"),
        F.col("x").cast("double").alias("x"),
    )
    dims = expanded.groupBy("label", "pos").agg(
        (
            F.sum(F.when(F.col("par") == 0, F.col("x")))
            / F.count(F.when(F.col("par") == 0, F.lit(1)))
        ).alias("m0"),
        (
            F.sum(F.when(F.col("par") == 1, F.col("x")))
            / F.count(F.when(F.col("par") == 1, F.lit(1)))
        ).alias("m1"),
        F.count(F.when(F.col("par") == 0, F.lit(1))).alias("n0"),
        F.count(F.when(F.col("par") == 1, F.lit(1))).alias("n1"),
    )
    return dims.groupBy("label").agg(
        F.max("n0").cast("bigint").alias("n_even"),
        F.max("n1").cast("bigint").alias("n_odd"),
        F.round(
            F.sqrt(F.sum((F.col("m0") - F.col("m1")) * (F.col("m0") - F.col("m1")))),
            4,
        ).alias("centroid_l2_shift"),
    )


# ------------------------------------------- ANN recall / MRR eval

from .catalog import CATALOG as _CATALOG  # noqa: E402  (oracle reuse)


@register(
    "ann_recall_mrr_eval",
    oracle=f"""
    WITH truth AS (SELECT * FROM ({_CATALOG["ann_cosine_topk"].oracle}) t),
    approx AS (SELECT * FROM ({_CATALOG["ann_ivf_topk"].oracle}) a),
    truth_rk AS (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, vec_id) AS rk
        FROM truth
    ),
    approx_rk AS (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, vec_id) AS rk
        FROM approx
    ),
    hits AS (
        SELECT t.query_id, COUNT(*) AS n_hits
        FROM truth_rk t JOIN approx_rk a USING (query_id, vec_id)
        GROUP BY t.query_id
    ),
    nn AS (
        SELECT t.query_id, COALESCE(MIN(a.rk), 0) AS nn_rank
        FROM truth_rk t
        LEFT JOIN approx_rk a USING (query_id, vec_id)
        WHERE t.rk = 1 GROUP BY t.query_id
    )
    SELECT q.query_id,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST((1000000 * COALESCE(h.n_hits, 0)) // {_TOP_K} AS BIGINT)
               AS recall_ppm,
           CAST(nn.nn_rank AS BIGINT) AS nn_rank,
           CAST(CASE WHEN nn.nn_rank > 0 THEN 1000000 // nn.nn_rank
                     ELSE 0 END AS BIGINT) AS mrr_ppm
    FROM (SELECT DISTINCT query_id FROM truth) q
    LEFT JOIN hits h USING (query_id)
    JOIN nn USING (query_id)
    """,
    tags=("vector", "eval", "topk"),
    doc="ANN quality evaluation: score the IVF approximate top-k "
    "(ann_ivf_topk) against the brute-force cosine ground truth "
    "(ann_cosine_topk), per query — recall@k and the reciprocal rank "
    "of the TRUE nearest neighbor inside the approximate list, both "
    "as exact integer ppm (1e6*hits DIV k; 1e6 DIV rank — no float "
    "averaging anywhere). This is the similarity-stack counterpart of "
    "lsh_recall_eval: the measurement harness that justifies the "
    "probe count / codebook size before trusting the approximate "
    "path at scale. The oracle REUSES the two registered pipelines' "
    "oracle SQL verbatim as subqueries, so the eval can never drift "
    "from what the gated operators actually compute. Scale: both "
    "pipelines are the already-audited bounded shapes; the eval adds "
    "two query-keyed top-k joins on k*queries rows.",
)
def ann_recall_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth = ann_cosine_topk(spark, sf_dir)
    approx = ann_ivf_topk(spark, sf_dir)
    wt = W.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    truth_rk = truth.withColumn("rk", F.row_number().over(wt)).select(
        "query_id", "vec_id", "rk"
    )
    approx_rk = approx.withColumn("rk", F.row_number().over(wt)).select(
        "query_id", "vec_id", F.col("rk").alias("ark")
    )
    hits = (
        truth_rk.join(approx_rk, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    nn = (
        truth_rk.where(F.col("rk") == 1)
        .join(approx_rk, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(F.coalesce(F.min("ark"), F.lit(0)).alias("nn_rank"))
    )
    qs = truth.select("query_id").distinct()
    return (
        qs.join(hits, "query_id", "left")
        .join(nn, "query_id")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.expr(
                f"CAST((1000000 * coalesce(n_hits, 0)) DIV {_TOP_K} AS BIGINT)"
            ).alias("recall_ppm"),
            F.col("nn_rank").cast("long").alias("nn_rank"),
            F.expr(
                "CAST(CASE WHEN nn_rank > 0 THEN 1000000 DIV nn_rank "
                "ELSE 0 END AS BIGINT)"
            ).alias("mrr_ppm"),
        )
    )


# ------------------------------------- incremental IVF index maintenance


@register(
    "ivf_incremental_assign",
    oracle=f"""
    WITH long AS (
        SELECT vec_id, d, CAST(embedding[CAST(d AS INT) + 1] AS DOUBLE) AS v
        FROM embeddings, (SELECT unnest(range(0, 64)) AS d)
    ),
    old_ids AS (SELECT vec_id FROM embeddings WHERE vec_id % 10 <> 9),
    a0 AS (SELECT vec_id, vec_id % 16 AS cell FROM old_ids),
    c0 AS (
        SELECT cell, d, round(avg(v), 4) AS cv
        FROM long JOIN a0 USING (vec_id) GROUP BY cell, d
    ),
    sim1 AS (
        SELECT l.vec_id, c.cell,
               round(SUM(l.v * c.cv)
                     / (sqrt(SUM(l.v * l.v)) * sqrt(SUM(c.cv * c.cv))),
                     6) AS s
        FROM long l JOIN c0 c USING (d)
        WHERE l.vec_id IN (SELECT vec_id FROM old_ids)
        GROUP BY l.vec_id, c.cell
    ),
    a1 AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY s DESC, cell
                   ) AS rk
            FROM sim1) WHERE rk = 1
    ),
    c1 AS (
        SELECT cell, d, round(avg(v), 4) AS cv
        FROM long JOIN a1 USING (vec_id) GROUP BY cell, d
    ),
    sim2 AS (
        SELECT l.vec_id, c.cell,
               round(SUM(l.v * c.cv)
                     / (sqrt(SUM(l.v * l.v)) * sqrt(SUM(c.cv * c.cv))),
                     6) AS s
        FROM long l JOIN c1 c USING (d)
        GROUP BY l.vec_id, c.cell
    ),
    assigned AS (
        SELECT vec_id, cell,
               CAST(ROUND(s * 1000000, 0) AS BIGINT) AS sim_micro,
               vec_id % 10 = 9 AS is_new
        FROM (
            SELECT vec_id, cell, s,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY s DESC, cell
                   ) AS rk
            FROM sim2) WHERE rk = 1
    )
    SELECT CAST(cell AS BIGINT) AS cell,
           CAST(SUM(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT)
               AS n_old,
           CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new,
           CAST(1000000 * SUM(CASE WHEN is_new THEN 1 ELSE 0 END)
                // NULLIF(SUM(CASE WHEN is_new THEN 0 ELSE 1 END), 0)
                AS BIGINT) AS growth_ppm,
           CAST(SUM(CASE WHEN is_new THEN 0 ELSE sim_micro END)
                // NULLIF(SUM(CASE WHEN is_new THEN 0 ELSE 1 END), 0)
                AS BIGINT) AS old_sim_micro,
           CAST(SUM(CASE WHEN is_new THEN sim_micro ELSE 0 END)
                // NULLIF(SUM(CASE WHEN is_new THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS new_sim_micro,
           CAST(SUM(CASE WHEN is_new THEN sim_micro ELSE 0 END)
                // NULLIF(SUM(CASE WHEN is_new THEN 1 ELSE 0 END), 0)
                - SUM(CASE WHEN is_new THEN 0 ELSE sim_micro END)
                // NULLIF(SUM(CASE WHEN is_new THEN 0 ELSE 1 END), 0)
                AS BIGINT) AS drift_micro
    FROM assigned GROUP BY cell
    """,
    tags=("vector", "index", "maintenance"),
    doc="Incremental IVF index maintenance audit: the codebook is "
    "trained (deterministic k-means, train_ivf_codebook) on the OLD "
    "corpus only (vec_id % 10 != 9 — the data the index was built "
    "on), the NEW batch (vec_id % 10 == 9) is assigned to the "
    "existing cells without retraining, and the report compares the "
    "two populations per cell: counts, growth ppm, and the mean "
    "assignment cosine (micro-units, half-away rounding on both "
    "engines) of old vs new members. A cell whose new members sit "
    "much farther from the centroid than its old ones (negative "
    "drift_micro) is the retrain signal a production ANN index "
    "monitors as data arrives — this is the maintenance loop faiss "
    "users run out-of-band, expressed as one Spark job. Scale: the "
    "codebook is k x dim and broadcasts; assignment is the standard "
    "IVF crossJoin+argmax (map-side fold variant available at "
    "corpus scale, operators/similarity.py:347); the report is a "
    "k-row aggregate. Ref parity: beyond-reference vector infra.",
)
def ivf_incremental_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import train_ivf_codebook

    emb = load_table(spark, "embeddings", sf_dir)
    old = emb.where(F.col("vec_id") % 10 != 9)
    cent = train_ivf_codebook(old, "vec_id", "embedding", k=16, iters=1)
    # norms hoisted out of the cross join (same doubles, same multiply
    # order); argmax via groupBy min-struct instead of a row_number
    # window — n unsorted rows cross the exchange, not n x 16 sorted.
    # Ties (rounded s) go to the lowest centroid_id and an all-NULL row
    # keeps a NULL sim_micro, exactly like the DESC NULLS LAST window.
    scored = emb.withColumn(
        "_vn", F.sqrt(dot(F.col("embedding"), F.col("embedding")))
    ).crossJoin(
        F.broadcast(
            cent.withColumn("_cn", F.sqrt(dot(F.col("cv"), F.col("cv"))))
        )
    ).withColumn(
        "s",
        F.round(
            F.try_divide(
                dot(F.col("embedding"), F.col("cv")),
                F.col("_vn") * F.col("_cn"),
            ),
            6,
        ),
    )
    key = F.struct(
        (-F.coalesce(F.col("s"), F.lit(-2.0))).alias("ns"),
        F.col("centroid_id").alias("cid"),
        F.col("s").alias("s"),
    )
    assigned = (
        scored.groupBy("vec_id")
        .agg(F.min(key).alias("_k"))
        .select(
            F.col("_k.cid").alias("cell"),
            F.expr("CAST(ROUND(_k.s * 1000000, 0) AS BIGINT)").alias(
                "sim_micro"
            ),
            (F.col("vec_id") % 10 == 9).alias("is_new"),
        )
    )
    return assigned.groupBy("cell").agg(
        F.expr(
            "CAST(SUM(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT)"
        ).alias("n_old"),
        F.expr(
            "CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_new"),
        F.expr(
            "CAST(1000000 * SUM(CASE WHEN is_new THEN 1 ELSE 0 END)"
            " DIV NULLIF(SUM(CASE WHEN is_new THEN 0 ELSE 1 END), 0)"
            " AS BIGINT)"
        ).alias("growth_ppm"),
        F.expr(
            "CAST(SUM(CASE WHEN is_new THEN 0 ELSE sim_micro END)"
            " DIV NULLIF(SUM(CASE WHEN is_new THEN 0 ELSE 1 END), 0)"
            " AS BIGINT)"
        ).alias("old_sim_micro"),
        F.expr(
            "CAST(SUM(CASE WHEN is_new THEN sim_micro ELSE 0 END)"
            " DIV NULLIF(SUM(CASE WHEN is_new THEN 1 ELSE 0 END), 0)"
            " AS BIGINT)"
        ).alias("new_sim_micro"),
        F.expr(
            "CAST(SUM(CASE WHEN is_new THEN sim_micro ELSE 0 END)"
            " DIV NULLIF(SUM(CASE WHEN is_new THEN 1 ELSE 0 END), 0)"
            " - SUM(CASE WHEN is_new THEN 0 ELSE sim_micro END)"
            " DIV NULLIF(SUM(CASE WHEN is_new THEN 0 ELSE 1 END), 0)"
            " AS BIGINT)"
        ).alias("drift_micro"),
    ).select(
        F.col("cell").cast("long").alias("cell"),
        "n_old", "n_new", "growth_ppm",
        "old_sim_micro", "new_sim_micro", "drift_micro",
    )


# ------------------------------------------- k-center coreset sample

_KC_PICKS = 8

_KC_DIST = (
    "1000000 - CAST(ROUND(" + _COS64.format(a="e.embedding", b="c.cv")
    + " * 1000000, 0) AS BIGINT)"
)


def _kc_ctes(k: int) -> str:
    """Unrolled greedy k-center rounds: cho{i} is the chosen set after
    pick i; each round scores every unchosen vector by its min
    distance (micro-units of 1 - rounded cosine) to the chosen set
    and picks the farthest (ties -> lowest vec_id)."""
    parts = [
        """cho1 AS MATERIALIZED (
        SELECT 1 AS pick_order, vec_id AS vid, embedding AS cv,
               CAST(0 AS BIGINT) AS md
        FROM embeddings
        WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)
    )"""
    ]
    for i in range(2, k + 1):
        prev = f"cho{i - 1}"
        parts.append(f"""md{i} AS MATERIALIZED (
        SELECT e.vec_id, MIN({_KC_DIST}) AS md
        FROM embeddings e CROSS JOIN {prev} c
        WHERE e.vec_id NOT IN (SELECT vid FROM {prev})
        GROUP BY e.vec_id
    ),
    pick{i} AS (
        SELECT vec_id, md FROM md{i}
        ORDER BY md DESC, vec_id LIMIT 1
    ),
    cho{i} AS MATERIALIZED (
        SELECT * FROM {prev}
        UNION ALL
        SELECT {i} AS pick_order, p.vec_id AS vid, e.embedding AS cv,
               p.md
        FROM pick{i} p JOIN embeddings e ON e.vec_id = p.vec_id
    )""")
    return ",\n    ".join(parts)


@register(
    "kcenter_coreset_sample",
    oracle=f"""
    WITH {_kc_ctes(_KC_PICKS)},
    radius AS (
        SELECT CAST(MAX(md) AS BIGINT) AS coverage_radius_micro
        FROM (
            SELECT e.vec_id, MIN({_KC_DIST}) AS md
            FROM embeddings e CROSS JOIN cho{_KC_PICKS} c
            GROUP BY e.vec_id
        )
    )
    SELECT CAST(c.pick_order AS BIGINT) AS pick_order,
           CAST(c.vid AS BIGINT) AS vec_id,
           CAST(c.md AS BIGINT) AS min_dist_micro,
           r.coverage_radius_micro
    FROM cho{_KC_PICKS} c CROSS JOIN radius r
    """,
    tags=("vector", "corpus", "sampling"),
    doc="Greedy k-center coreset selection (farthest-point sampling) "
    "over the embedding corpus: seed at the lowest vec_id, then 7 "
    "rounds each pick the vector FARTHEST (max-min cosine distance, "
    "micro-units, ties to lowest id) from the chosen set — the "
    "classic 2-approximation to the k-center objective, used to "
    "pick maximally-diverse exemplars for data pruning and eval-set "
    "construction (the diversity complement of "
    "cluster_balanced_sample's per-cell quotas). Reports each pick "
    "with its selection-time distance plus the final coverage "
    "radius (max distance of any vector to the coreset). All "
    "comparison surfaces are rounded-cosine micro integers. Scale: "
    "k scans of the corpus, each a broadcast of the <=k chosen "
    "vectors and one map-side min + a 1-row argmax aggregate (no "
    "global sort, no pair materialization) — linear in k x corpus; "
    "in production k-center runs on a cluster-sampled subset, which "
    "this operator is agnostic to. Ref parity: beyond-reference.",
)
def kcenter_coreset_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", "embedding"
    ).localCheckpoint(eager=False)

    def dist_to(cv_list) -> F.Column:
        # identical per-pair arithmetic to the former crossJoin shape:
        # dot is a left fold, so the Python-side norm (left-to-right
        # sum of squares) reproduces sqrt(dot(cv, cv)) bit-for-bit
        # (the facility_location_select precedent).
        cv = F.array(*[F.lit(float(x)) for x in cv_list])
        cn = math.sqrt(sum(float(x) ** 2 for x in cv_list))
        s = F.round(
            F.try_divide(
                dot(F.col("embedding"), cv),
                F.sqrt(dot(F.col("embedding"), F.col("embedding")))
                * F.lit(cn),
            ),
            6,
        )
        return F.lit(1000000) - F.round(s * 1000000, 0).cast("long")

    # Incremental farthest-point sampling: keep each unchosen vector's
    # running min distance `md` to the chosen set and fold in ONLY the
    # newly-picked center each round (min over a set == incremental
    # least), instead of re-scoring every vector against the whole
    # chosen set — O(k·n) distance evaluations rather than O(k²·n),
    # and one job per round (the argmax aggregate materializes the
    # lazy checkpoint). The picked center's embedding rides along in
    # the argmax struct (md, -vec_id are a unique key, so the trailing
    # field never influences the comparison) — no extra join job.
    seed_row = emb.orderBy("vec_id").limit(1).collect()[0]  # 1 x dim
    picked = [(1, int(seed_row["vec_id"]), 0)]
    state = (
        emb.where(F.col("vec_id") != int(seed_row["vec_id"]))
        .withColumn("md", dist_to(seed_row["embedding"]))
        .localCheckpoint(eager=False)
    )
    for i in range(2, _KC_PICKS + 1):
        b = state.agg(
            F.max(
                F.struct(
                    F.col("md"),
                    (-F.col("vec_id")).alias("nid"),
                    F.col("embedding").alias("cv"),
                )
            ).alias("b")
        ).collect()[0]["b"]  # bounded artifact: 1 x (2 + dim)
        vid = -int(b["nid"])
        picked.append((i, vid, int(b["md"])))
        state = (
            state.where(F.col("vec_id") != vid)
            .withColumn("md", F.least(F.col("md"), dist_to(b["cv"])))
            .localCheckpoint(eager=False)
        )
    # After the final fold, state.md is every unchosen vector's min
    # distance to the full coreset; chosen vectors contribute exactly
    # 0 (self-cosine rounds to 1.000000), so the coverage radius is
    # max(0, max(md)) — one aggregate instead of the former
    # n x k crossJoin + groupBy re-scan.
    radius = state.agg(
        F.greatest(F.max("md"), F.lit(0).cast("long"))
        .cast("long")
        .alias("coverage_radius_micro")
    )
    chosen = spark.createDataFrame(
        picked, "pick_order long, vec_id long, min_dist_micro long"
    )
    return chosen.crossJoin(F.broadcast(radius))


# ----------------------------------- facility-location diverse select

_FL_CANDS = 16  # candidate cells (IVF codebook recipe as semdedup)
_FL_PICKS = 6

# micro similarity, NULL (zero-norm) pinned to -1e6 so both engines
# order identically
_FL_S = (
    "COALESCE(CAST(ROUND(" + _COS64 + " * 1000000, 0) AS BIGINT), "
    "-1000000)"
)


def _fl_ctes(k: int) -> str:
    """Unrolled greedy facility-location rounds: cur{r} is each
    vector's best covered similarity after pick r (floored at 0);
    g{r}/p{r} are the round's marginal coverage gains and argmax."""
    parts = [
        f"""cent AS MATERIALIZED (
        SELECT vec_id AS cid, embedding AS cv
        FROM embeddings WHERE vec_id >= 100
        ORDER BY vec_id LIMIT {_FL_CANDS}
    ),
    sv AS MATERIALIZED (
        SELECT e.vec_id, c.cid,
               {_FL_S.format(a="e.embedding", b="c.cv")} AS s
        FROM embeddings e CROSS JOIN cent c
    ),
    cur0 AS MATERIALIZED (
        SELECT vec_id, CAST(0 AS BIGINT) AS cur FROM embeddings
    )"""
    ]
    for r in range(1, k + 1):
        prev = f"cur{r - 1}"
        excl = (
            ""
            if r == 1
            else "WHERE s.cid NOT IN ("
            + " UNION ALL ".join(f"SELECT cid FROM p{i}" for i in range(1, r))
            + ")"
        )
        parts.append(f"""g{r} AS (
        SELECT s.cid, SUM(GREATEST(s.s - c.cur, 0)) AS gain
        FROM sv s JOIN {prev} c USING (vec_id)
        {excl}
        GROUP BY s.cid
    ),
    p{r} AS MATERIALIZED (
        SELECT cid, gain FROM g{r} ORDER BY gain DESC, cid LIMIT 1
    ),
    cur{r} AS MATERIALIZED (
        SELECT c.vec_id, GREATEST(c.cur, s.s) AS cur
        FROM {prev} c JOIN sv s
          ON s.vec_id = c.vec_id AND s.cid = (SELECT cid FROM p{r})
    )""")
    return ",\n    ".join(parts)


@register(
    "facility_location_select",
    oracle=f"""
    WITH {_fl_ctes(_FL_PICKS)},
    picks AS (
        {" UNION ALL ".join(f"SELECT {r} AS pick_order, cid, gain FROM p{r}" for r in range(1, _FL_PICKS + 1))}
    )
    SELECT CAST(pick_order AS BIGINT) AS pick_order,
           CAST(cid AS BIGINT) AS centroid_id,
           CAST(gain AS BIGINT) AS gain_micro,
           CAST(SUM(gain) OVER (ORDER BY pick_order) AS BIGINT)
               AS objective_micro
    FROM picks
    """,
    tags=("vector", "corpus", "sampling"),
    doc="Greedy facility-location selection over IVF cells (VERDICT r8 "
    "task 8; Krause & Golovin 2014 submodular-maximization survey): "
    "candidates are the deterministic 16-centroid codebook (lowest "
    "vec_id >= 100, the semdedup_prune recipe); each of 6 greedy "
    "rounds picks the cell whose centroid maximizes the marginal "
    "coverage gain sum_v max(0, sim(v,c) - cur(v)) — the classic "
    "(1-1/e)-approximation to max sum_v max_{{c in S}} sim(v,c), used "
    "to choose maximally-REPRESENTATIVE exemplars (the coverage "
    "complement of kcenter_coreset_sample's max-min diversity). "
    "Emits each pick with its marginal gain and the cumulative "
    "objective, all in rounded-cosine micro integers (sum bound "
    "n x 1e6 — int64-safe past 9e12 vectors). Scale: the n x 16 "
    "similarity table is computed once map-side from the broadcast "
    "codebook (array column, zero shuffle); each round is one "
    "map-side 16-way conditional SUM (1-row aggregate) and a "
    "column-update projection — k scans, no pair materialization, "
    "no global sort; the greedy argmax consumes a 16-value driver "
    "artifact (bounded, same precedent as the codebook collect). "
    "Ref parity: beyond-reference LLM-corpus selection layer.",
)
def facility_location_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    emb = (
        load_table(spark, "embeddings", sf_dir)
        .select("vec_id", "embedding")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    cent = (
        emb.where(F.col("vec_id") >= 100)
        .orderBy("vec_id")
        .limit(_FL_CANDS)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    )
    rows = sorted(cent.collect(), key=lambda r: r["cid"])  # bounded: k x dim
    cids = [int(r["cid"]) for r in rows]
    v = F.col("embedding")
    vnorm = F.sqrt(dot(v, v))
    sims = F.array(
        *[
            F.coalesce(
                F.expr(
                    "CAST(ROUND(s{i} * 1000000, 0) AS BIGINT)".format(i=i)
                ),
                F.lit(-1000000),
            )
            for i in range(len(rows))
        ]
    )
    scored = emb
    for i, r in enumerate(rows):
        cv = F.array(*[F.lit(float(x)) for x in r["cv"]])
        cnorm = math.sqrt(sum(float(x) ** 2 for x in r["cv"]))
        scored = scored.withColumn(
            f"s{i}", F.round(F.try_divide(dot(v, cv), vnorm * F.lit(cnorm)), 6)
        )
    vstate = scored.select("vec_id", sims.alias("sims")).localCheckpoint(
        eager=False
    )

    picked: list[tuple[int, int, int]] = []  # (pick_order, cid, gain)
    chosen_pos: set[int] = set()
    for r in range(1, _FL_PICKS + 1):
        # cur (each vector's best covered similarity, floored at 0) is
        # re-derived inline from the CHOSEN positions instead of being
        # written back + re-checkpointed every round: greedy state is
        # a pure function of the picks, so each round is one map-side
        # aggregate over the SAME materialized sims table — no per-round
        # n-row state rewrite jobs. Exact-integer max, identical values.
        cur = (
            F.greatest(
                F.lit(0).cast("long"),
                *[F.col("sims")[p] for p in sorted(chosen_pos)],
            )
            if chosen_pos
            else F.lit(0).cast("long")
        )
        gains_row = vstate.agg(
            *[
                F.sum(
                    F.greatest(F.col("sims")[i] - cur, F.lit(0).cast("long"))
                ).alias(f"g{i}")
                for i in range(len(cids))
            ]
        ).collect()[0]  # bounded 16-value artifact per round
        best_pos = min(
            (i for i in range(len(cids)) if i not in chosen_pos),
            key=lambda i: (-int(gains_row[f"g{i}"]), cids[i]),
        )
        picked.append((r, cids[best_pos], int(gains_row[f"g{best_pos}"])))
        chosen_pos.add(best_pos)

    out = spark.createDataFrame(
        [
            (po, cid, g, sum(p[2] for p in picked[:po]))
            for po, cid, g in picked
        ],
        "pick_order long, centroid_id long, gain_micro long, objective_micro long",
    )
    return out


# ------------------------------------------------- MMR diverse rank

_MMR_CANDS = 24
_MMR_PICKS = 8
_MMR_LAMBDA10 = 7  # lambda = 0.7, scaled x10 to stay integer


def _mmr_ctes(k: int) -> str:
    """Unrolled MMR rounds over the top-C candidate pool: sel{r} is
    the ranked list after pick r; each round scores every unselected
    candidate by lambda*rel - (1-lambda)*max-sim-to-selected (integer
    deci-micro units) and picks the max (ties -> lowest vec_id)."""
    lam, com = _MMR_LAMBDA10, 10 - _MMR_LAMBDA10
    parts = [
        f"""q AS (
        SELECT embedding AS qv FROM embeddings
        WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)
    ),
    cand AS MATERIALIZED (
        SELECT vec_id, embedding AS ev,
               {_FL_S.format(a="e.embedding", b="qv")} AS rel
        FROM embeddings e CROSS JOIN q
        ORDER BY rel DESC, vec_id LIMIT {_MMR_CANDS}
    ),
    ps AS MATERIALIZED (
        SELECT a.vec_id AS av, b.vec_id AS bv,
               {_FL_S.format(a="a.ev", b="b.ev")} AS s
        FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
    ),
    sel1 AS MATERIALIZED (
        SELECT 1 AS pick_order, vec_id, rel,
               CAST(-1000000 AS BIGINT) AS ms
        FROM cand ORDER BY rel DESC, vec_id LIMIT 1
    )"""
    ]
    for r in range(2, k + 1):
        prev = f"sel{r - 1}"
        parts.append(f"""ms{r} AS (
        SELECT c.vec_id, c.rel, MAX(p.s) AS ms
        FROM cand c JOIN ps p ON p.av = c.vec_id
         AND p.bv IN (SELECT vec_id FROM {prev})
        WHERE c.vec_id NOT IN (SELECT vec_id FROM {prev})
        GROUP BY c.vec_id, c.rel
    ),
    pick{r} AS (
        SELECT {r} AS pick_order, vec_id, rel, ms FROM ms{r}
        ORDER BY {lam} * rel - {com} * ms DESC, vec_id LIMIT 1
    ),
    sel{r} AS MATERIALIZED (
        SELECT * FROM {prev} UNION ALL SELECT * FROM pick{r}
    )""")
    return ",\n    ".join(parts)


@register(
    "mmr_diverse_rank",
    oracle=f"""
    WITH {_mmr_ctes(_MMR_PICKS)}
    SELECT CAST(pick_order AS BIGINT) AS pick_order,
           CAST(vec_id AS BIGINT) AS vec_id,
           CAST(rel AS BIGINT) AS rel_micro,
           CAST(ms AS BIGINT) AS maxsim_micro,
           CAST({_MMR_LAMBDA10} * rel - {10 - _MMR_LAMBDA10} * ms
                AS BIGINT) AS score_dmicro
    FROM sel{_MMR_PICKS}
    """,
    tags=("vector", "search", "sampling"),
    doc="Maximal Marginal Relevance re-ranking (Carbonell & Goldstein "
    "1998): query = the lowest-vec_id embedding; the top-24 "
    "candidates by rounded-cosine relevance are re-ranked by 8 greedy "
    "MMR rounds scoring lambda*rel - (1-lambda)*max-sim-to-selected "
    "(lambda=0.7, integer deci-micro units, ties to lowest vec_id) — "
    "the standard relevance/diversity tradeoff for retrieval and "
    "eval-set assembly, the tunable middle ground between "
    "ann_cosine_topk (pure relevance) and kcenter_coreset_sample "
    "(pure diversity). Emits each pick with its relevance, its "
    "max-sim to the prior picks at selection time (-1e6 sentinel for "
    "the seed pick), and the MMR score. Scale: relevance is one "
    "map-side scan against the broadcast query vector; top-C is a "
    "distributed TakeOrdered (per-partition heaps, no global sort); "
    "the greedy re-rank runs on the C-row bounded artifact (C^2 x k "
    "integer ops driver-side, same precedent as the codebook "
    "collect). Ref parity: beyond-reference retrieval layer.",
)
def mmr_diverse_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        load_table(spark, "embeddings", sf_dir)
        .select("vec_id", "embedding")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    qrow = emb.orderBy("vec_id").limit(1).collect()[0]  # bounded: 1 x dim
    qv = F.array(*[F.lit(float(x)) for x in qrow["embedding"]])
    import math

    qnorm = math.sqrt(sum(float(x) ** 2 for x in qrow["embedding"]))
    v = F.col("embedding")
    rel = F.coalesce(
        F.expr("CAST(ROUND(r6 * 1000000, 0) AS BIGINT)"),
        F.lit(-1000000).cast("long"),
    )
    cand = (
        emb.withColumn(
            "r6",
            F.round(
                F.try_divide(dot(v, qv), F.sqrt(dot(v, v)) * F.lit(qnorm)), 6
            ),
        )
        .select("vec_id", "embedding", rel.alias("rel"))
        .orderBy(F.desc("rel"), "vec_id")
        .limit(_MMR_CANDS)
    )
    rows = cand.collect()  # bounded artifact: C x dim

    def cos_micro(a, b) -> int:
        num = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) ** 2 for x in a))
        nb = math.sqrt(sum(float(y) ** 2 for y in b))
        if na == 0.0 or nb == 0.0:
            return -1000000
        # mirror the two-step rounding (round(cos,6) then x1e6)
        return int(round(round(num / (na * nb), 6) * 1000000))

    lam, com = _MMR_LAMBDA10, 10 - _MMR_LAMBDA10
    pool = {int(r["vec_id"]): (int(r["rel"]), list(r["embedding"])) for r in rows}
    sel: list[tuple[int, int, int, int]] = []  # (order, vid, rel, ms)
    while pool and len(sel) < _MMR_PICKS:
        best = None
        for vid, (rl, ev) in pool.items():
            ms = (
                max(cos_micro(ev, pool_sel_ev) for _, _, _, _, pool_sel_ev in sel)
                if sel
                else -1000000
            )
            key = (-(lam * rl - com * ms), vid)
            if best is None or key < best[0]:
                best = (key, vid, rl, ms)
        _, vid, rl, ms = best
        sel.append((len(sel) + 1, vid, rl, ms, pool.pop(vid)[1]))
    out = spark.createDataFrame(
        [
            (o, vid, rl, ms, lam * rl - com * ms)
            for o, vid, rl, ms, _ in sel
        ],
        "pick_order long, vec_id long, rel_micro long, "
        "maxsim_micro long, score_dmicro long",
    )
    return out


# ------------------------------------- contrastive hard negatives

_CHN_CELLS = 16
# negative-CANDIDATE cap per cell: without it, fixed cells make
# within-cell pairs grow quadratically with the corpus (the semdedup
# x30 probe bug pattern — the r9 x10 probe measured 12.7x at 10x
# data). Candidates are the K smallest-by-hash-rank rows per cell
# (the blocking_strategy_eval fixed-K precedent): anchors stay
# unrestricted, so pair volume is n x K — linear. At driver SFs every
# cell holds < K vectors, so the capped pool is the full cell and the
# hardest negative is exact; past it, this is the bounded-candidate
# approximation every production ANN-based miner makes (documented).
_CHN_CAND_K = 64


@register(
    "contrastive_hard_negatives",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS cv
        FROM embeddings WHERE vec_id >= 100
        ORDER BY vec_id LIMIT {_CHN_CELLS}
    ),
    assigned AS MATERIALIZED (
        SELECT vec_id, ev, label, cell FROM (
            SELECT e.vec_id, e.embedding AS ev, e.label,
                   centroid_id AS cell,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {_COS64.format(a="e.embedding", b="cv")} DESC,
                                centroid_id) AS rk
            FROM embeddings e CROSS JOIN cent
        ) WHERE rk = 1
    ),
    cands AS MATERIALIZED (
        SELECT vec_id, ev, label, cell FROM (
            SELECT *, row_number() OVER (PARTITION BY cell
                ORDER BY (vec_id * 2654435761) % 1000000007, vec_id)
                AS crk
            FROM assigned
        ) WHERE crk <= {_CHN_CAND_K}
    ),
    pairs AS (
        SELECT a.vec_id AS anchor_id, a.cell,
               b.vec_id AS negative_id,
               {_FL_S.format(a="a.ev", b="b.ev")} AS sim,
               row_number() OVER (PARTITION BY a.vec_id
                   ORDER BY {_FL_S.format(a="a.ev", b="b.ev")} DESC,
                            b.vec_id) AS rk
        FROM assigned a JOIN cands b
          ON a.cell = b.cell AND a.label <> b.label
    )
    SELECT CAST(anchor_id AS BIGINT) AS anchor_id,
           CAST(negative_id AS BIGINT) AS negative_id,
           CAST(sim AS BIGINT) AS sim_micro,
           CAST(cell AS BIGINT) AS cell
    FROM pairs WHERE rk = 1
    """,
    tags=("vector", "training", "corpus"),
    doc="Contrastive hard-negative mining (SimCLR/DPR-style): every "
    "vector is IVF-assigned to its nearest of 16 deterministic "
    "centroids (the semdedup_prune codebook recipe), and within each "
    "cell the hardest negative per anchor is the most-similar vector "
    "with a DIFFERENT label (rounded-cosine micro, ties to lowest "
    "id) — the standard way to assemble triplet/contrastive batches "
    "without an all-pairs scan: candidates are confined to the "
    "anchor's cell AND capped at the 64 smallest-by-hash-rank rows "
    "per cell (blocking_strategy_eval's fixed-K precedent — the r9 "
    "x10 probe caught the uncapped within-cell join growing "
    "quadratically, 12.7x at 10x data), so pair volume is n x K — "
    "linear on the corpus axis, the bounded-candidate regime "
    "ANN-based negative mining uses in production. At driver SFs "
    "every cell holds < K vectors so the hardest negative is exact. "
    "Scale: assignment is map-side against the broadcast codebook "
    "(zero shuffle); pair formation shuffles on the cell key only. Ref parity: beyond-reference "
    "training-assembly layer (companion to preference_pairs_assemble "
    "and skipgram_negative_samples).",
)
def contrastive_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import with_ivf_cell_mapside

    emb = (
        load_table(spark, "embeddings", sf_dir)
        .select("vec_id", "embedding", "label")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    cent = (
        emb.where(F.col("vec_id") >= 100)
        .orderBy("vec_id")
        .limit(_CHN_CELLS)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("cv"),
        )
    )
    assigned = with_ivf_cell_mapside(emb, cent, "embedding").localCheckpoint(
        eager=False
    )
    a = assigned.select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("av"),
        F.col("label").alias("al"),
        "cell",
    )
    crk = F.row_number().over(
        W.partitionBy("cell").orderBy(
            F.expr("(vec_id * 2654435761) % 1000000007"), F.col("vec_id")
        )
    )
    b = (
        assigned.withColumn("crk", crk)
        .where(F.col("crk") <= _CHN_CAND_K)
        .select(
            F.col("vec_id").alias("negative_id"),
            F.col("embedding").alias("bv"),
            F.col("label").alias("bl"),
            F.col("cell").alias("bcell"),
        )
    )
    sim = F.coalesce(
        F.expr("CAST(ROUND(s6 * 1000000, 0) AS BIGINT)"),
        F.lit(-1000000).cast("long"),
    )
    # norms hoisted out of the pair join (one fold per row instead of
    # two per pair; same doubles multiplied in the same order)
    a = a.withColumn("_an", F.sqrt(dot(F.col("av"), F.col("av"))))
    b = b.withColumn("_bn", F.sqrt(dot(F.col("bv"), F.col("bv"))))
    pairs = (
        a.join(b, (a.cell == b.bcell) & (a.al != b.bl))
        .withColumn(
            "s6",
            F.round(
                F.try_divide(
                    dot(F.col("av"), F.col("bv")),
                    F.col("_an") * F.col("_bn"),
                ),
                6,
            ),
        )
        .select("anchor_id", "cell", "negative_id", sim.alias("sim"))
    )
    best = pairs.groupBy("anchor_id", "cell").agg(
        F.max(F.struct(F.col("sim"), (-F.col("negative_id")).alias("nid")))
        .alias("b")
    )
    return best.select(
        F.col("anchor_id").cast("long").alias("anchor_id"),
        (-F.col("b.nid")).cast("long").alias("negative_id"),
        F.col("b.sim").cast("long").alias("sim_micro"),
        F.col("cell").cast("long").alias("cell"),
    )


# --------------------------------------- k-means Lloyd refinement

_KM_CELLS = 16
_KM_ROUNDS = 2
# quantized-micro cosine between two BIGINT lists (DuckDB side)
_KM_COS = """ROUND(
    list_sum(list_transform(range(1, 65),
        i -> CAST({a}[CAST(i AS INT)] AS DOUBLE) * CAST({b}[CAST(i AS INT)] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(range(1, 65),
        i -> CAST({a}[CAST(i AS INT)] AS DOUBLE) * CAST({a}[CAST(i AS INT)] AS DOUBLE))))
     * sqrt(list_sum(list_transform(range(1, 65),
        i -> CAST({b}[CAST(i AS INT)] AS DOUBLE) * CAST({b}[CAST(i AS INT)] AS DOUBLE))))),
    6)"""


def _km_round_duck(r: int) -> str:
    """One Lloyd round: assign to nearest centroid of c{r-1}, then
    per-dimension floor-divide means (offset keeps the dividend
    non-negative so // and truncating DIV agree) with empty cells
    keeping their previous centroid."""
    prev = f"c{r - 1}"
    return f"""a{r} AS MATERIALIZED (
        SELECT vec_id, q, cell FROM (
            SELECT e.vec_id, e.q, c.cid AS cell,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {_KM_COS.format(a="e.q", b="c.cv")} DESC,
                                c.cid) AS rk
            FROM qe e CROSS JOIN {prev} c
        ) WHERE rk = 1
    ),
    m{r} AS (
        SELECT cell, list(v ORDER BY i) AS nv,
               MAX(cnt) AS n_assigned
        FROM (
            SELECT cell, i,
                   (SUM(q[CAST(i AS INT)]) + COUNT(*) * 1000000)
                       // COUNT(*) - 1000000 AS v,
                   COUNT(*) AS cnt
            FROM a{r}, range(1, 65) t(i)
            GROUP BY cell, i
        ) GROUP BY cell
    ),
    c{r} AS MATERIALIZED (
        SELECT p.cid, COALESCE(m.nv, p.cv) AS cv,
               COALESCE(m.n_assigned, 0) AS n_assigned,
               CASE WHEN m.nv IS NULL THEN CAST(0 AS BIGINT)
                    ELSE CAST(list_sum(list_transform(range(1, 65),
                        i -> ABS(m.nv[CAST(i AS INT)]
                                 - p.cv[CAST(i AS INT)]))) AS BIGINT)
               END AS shift_l1
        FROM {prev} p LEFT JOIN m{r} m ON m.cell = p.cid
    )"""


@register(
    "kmeans_lloyd_refine",
    oracle=f"""
    WITH qe AS MATERIALIZED (
        SELECT vec_id, list_transform(embedding,
            x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))
            AS q
        FROM embeddings
    ),
    c0 AS MATERIALIZED (
        SELECT vec_id AS cid, q AS cv FROM qe
        WHERE vec_id >= 100 ORDER BY vec_id LIMIT {_KM_CELLS}
    ),
    {",".join(_km_round_duck(r) for r in range(1, _KM_ROUNDS + 1))}
    {" UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS round, CAST(cid AS BIGINT) AS cell,"
        f" CAST(n_assigned AS BIGINT) AS n_assigned,"
        f" CAST(shift_l1 AS BIGINT) AS shift_l1 FROM c{r}"
        for r in range(1, _KM_ROUNDS + 1)
    )}
    """,
    tags=("vector", "ml", "scale"),
    doc="On-engine k-means codebook refinement: 2 Lloyd iterations "
    "over micro-quantized embeddings from the 16 deterministic seeds "
    "(the semdedup_prune recipe) — assignment is nearest rounded "
    "cosine (ties to lowest centroid id), the update is the exact "
    "per-dimension floor-divide mean (offset keeps dividends "
    "non-negative so every engine's integer division agrees), empty "
    "cells keep their centroid. Emits per (round, cell): assigned "
    "count and the L1 centroid shift — the trained-codebook upgrade "
    "path for every IVF consumer here (ann_ivf_topk, semdedup_prune, "
    "contrastive_hard_negatives). Integer end-to-end: the centroid "
    "trajectory is bit-identical on any engine/partitioning "
    "(pca_power_iteration's discipline). Scale: the classic "
    "data-parallel Lloyd shape — map-side assignment against the "
    "broadcast codebook, per-dimension partial sums combine map-side "
    "in one k x dim-bounded shuffle, and the k x dim centroid table "
    "is the bounded driver artifact faiss keeps in RAM. Ref parity: "
    "beyond-reference ML layer.",
)
def kmeans_lloyd_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        load_table(spark, "embeddings", sf_dir)
        .select("vec_id", "embedding")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    qe = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE)"
            " * 1000000, 0) AS BIGINT))"
        ).alias("q"),
    ).localCheckpoint(eager=False)
    seed_rows = sorted(
        qe.where(F.col("vec_id") >= 100).orderBy("vec_id").limit(_KM_CELLS)
        .collect(),
        key=lambda r: r["vec_id"],
    )
    cents = {int(r["vec_id"]): [int(x) for x in r["q"]] for r in seed_rows}

    import math

    report = []
    ndim = len(next(iter(cents.values())))
    for rnd in range(1, _KM_ROUNDS + 1):
        # assignment via broadcast crossJoin + groupBy min-struct argmax
        # (the shape the PQ experiments proved out: the k x n row blowup
        # keeps whole-stage codegen, while the literal-codebook HOF fold
        # this replaces evaluated ~17 interpreted 64-element lambdas per
        # row). Similarity is the identical expression — unrolled
        # left-fold dot, the same sqrt(q.q) * cnorm divisor — and ties
        # go to the lowest cid / all-NULL rows to the lowest cid, exactly
        # like the old fold's strict-greater replacement rule.
        cent_rows = [
            (
                cid,
                [float(x) for x in cents[cid]],
                math.sqrt(sum(float(x) ** 2 for x in cents[cid])),
            )
            for cid in sorted(cents)
        ]
        cent_df = spark.createDataFrame(
            cent_rows, "cid long, cv array<double>, cn double"
        )
        scored = qe.withColumn(
            "_qn", F.sqrt(dot(F.col("q"), F.col("q")))
        ).crossJoin(F.broadcast(cent_df)).withColumn(
            "_sim",
            F.round(
                F.try_divide(
                    dot(F.col("q"), F.col("cv")),
                    F.col("_qn") * F.col("cn"),
                ),
                6,
            ),
        )
        key = F.struct(
            (-F.coalesce(F.col("_sim"), F.lit(-2.0))).alias("ns"),
            F.col("cid").alias("cid"),
        )
        assigned = (
            scored.groupBy("vec_id")
            .agg(F.min(key).alias("_k"), F.first("q").alias("q"))
            .select(F.col("_k.cid").alias("cell"), "q")
        )
        # per-dimension exact sums as ndim parallel SUM columns over the
        # unexploded rows — map-side partials collapse straight to k
        # rows (the posexplode this replaces shuffled n x ndim element
        # rows). Integer sums: order-independent, identical totals.
        sums = assigned.groupBy("cell").agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            *[
                F.sum(F.col("q")[i]).cast("long").alias(f"s{i}")
                for i in range(ndim)
            ],
        ).collect()  # bounded artifact: k rows x (1 + ndim) values
        per_cell = {
            int(row["cell"]): (
                int(row["cnt"]),
                [int(row[f"s{i}"]) for i in range(ndim)],
            )
            for row in sums
        }
        for cid in sorted(cents):
            got = per_cell.get(cid)
            if not got:
                report.append((rnd, cid, 0, 0))
                continue
            cnt, dim_sums = got
            old = cents[cid]
            new = [
                (dim_sums[i] + cnt * 1000000) // cnt - 1000000
                for i in range(len(old))
            ]
            shift = sum(abs(a - b) for a, b in zip(new, old))
            cents[cid] = new
            report.append((rnd, cid, cnt, shift))

    return spark.createDataFrame(
        report, "round long, cell long, n_assigned long, shift_l1 long"
    )


# --------------------------------------- Matryoshka dimension recall

_MDR_DIMS = (8, 16, 32)


@register(
    "matryoshka_dim_recall",
    oracle=f"""
    WITH truth AS (SELECT * FROM ({_CATALOG["ann_cosine_topk"].oracle}) t),
    truth_rk AS (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, vec_id) AS rk
        FROM truth
    ),
    dimset AS (SELECT unnest([{", ".join(str(d) for d in _MDR_DIMS)}])
               AS dims),
    q AS (
        SELECT vec_id AS query_id, embedding AS qv
        FROM embeddings WHERE vec_id < {_N_QUERIES}
    ),
    c AS (
        SELECT vec_id, embedding AS cv
        FROM embeddings WHERE vec_id >= {_N_QUERIES}
    ),
    scored AS (
        SELECT query_id, dims, vec_id,
               ROUND(
                 list_sum(list_transform(range(1, dims + 1),
                     i -> CAST(qv[CAST(i AS INT)] AS DOUBLE)
                          * CAST(cv[CAST(i AS INT)] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(range(1, dims + 1),
                     i -> CAST(qv[CAST(i AS INT)] AS DOUBLE)
                          * CAST(qv[CAST(i AS INT)] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(range(1, dims + 1),
                     i -> CAST(cv[CAST(i AS INT)] AS DOUBLE)
                          * CAST(cv[CAST(i AS INT)] AS DOUBLE))))),
               6) AS cosine
        FROM q CROSS JOIN dimset CROSS JOIN c
    ),
    trunc_rk AS (
        SELECT query_id, dims, vec_id,
               row_number() OVER (PARTITION BY query_id, dims
                   ORDER BY cosine DESC, vec_id) AS rk
        FROM scored
    ),
    trunc_top AS (SELECT * FROM trunc_rk WHERE rk <= {_TOP_K}),
    hits AS (
        SELECT a.query_id, a.dims, COUNT(*) AS n_hits
        FROM trunc_top a JOIN truth_rk t
          ON t.query_id = a.query_id AND t.vec_id = a.vec_id
        GROUP BY a.query_id, a.dims
    ),
    nn AS (
        SELECT t.query_id, d.dims, COALESCE(MIN(a.rk), 0) AS nn_rank
        FROM truth_rk t
        CROSS JOIN dimset d
        LEFT JOIN trunc_top a
          ON a.query_id = t.query_id AND a.dims = d.dims
         AND a.vec_id = t.vec_id
        WHERE t.rk = 1
        GROUP BY t.query_id, d.dims
    )
    SELECT n.query_id, CAST(n.dims AS BIGINT) AS dims,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST((1000000 * COALESCE(h.n_hits, 0)) // {_TOP_K} AS BIGINT)
               AS recall_ppm,
           CAST(n.nn_rank AS BIGINT) AS nn_rank
    FROM nn n
    LEFT JOIN hits h ON h.query_id = n.query_id AND h.dims = n.dims
    """,
    tags=("vector", "eval", "topk"),
    doc="Matryoshka / truncated-dimension retrieval audit (Kusupati "
    "et al. 2022): brute-force cosine top-k over only the FIRST d "
    "dims (d = 8/16/32) scored against the full-64-dim ground truth "
    "(ann_cosine_topk's oracle SQL reused verbatim as a subquery, the "
    "ann_recall_mrr_eval discipline) — recall@k in exact integer ppm "
    "and the rank the true nearest neighbor lands at under each "
    "truncation. This is the measurement that decides how far an "
    "MRL-style embedding can be truncated for the cheap first-pass "
    "retrieval tier before the full-dim rerank. Same ROUND(...,6) "
    "float-parity contract as every cosine op in this engine. Scale: "
    "corpus scanned once with a (queries x dims)-bounded broadcast "
    "fan-out (15 rows); per-(query,dims) top-k windows; the eval "
    "joins touch k*queries*dims rows. Ref parity: beyond-reference "
    "similarity-eval layer.",
)
def matryoshka_dim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    truth = ann_cosine_topk(spark, sf_dir)
    wt = W.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    truth_rk = truth.withColumn("rk", F.row_number().over(wt)).select(
        "query_id", "vec_id", "rk"
    )
    dimset = spark.createDataFrame(
        [(d,) for d in _MDR_DIMS], "dims int"
    )
    q = emb.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.where(F.col("vec_id") >= _N_QUERIES).select(
        "vec_id", F.col("embedding").alias("cv")
    )
    dot = (
        "aggregate(zip_with(slice({a}, 1, dims), slice({b}, 1, dims), "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    scored = c.crossJoin(
        F.broadcast(q.crossJoin(dimset))
    ).withColumn(
        "cosine",
        F.expr(
            f"ROUND({dot.format(a='qv', b='cv')} / "
            f"(sqrt({dot.format(a='qv', b='qv')}) * "
            f"sqrt({dot.format(a='cv', b='cv')})), 6)"
        ),
    )
    wtd = W.partitionBy("query_id", "dims").orderBy(
        F.desc("cosine"), "vec_id"
    )
    trunc_top = (
        scored.withColumn("rk", F.row_number().over(wtd))
        .where(F.col("rk") <= _TOP_K)
        .select("query_id", "dims", "vec_id", "rk")
    )
    hits = (
        trunc_top.join(truth_rk.select("query_id", "vec_id"),
                       ["query_id", "vec_id"])
        .groupBy("query_id", "dims")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    nn = (
        truth_rk.where(F.col("rk") == 1)
        .select("query_id", "vec_id")
        .crossJoin(F.broadcast(dimset))
        .join(
            trunc_top.select(
                "query_id", "dims", "vec_id", F.col("rk").alias("ark")
            ),
            ["query_id", "dims", "vec_id"],
            "left",
        )
        .groupBy("query_id", "dims")
        .agg(F.coalesce(F.min("ark"), F.lit(0)).alias("nn_rank"))
    )
    return (
        nn.join(hits, ["query_id", "dims"], "left")
        .select(
            "query_id",
            F.col("dims").cast("long").alias("dims"),
            F.coalesce(F.col("n_hits"), F.lit(0))
            .cast("long")
            .alias("n_hits"),
            F.expr(
                f"CAST((1000000 * coalesce(n_hits, 0)) DIV {_TOP_K} "
                "AS BIGINT)"
            ).alias("recall_ppm"),
            F.col("nn_rank").cast("long").alias("nn_rank"),
        )
    )


# ------------------------------------ cluster purity / NMI audit

# External cluster-quality audit: assign the corpus with the SAME
# deterministic one-iteration trained codebook ann_ivf_trained uses
# (init cell = vec_id mod k, 4-dp per-dim means, 6-dp cosine argmax
# with centroid tie-break), then score the assignment against the
# ground-truth labels: purity (fraction captured by each cluster's
# majority label) and NMI. Engine parity for NMI follows the
# collocation-lift idiom: each cell/margin contributes
# count * ROUND(ln(rational-of-exact-integers), 6)*1e6 — one ln per
# DISTINCT contingency cell (<= k*labels rows), integer micro-nat
# sums across cells (no float accumulation), and a single final
# sqrt+divide+floor.
_CPN_K = 8
_CPN_SIM1 = _KMEANS_SIM.format(cent="c0")
_CPN_SIM2 = _KMEANS_SIM.format(cent="c1")


@register(
    "cluster_purity_nmi",
    oracle=f"""
    WITH long AS (
        SELECT vec_id, d, CAST(embedding[CAST(d AS INT) + 1] AS DOUBLE) AS v
        FROM embeddings, (SELECT unnest(range(0, 64)) AS d)
    ),
    a0 AS (SELECT vec_id, vec_id % {_CPN_K} AS cell FROM embeddings),
    c0 AS (
        SELECT cell, d, round(avg(v), 4) AS cv
        FROM long JOIN a0 USING (vec_id) GROUP BY cell, d
    ),
    sim1 AS ({_CPN_SIM1}),
    a1 AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY s DESC, cell) AS rk
            FROM sim1) WHERE rk = 1
    ),
    c1 AS (
        SELECT cell, d, round(avg(v), 4) AS cv
        FROM long JOIN a1 USING (vec_id) GROUP BY cell, d
    ),
    sim2 AS ({_CPN_SIM2}),
    a2 AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY s DESC, cell) AS rk
            FROM sim2) WHERE rk = 1
    ),
    ct AS (
        SELECT a2.cell, e.label,
               CAST(COUNT(*) AS BIGINT) AS n_cl
        FROM a2 JOIN embeddings e USING (vec_id)
        GROUP BY a2.cell, e.label
    ),
    margins AS (
        SELECT cell, CAST(SUM(n_cl) AS BIGINT) AS n_c FROM ct GROUP BY cell
    ),
    lmargins AS (
        SELECT label, CAST(SUM(n_cl) AS BIGINT) AS n_l FROM ct GROUP BY label
    ),
    tot AS (SELECT CAST(SUM(n_cl) AS BIGINT) AS n FROM ct),
    mi AS (
        SELECT CAST(SUM(ct.n_cl * CAST(ROUND(ln(
                   (CAST(t.n AS DOUBLE) * CAST(ct.n_cl AS DOUBLE))
                   / (CAST(m.n_c AS DOUBLE) * CAST(l.n_l AS DOUBLE))
               ), 6) * 1000000 AS BIGINT)) AS BIGINT) AS mi_un
        FROM ct JOIN margins m USING (cell)
        JOIN lmargins l USING (label) CROSS JOIN tot t
    ),
    hc AS (
        SELECT CAST(SUM(n_c * CAST(ROUND(ln(
                   CAST(t.n AS DOUBLE) / CAST(n_c AS DOUBLE)
               ), 6) * 1000000 AS BIGINT)) AS BIGINT) AS hc_un
        FROM margins CROSS JOIN tot t
    ),
    hl AS (
        SELECT CAST(SUM(n_l * CAST(ROUND(ln(
                   CAST(t.n AS DOUBLE) / CAST(n_l AS DOUBLE)
               ), 6) * 1000000 AS BIGINT)) AS BIGINT) AS hl_un
        FROM lmargins CROSS JOIN tot t
    ),
    pur AS (
        SELECT CAST(SUM(mx) AS BIGINT) AS pure_n FROM (
            SELECT cell, MAX(n_cl) AS mx FROM ct GROUP BY cell)
    )
    SELECT t.n AS n_vecs,
           CAST((SELECT COUNT(*) FROM margins) AS BIGINT) AS n_clusters,
           CAST((SELECT COUNT(*) FROM lmargins) AS BIGINT) AS n_labels,
           CAST(1000000 * p.pure_n // t.n AS BIGINT) AS purity_ppm,
           CAST(CASE WHEN h1.hc_un <= 0 OR h2.hl_un <= 0 THEN NULL
                ELSE FLOOR(1000.0 * CAST(m.mi_un AS DOUBLE)
                     / SQRT(CAST(h1.hc_un AS DOUBLE)
                            * CAST(h2.hl_un AS DOUBLE)))
                END AS BIGINT) AS nmi_milli
    FROM tot t CROSS JOIN pur p CROSS JOIN mi m
    CROSS JOIN hc h1 CROSS JOIN hl h2
    """,
    tags=("vector", "eval", "stats"),
    doc="External cluster-quality audit — purity and NMI of the "
    "deterministic trained-codebook assignment against ground-truth "
    "labels (the readout run before trusting cluster structure for "
    "SemDeDup pruning or mixture balancing; companion to "
    "label_centroid_similarity, which audits geometry, and "
    "ann_recall_mrr_eval, which audits retrieval). Assignment is the "
    "exact ann_ivf_trained recipe at k=8 (mod-k init, one Lloyd "
    "iteration, 4-dp means, 6-dp cosine argmax). NMI engine parity: "
    "one ln per DISTINCT contingency cell rounded to 6 dp and scaled "
    "to integer micro-nats, count-weighted INTEGER sums across cells "
    "(no order-dependent float accumulation), one final "
    "sqrt-divide-floor; zero-entropy margins yield NULL (undefined), "
    "not a crash. Scale: assignment is a k-row broadcast crossJoin + "
    "per-vec argmax (corpus-linear); the contingency table is "
    "k x labels (bounded), everything after lives on it. Ref parity: "
    "beyond-reference vector-eval layer.",
)
def cluster_purity_nmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import train_ivf_codebook

    emb = load_table(spark, "embeddings", sf_dir)
    cent = train_ivf_codebook(
        emb, "vec_id", "embedding", k=_CPN_K, iters=1
    )
    # norms hoisted out of the cross join; argmax via groupBy min-struct
    # (n unsorted rows per exchange instead of the n x k sorted window;
    # identical rounded-cosine / lowest-centroid_id tie semantics)
    scored = (
        emb.select("vec_id", "label", "embedding")
        .withColumn(
            "_vn", F.sqrt(dot(F.col("embedding"), F.col("embedding")))
        )
        .crossJoin(
            F.broadcast(
                cent.withColumn(
                    "_cn", F.sqrt(dot(F.col("cv"), F.col("cv")))
                )
            )
        )
        .withColumn(
            "_sim",
            F.round(
                F.try_divide(
                    dot(F.col("embedding"), F.col("cv")),
                    F.col("_vn") * F.col("_cn"),
                ),
                6,
            ),
        )
    )
    key = F.struct(
        (-F.coalesce(F.col("_sim"), F.lit(-2.0))).alias("ns"),
        F.col("centroid_id").alias("cid"),
    )
    assigned = (
        scored.groupBy("vec_id")
        .agg(F.min(key).alias("_k"), F.first("label").alias("label"))
        .select("vec_id", "label", F.col("_k.cid").alias("cell"))
    )
    ct = assigned.groupBy("cell", "label").agg(
        F.count(F.lit(1)).cast("long").alias("n_cl")
    ).localCheckpoint(eager=False)
    margins = ct.groupBy("cell").agg(
        F.sum("n_cl").cast("long").alias("n_c")
    )
    lmargins = ct.groupBy("label").agg(
        F.sum("n_cl").cast("long").alias("n_l")
    )
    tot = ct.agg(F.sum("n_cl").cast("long").alias("n"))
    mi = (
        ct.join(F.broadcast(margins), "cell")
        .join(F.broadcast(lmargins), "label")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.expr(
                "CAST(SUM(n_cl * CAST(ROUND(ln("
                "(CAST(n AS DOUBLE) * CAST(n_cl AS DOUBLE))"
                " / (CAST(n_c AS DOUBLE) * CAST(n_l AS DOUBLE))"
                "), 6) * 1000000 AS BIGINT)) AS BIGINT)"
            ).alias("mi_un")
        )
    )
    hc = margins.crossJoin(F.broadcast(tot)).agg(
        F.expr(
            "CAST(SUM(n_c * CAST(ROUND(ln("
            "CAST(n AS DOUBLE) / CAST(n_c AS DOUBLE)"
            "), 6) * 1000000 AS BIGINT)) AS BIGINT)"
        ).alias("hc_un")
    )
    hl = lmargins.crossJoin(F.broadcast(tot)).agg(
        F.expr(
            "CAST(SUM(n_l * CAST(ROUND(ln("
            "CAST(n AS DOUBLE) / CAST(n_l AS DOUBLE)"
            "), 6) * 1000000 AS BIGINT)) AS BIGINT)"
        ).alias("hl_un")
    )
    pur = (
        ct.groupBy("cell")
        .agg(F.max("n_cl").alias("mx"))
        .agg(F.sum("mx").cast("long").alias("pure_n"))
    )
    n_cl_count = margins.agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters")
    )
    n_lb_count = lmargins.agg(
        F.count(F.lit(1)).cast("long").alias("n_labels")
    )
    return (
        tot.crossJoin(F.broadcast(pur))
        .crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hc))
        .crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(n_cl_count))
        .crossJoin(F.broadcast(n_lb_count))
        .select(
            F.col("n").alias("n_vecs"),
            "n_clusters",
            "n_labels",
            F.expr("CAST(1000000 * pure_n DIV n AS BIGINT)").alias(
                "purity_ppm"
            ),
            F.expr(
                "CAST(CASE WHEN hc_un <= 0 OR hl_un <= 0 THEN NULL"
                " ELSE FLOOR(1000.0 * CAST(mi_un AS DOUBLE)"
                " / SQRT(CAST(hc_un AS DOUBLE) * CAST(hl_un AS DOUBLE)))"
                " END AS BIGINT)"
            ).alias("nmi_milli"),
        )
    )


# ------------------- ColBERT-style MaxSim late-interaction retrieval

_MS_TOKENS = 4   # token vectors per doc: 4 x 16-d slices of the 64-d
_MS_SUB = 16     # dims per token vector
_MS_QUERIES = 5
_MS_TOPK = 10


@register(
    "maxsim_multivector_topk",
    oracle=f"""
    WITH tok AS (
        SELECT vec_id, t.t AS tok,
               embedding[(t.t * {_MS_SUB} + 1):((t.t + 1) * {_MS_SUB})]
                   AS v
        FROM embeddings,
             (SELECT unnest(range(0, {_MS_TOKENS})) AS t) t
    ),
    q AS (SELECT vec_id AS query_id, tok AS qt, v AS qv FROM tok
          WHERE vec_id < {_MS_QUERIES}),
    d AS (SELECT vec_id AS doc_id, tok AS dt, v AS dv FROM tok
          WHERE vec_id >= {_MS_QUERIES}),
    sims AS (
        SELECT query_id, doc_id, qt,
               CAST(FLOOR(
                 list_sum(list_transform(range(1, {_MS_SUB} + 1),
                     i -> CAST(qv[CAST(i AS INT)] AS DOUBLE)
                          * CAST(dv[CAST(i AS INT)] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(range(1, {_MS_SUB} + 1),
                     i -> CAST(qv[CAST(i AS INT)] AS DOUBLE)
                          * CAST(qv[CAST(i AS INT)] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(range(1, {_MS_SUB} + 1),
                     i -> CAST(dv[CAST(i AS INT)] AS DOUBLE)
                          * CAST(dv[CAST(i AS INT)] AS DOUBLE)))))
                 * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
               AS BIGINT) AS cos_micro
        FROM q CROSS JOIN d
    ),
    best AS (
        SELECT query_id, doc_id, qt, MAX(cos_micro) AS m
        FROM sims GROUP BY query_id, doc_id, qt
    ),
    score AS (
        SELECT query_id, doc_id, CAST(SUM(m) AS BIGINT) AS maxsim_micro
        FROM best GROUP BY query_id, doc_id
    )
    SELECT query_id, doc_id, maxsim_micro FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY maxsim_micro DESC, doc_id) AS rn
        FROM score
    ) WHERE rn <= {_MS_TOPK}
    """,
    tags=("vector", "topk", "retrieval"),
    doc="ColBERT-style late-interaction retrieval (Khattab & Zaharia "
    "2020): documents and queries carry MULTI-vector representations "
    f"(each 64-d embedding viewed as {_MS_TOKENS} token vectors of "
    f"{_MS_SUB} dims — the deterministic stand-in for per-token "
    "encoder output), scored by MaxSim = sum over query tokens of "
    "the max cosine against any doc token — the interaction single-"
    "vector cosine cannot express (a doc matching each query facet "
    "with a DIFFERENT token outranks one with a mediocre all-round "
    "vector). Per-token cosines quantize to micro-units via the "
    "portable floor(x*1e6+0.5) so the max/sum reduction is exact "
    "BIGINT — no float fold-order surface. Plan: token explode is a "
    "map-side transform; the query side (Q x tokens rows) "
    "broadcasts; max-then-sum is one partial-aggregating shuffle "
    "keyed (query, doc); top-k is a per-query window cut. At 100 TB "
    "the doc-token side stays partitioned, queries broadcast, and "
    "the per-token max folds map-side — the same contract as "
    "ann_cosine_topk with a 4x row fan-out; the IVF/LSH variants "
    "bucket THIS op's token space the same way.",
)
def maxsim_multivector_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    tok = emb.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {_MS_TOKENS - 1}), t -> "
                f"struct(t AS tok, "
                f"slice(embedding, t * {_MS_SUB} + 1, {_MS_SUB}) AS v))"
            )
        ).alias("s"),
    ).select("vec_id", F.col("s.tok").alias("tok"), F.col("s.v").alias("v"))
    q = tok.where(F.col("vec_id") < _MS_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("tok").alias("qt"),
        F.col("v").alias("qv"),
    )
    d = tok.where(F.col("vec_id") >= _MS_QUERIES).select(
        F.col("vec_id").alias("doc_id"),
        F.col("tok").alias("dt"),
        F.col("v").alias("dv"),
    )
    # norms hoisted out of the cross join (one fold per token row, not
    # two per pair; same doubles multiplied in the same order)
    q = q.withColumn("nq", F.sqrt(dot(F.col("qv"), F.col("qv"))))
    d = d.withColumn("nd", F.sqrt(dot(F.col("dv"), F.col("dv"))))
    qd = dot(F.col("qv"), F.col("dv"))
    cos_micro = F.expr(
        "CAST(FLOOR(cos_d * CAST(1000000 AS DOUBLE) "
        "+ CAST(0.5 AS DOUBLE)) AS BIGINT)"
    )
    sims = (
        d.crossJoin(F.broadcast(q))
        .withColumn("cos_d", qd / (F.col("nq") * F.col("nd")))
        .select("query_id", "doc_id", "qt", cos_micro.alias("cos_micro"))
    )
    best = sims.groupBy("query_id", "doc_id", "qt").agg(
        F.max("cos_micro").alias("m")
    )
    score = best.groupBy("query_id", "doc_id").agg(
        F.sum("m").cast("long").alias("maxsim_micro")
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("maxsim_micro"), F.col("doc_id")
    )
    return (
        score.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _MS_TOPK)
        .select("query_id", "doc_id", "maxsim_micro")
    )
