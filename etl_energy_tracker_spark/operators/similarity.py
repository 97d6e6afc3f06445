"""Similarity search over embedding columns (array<float>).

Two paths:
- ``brute_force_topk``: exact cosine top-k. The query set broadcasts;
  each partition scores its corpus slice independently (one cross join
  against a tiny side, then a per-query window cut). O(Q·N) work but
  zero corpus shuffle — the right baseline up to ~10⁴ queries.
- ``lsh_topk``: random-hyperplane LSH. Deterministic pseudo-random
  planes derived from the portable hash (no RNG state to ship);
  vectors bucket by sign pattern, the exact rescoring runs within
  buckets only. At 100 TB this is the shape that works: signature
  build is map-only, the join key is the bucket id, and recall/cost
  trades via n_planes (coarser buckets = more recall, more work).
An IVF variant would cluster on a sampled k-means codebook; with the
same "bucket then rescore" shape — LSH chosen here because it needs
no training pass.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import MOD


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns (left fold, 0.0 seed).

    The fold is width-agnostic on purpose: an unrolled explicit-sum
    variant (64 GetArrayItem multiply-add terms, bit-identical fold
    order) was tried in r12 and REVERTED — the giant expression trees
    made every consumer 3-5x SLOWER end to end (planning + codegen
    swamped the saved lambda dispatch; even a single-dot aggregate
    query went 0.24 s -> 0.99 s). The interpreted fold is the fast
    shape here; see OPTIMIZATION_r12.md."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def with_norm(df: DataFrame, vec_col: str, out: str = "norm") -> DataFrame:
    """Precompute the L2 norm once per vector — pair-scoring then needs
    only the dot product (one fold per pair instead of three)."""
    return df.withColumn(out, F.sqrt(dot(F.col(vec_col), F.col(vec_col))))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k of ``embedding`` per query."""
    # norms hoisted out of the cross join: each side pays one fold per
    # ROW instead of three folds per PAIR (identical doubles — the same
    # expression on the same input, multiplied in the same order)
    q = with_norm(
        queries.select(F.col(query_id).alias("query_id"), F.col("embedding").alias("qv")),
        "qv", "qn",
    )
    c = with_norm(
        corpus.select(F.col(corpus_id).alias("corpus_id"), F.col("embedding").alias("cv")),
        "cv", "cn",
    )
    scored = c.crossJoin(F.broadcast(q)).withColumn(
        "cosine",
        F.round(
            F.try_divide(
                dot(F.col("qv"), F.col("cv")), F.col("qn") * F.col("cn")
            ),
            6,
        ),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "corpus_id")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select("query_id", "corpus_id", "cosine")
    )


def plane_weight(plane: int, dim: int) -> int:
    """Deterministic pseudo-random weight in [-1000, 1000] for
    (plane, dimension): the portable polynomial hash of 'p{plane}d{dim}'
    — the DuckDB oracle derives the identical values with its SQL fold,
    so the hyperplanes are engine-portable with no RNG state."""
    acc = 7
    for ch in f"p{plane}d{dim}":
        acc = (acc * 31 + ord(ch)) % MOD
    return (acc % 2001) - 1000


def with_lsh_bucket(df: DataFrame, vec_col: str, n_planes: int) -> DataFrame:
    """Sign pattern of n_planes hyperplane projections of a 64-dim
    vector → the ``bucket`` column.

    The projection is one Arrow-batched matmul (vectors × plane matrix)
    — a vectorized Pandas UDF, ~10× faster than the per-element
    higher-order-function fold it replaces (the fold evaluated
    n_planes·dim lambdas per row). Plane weights are the deterministic
    portable-hash values, so buckets stay engine-portable: the double
    matmul and the SQL fold agree on the projection far beyond the sign
    decision (|projection| ≫ fp error for any real vector)."""
    from pyspark.sql.functions import pandas_udf

    w = np.array(
        [[plane_weight(p, d) for p in range(n_planes)] for d in range(64)],
        dtype="float64",
    )
    powers = np.array([1 << p for p in range(n_planes)], dtype="int64")

    @pandas_udf("long")
    def bucket_of(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype("float64")  # (batch, dim)
        proj = m @ w[: m.shape[1]]  # (batch, n_planes)
        return pd.Series(((proj >= 0) @ powers).astype("int64"))

    return df.withColumn("bucket", bucket_of(F.col(vec_col)))


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    k: int = 10,
    n_planes: int = 8,
) -> DataFrame:
    """Approximate top-k of ``embedding``: join on LSH bucket, exact
    cosine within."""
    q = with_norm(
        with_lsh_bucket(
            queries.select(F.col(query_id).alias("query_id"), F.col("embedding").alias("qv")),
            "qv",
            n_planes,
        ),
        "qv",
        "qn",
    )
    c = with_norm(
        with_lsh_bucket(
            corpus.select(F.col(corpus_id).alias("corpus_id"), F.col("embedding").alias("cv")),
            "cv",
            n_planes,
        ),
        "cv",
        "cn",
    )
    scored = c.join(F.broadcast(q), "bucket").withColumn(
        "cosine",
        F.round(
            F.try_divide(dot(F.col("qv"), F.col("cv")), F.col("qn") * F.col("cn")), 6
        ),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "corpus_id")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select("query_id", "corpus_id", "cosine")
    )


def scaled_n_planes(n_vectors: int) -> int:
    """Hyperplane count that scales with corpus size: bucket count
    (2^planes per band) grows like N / 32 (the target bucket size), so
    in-bucket candidate pairs stay ~O(N · 32) instead of O(N²/const).
    At N = 1e9 this is 25 planes (~33M buckets); small corpora keep the
    floor of 8 planes. The target bucket dropped 500 -> 32 after the
    x30 scale probe: the old value left a wide quadratic window
    (planes sat at the floor until N > 128k while bucket sizes — and
    with clustered embeddings, HOT bucket sizes — grew linearly),
    measured at 300x cost on 30x data. Below N = 8192 both values
    resolve to the floor, so small-corpus results are unchanged. The
    formula is engine-portable (same GREATEST/ceil/log2 in the
    DuckDB oracle)."""
    import math

    if n_vectors <= 32:
        return 8
    return max(8, math.ceil(math.log2(n_vectors / 32)))


def with_lsh_bands(
    df: DataFrame,
    vec_col: str,
    n_planes: int,
    n_bands: int,
) -> DataFrame:
    """Multi-band LSH signatures of a 64-dim vector as the ``bands``
    column: ``n_bands`` independent plane sets of
    ``n_planes`` each (global plane index p ∈ [0, bands·planes), band =
    p div planes, bit = p mod planes). A pair is a candidate if it
    collides in ANY band — bands multiply recall the way MinHash-LSH
    banding does, at linear (not quadratic) extra cost. One Arrow
    matmul computes every band's projection in a single pass."""
    from pyspark.sql.functions import pandas_udf

    total = n_planes * n_bands
    w = np.array(
        [[plane_weight(p, d) for p in range(total)] for d in range(64)],
        dtype="float64",
    )
    powers = np.array([1 << (p % n_planes) for p in range(total)], dtype="int64")
    band_masks = [
        np.array([p // n_planes == b for p in range(total)]) for b in range(n_bands)
    ]

    @pandas_udf("array<long>")
    def bands_of(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        m = np.stack(vecs.to_numpy()).astype("float64")  # (batch, dim)
        contrib = ((m @ w[: m.shape[1]]) >= 0) * powers  # (batch, total)
        res = np.stack(
            [contrib[:, mask].sum(axis=1) for mask in band_masks], axis=1
        )  # (batch, n_bands)
        return pd.Series(list(res))

    return df.withColumn("bands", bands_of(F.col(vec_col)))


def cosine_pairs(
    pairs: DataFrame,
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Score candidate (id_a, id_b) pairs with exact ``cosine`` via one
    Arrow-batched numpy kernel (row-wise dot of the two stacked
    matrices) — replaces the interpreted zip_with/aggregate fold that
    cost ~128 lambda evaluations per pair. Norms are computed once per
    vector (vectorized), so each pair pays a single fused multiply-add
    sweep. Join strategy is left to AQE: the vector side broadcasts
    when small, shuffles on id otherwise."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def batch_dot(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        ma = np.stack(a.to_numpy()).astype("float64")
        mb = np.stack(b.to_numpy()).astype("float64")
        return pd.Series(np.einsum("ij,ij->i", ma, mb))

    @pandas_udf("double")
    def batch_norm(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="float64")
        m = np.stack(v.to_numpy()).astype("float64")
        return pd.Series(np.sqrt(np.einsum("ij,ij->i", m, m)))

    v = vectors.select(
        F.col(id_col).alias("_vid"),
        F.col(vec_col).alias("_vv"),
    ).withColumn("_vn", batch_norm(F.col("_vv")))
    a = v.select(
        F.col("_vid").alias("id_a"), F.col("_vv").alias("_va"), F.col("_vn").alias("_na")
    )
    b = v.select(
        F.col("_vid").alias("id_b"), F.col("_vv").alias("_vb"), F.col("_vn").alias("_nb")
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "cosine",
            F.try_divide(batch_dot(F.col("_va"), F.col("_vb")), F.col("_na") * F.col("_nb")),
        )
        .drop("_va", "_vb", "_na", "_nb")
    )


def near_dup_pairs(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_vectors: int,
    n_bands: int = 2,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, scale-safe:

    - plane count from :func:`scaled_n_planes` — bucket count grows
      with the corpus, so candidates stay near-linear (round-1 used a
      fixed 256 buckets: O(N²/256) — a quadratic scale-killer);
    - ``n_bands`` independent plane sets recover the recall that finer
      buckets would otherwise lose;
    - exact cosine only on candidates, via the Arrow numpy kernel.

    Caller passes ``n_vectors`` (a cheap count / table statistic) so the
    plan stays lazily composable."""
    n_planes = scaled_n_planes(n_vectors)
    banded = (
        with_lsh_bands(
            vectors.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vv")),
            "vv",
            n_planes,
            n_bands,
        )
        .select("vid", F.posexplode("bands").alias("band", "bucket"))
    )
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(F.col("a.vid").alias("id_a"), F.col("b.vid").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    scored = cosine_pairs(cands, vectors, id_col, vec_col)
    return scored.withColumn("cosine", F.round("cosine", 6)).where(
        F.col("cosine") >= threshold
    )


def _orderable(dt: T.DataType) -> bool:
    """Whether Spark can order values of ``dt`` (min/max, sort keys)."""
    if isinstance(dt, (T.MapType, T.VariantType)):
        return False
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    return True


def with_ivf_cell(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str,
    id_col: str,
    n_probe: int = 1,
) -> DataFrame:
    """IVF cell assignment: nearest ``n_probe`` centroids by cosine, as
    the ``cell`` column.

    ``centroids`` is the codebook (centroid_id, cv) — small, broadcast.
    In a production IVF the codebook comes from k-means over a sample;
    the operator is agnostic to how it was trained. Returns one row per
    (input row, probed cell): n_probe=1 for indexing the corpus,
    n_probe>1 for multi-probe query expansion.

    n_probe=1 (the full-corpus indexing side) takes the argmax with a
    groupBy min-struct aggregate instead of a row_number window: the
    window shuffled AND sorted n x k scored rows; the aggregate's
    map-side partials collapse each row's k candidates before the
    exchange, so only n unsorted rows move. Tie/NULL semantics match
    the window exactly: similarity rounded to 6 dp, lowest centroid_id
    wins ties, and an all-NULL-similarity row (zero-norm vector) gets
    the lowest centroid_id (NULL keys are mapped below any real cosine,
    mirroring the DESC NULLS LAST ranking). Every payload column must
    therefore be orderable: a map- or variant-typed one raises
    ``TypeError`` here rather than deep in analysis."""
    if n_probe == 1:
        for f in df.schema.fields:
            if f.name != id_col and not _orderable(f.dataType):
                raise TypeError(
                    f"with_ivf_cell(n_probe=1): payload column {f.name!r} has "
                    f"unorderable type {f.dataType.simpleString()}; drop it or "
                    "join it back on the id after assignment"
                )
    cents = centroids.withColumn(
        "_cn", F.sqrt(dot(F.col("cv"), F.col("cv")))
    )
    # vector norm hoisted out of the cross join: one fold per row, not
    # one per (row, centroid); same doubles, multiplied in the same
    # order as the original sqrt(v.v) * sqrt(c.c)
    base = df.withColumn("_vn", F.sqrt(dot(F.col(vec_col), F.col(vec_col))))
    scored = base.crossJoin(F.broadcast(cents)).withColumn(
        "_sim",
        # try_divide: zero-norm rows get NULL similarity and fall to the
        # bottom of the DESC (NULLS LAST) ranking instead of erroring
        F.round(
            F.try_divide(
                dot(F.col(vec_col), F.col("cv")),
                F.col("_vn") * F.col("_cn"),
            ),
            6,
        ),
    )
    if n_probe == 1:
        # Payload columns ride INSIDE the min-struct key (ADVICE r12):
        # (ns, cid) is already unique per group — every candidate row
        # of one input row has a distinct centroid_id — so the trailing
        # payload fields never influence the ordering, and the winner
        # is one COHERENT source row even if a caller passes duplicate
        # id_col values (F.first() could mix columns across rows).
        rest = [c for c in df.columns if c != id_col]
        key = F.struct(
            (-F.coalesce(F.col("_sim"), F.lit(-2.0))).alias("_ns"),
            F.col("centroid_id").alias("_cid"),
            *[F.col(c).alias(c) for c in rest],
        )
        best = scored.groupBy(id_col).agg(F.min(key).alias("_k"))
        return best.select(
            *[
                F.col(c) if c == id_col else F.col(f"_k.{c}").alias(c)
                for c in df.columns
            ],
            F.col("_k._cid").alias("cell"),
        )
    w = W.partitionBy(id_col).orderBy(F.desc("_sim"), "centroid_id")
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= n_probe)
        .withColumn("cell", F.col("centroid_id"))
        .drop("cv", "_sim", "_rk", "centroid_id", "_vn", "_cn")
    )


def with_ivf_cell_mapside(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str,
    out: str = "cell",
) -> DataFrame:
    """Map-side IVF cell assignment: zero-shuffle nearest-centroid.

    ``with_ivf_cell`` broadcasts the codebook but then ranks per row
    with a window partitioned by the row id — a full-corpus exchange
    just to take an argmax. Here the codebook (a trained artifact of
    bounded size, k x dim — the same object faiss keeps resident in
    RAM) is collected once and inlined as a literal array of structs,
    so assignment is a single projection: the executor folds over the
    k centroids per row and keeps the best. No exchange at any corpus
    size; cost is O(k·dim) per row either way.

    Tie semantics match ``with_ivf_cell(n_probe=1)`` exactly: cosine
    rounded to 6 decimals, lowest centroid_id wins ties (the fold
    visits centroids in ascending id order and only replaces on a
    strictly greater similarity), and an all-NULL-similarity row
    (zero-norm vector) gets the lowest centroid_id — the same row the
    windowed variant's NULLS LAST ordering emits at rank 1.
    """
    import math

    rows = sorted(centroids.collect(), key=lambda r: r["centroid_id"])
    structs = [
        F.struct(
            F.lit(int(r["centroid_id"])).alias("cid"),
            F.array(*[F.lit(float(x)) for x in r["cv"]]).alias("cv"),
            F.lit(math.sqrt(sum(float(x) ** 2 for x in r["cv"]))).alias("cnorm"),
        )
        for r in rows
    ]
    cents = F.array(*structs)
    v = F.col(vec_col)
    vnorm = F.sqrt(dot(v, v))
    # transform() computes each centroid similarity ONCE; the fold then
    # only compares struct fields (a when-condition that recomputed the
    # dot product would double the O(k·dim) projection cost). The pair
    # dot stays the aggregate(zip_with) left fold — same addition order
    # as everywhere else; the unrolled-expression variant was tried and
    # REVERTED in r12 (3-5x slower; see dot()'s docstring).
    sims = F.transform(
        cents,
        lambda c: F.struct(
            F.round(F.try_divide(dot(v, c["cv"]), vnorm * c["cnorm"]), 6).alias("sim"),
            c["cid"].alias("cid"),
        ),
    )
    first_cid = int(rows[0]["centroid_id"]) if rows else -1
    best = F.aggregate(
        sims,
        F.struct(
            F.lit(None).cast("double").alias("sim"), F.lit(first_cid).alias("cid")
        ),
        lambda acc, c: F.when(
            c["sim"].isNotNull() & (acc["sim"].isNull() | (c["sim"] > acc["sim"])),
            c,
        ).otherwise(acc),
    )
    return df.withColumn(out, best["cid"])


def train_ivf_codebook(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 16,
    iters: int = 1,
) -> DataFrame:
    """Data-derived IVF codebook: deterministic k-means.

    Init assigns vector i to cell ``i mod k`` (no RNG state — the
    engine-portable analog of random init); each Lloyd iteration takes
    per-dimension means as the new centroids (rounded to 4 dp so both
    engines agree despite sum-order ulps) and reassigns by rounded
    cosine with centroid-id tie-break. In production you run this on a
    SAMPLE (the codebook is k×dim — tiny); the operator is agnostic to
    how its input was sampled.

    Scale shape: the per-dim mean is one explode + hash aggregate
    (k·dim groups — map-side partials collapse it); reassignment is a
    groupBy min-struct argmax (n unsorted rows per exchange, the
    with_ivf_cell n_probe=1 shape) instead of a row_number window over
    the n·k scored rows — same tie semantics (rounded cosine, lowest
    centroid_id). A dim-wide column-per-dimension mean variant was
    tried and REVERTED: embedding the 64-aggregate codebook subplan in
    every downstream consumer doubled the train users' runtimes.
    Assignment broadcasts the k-row codebook. Returns
    (centroid_id, cv)."""
    long = vectors.select(
        F.col(id_col).alias("vid"), F.posexplode(vec_col).alias("d", "v")
    ).withColumn("v", F.col("v").cast("double"))
    assign = long.select("vid", (F.col("vid") % k).alias("cell")).distinct()

    def centroids_of(assign_df: DataFrame) -> DataFrame:
        means = (
            long.join(assign_df, "vid")
            .groupBy("cell", "d")
            .agg(F.round(F.avg("v"), 4).alias("m"))
        )
        return means.groupBy("cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "m"))), lambda s: s["m"]
            ).alias("cv")
        ).select(F.col("cell").alias("centroid_id"), "cv")

    cent = centroids_of(assign)
    for _ in range(iters):
        scored = vectors.select(
            F.col(id_col).alias("vid"), F.col(vec_col).alias("vv")
        ).withColumn(
            "_vn", F.sqrt(dot(F.col("vv"), F.col("vv")))
        ).crossJoin(
            F.broadcast(
                cent.withColumn("_cn", F.sqrt(dot(F.col("cv"), F.col("cv"))))
            )
        ).withColumn(
            "_sim",
            F.round(
                F.try_divide(
                    dot(F.col("vv"), F.col("cv")), F.col("_vn") * F.col("_cn")
                ),
                6,
            ),
        )
        key = F.struct(
            (-F.coalesce(F.col("_sim"), F.lit(-2.0))).alias("ns"),
            F.col("centroid_id").alias("cid"),
        )
        assign = (
            scored.groupBy("vid")
            .agg(F.min(key).alias("_k"))
            .select("vid", F.col("_k.cid").alias("cell"))
        )
        cent = centroids_of(assign)
    return cent


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    query_id: str,
    corpus_id: str,
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """IVF approximate top-k of ``embedding``: corpus indexed into
    cells (nearest centroid), queries probe their n_probe nearest
    cells, exact cosine rescoring within the probed cells only. Same
    bucket-then-rescore shape as LSH, but with a data-derived codebook — better recall on
    clustered corpora; needs the (cheap, sampled) training pass."""
    q = queries.select(F.col(query_id).alias("query_id"), F.col("embedding").alias("qv"))
    c = corpus.select(F.col(corpus_id).alias("corpus_id"), F.col("embedding").alias("ev"))
    q_cells = with_ivf_cell(q, centroids, "qv", "query_id", n_probe=n_probe)
    c_cells = with_norm(
        with_ivf_cell(c, centroids, "ev", "corpus_id", n_probe=1), "ev", "cn"
    )
    q_cells = with_norm(q_cells, "qv", "qn")
    scored = c_cells.join(F.broadcast(q_cells), "cell").withColumn(
        "cosine",
        F.round(
            F.try_divide(dot(F.col("qv"), F.col("ev")), F.col("qn") * F.col("cn")),
            6,
        ),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "corpus_id")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select("query_id", "corpus_id", "cosine")
        .dropDuplicates(["query_id", "corpus_id"])
    )
