"""Embedding similarity search — brute-force cosine top-k and IVF-bucketed ANN.

Operates on a table shaped like the driver's ``embeddings`` parquet:
(vec_id:long, embedding:array<float>, label:int). All arithmetic is JVM-side
higher-order array expressions in DOUBLE precision (zip_with + aggregate),
summing left-to-right so the DuckDB oracle (list_transform + list_sum)
produces bit-identical sums; outputs expose only ids and ranks, never raw
floats, so value-hash comparison is float-safe.

Scale design:
- brute force is O(Q * N): fine when the query side is small (the corpus side
  streams; Catalyst broadcasts the query side). This is the baseline and the
  verification oracle.
- ``ivf_topk`` is the scale path: a coarse quantizer assigns every vector to
  its nearest centroid (small centroid table, broadcast), and search touches
  only the query's own cell — the cross join shrinks from N^2 to
  sum over cells of |cell|^2 / ~C. Centroids here are taken deterministically
  from the corpus (first ``n_centroids`` ids) instead of k-means so the
  oracle SQL can reproduce them exactly; on a real cluster the centroid table
  would come from a k-means job and the plan is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from crawler_spark.operators.dedup import blocked_pairs


def dot(a: Column, b: Column) -> Column:
    """Double-precision dot product of two float-array columns (JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """NULL (not NaN) when either vector has zero norm: 0/0 = NaN, and Spark
    sorts NaN ABOVE every real value in a descending window — a zero vector
    would otherwise become the rank-1 neighbor of every query and pass any
    `>= threshold` filter. NULL instead sorts last (desc_nulls_last default)
    and fails the threshold comparison in both engines."""
    d = norm(a) * norm(b)
    return F.when(d != 0, dot(a, b) / d)


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: for each query row, the k nearest corpus rows.

    Returns (query_id, neighbor_id, rank), rank 1-based, self-matches
    excluded, ties broken by neighbor_id (deterministic).
    """
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    c = vectors.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("_sim", cosine(F.col("_qv"), F.col("_cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _centroids(
    vectors: DataFrame, n_centroids: int, id_col: str, vec_col: str
) -> DataFrame:
    """The deterministic centroid table (cell, _cent): the ``n_centroids``
    SMALLEST ids — sort-limit (TakeOrderedAndProject), never ``id <
    n_centroids``, which silently selects nothing on offset or sparse id
    spaces. THE single definition: ivf_assign and ivf_topk's probe ranking
    must pick identical centroids or probing visits cells that don't match
    the assignment."""
    return (
        vectors.select(F.col(id_col).alias("cell"), F.col(vec_col).alias("_cent"))
        .orderBy("cell")
        .limit(int(n_centroids))
    )


def ivf_assign(
    vectors: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest deterministic centroid (IVF cells).

    Centroids = the ``n_centroids`` smallest ids. Returns
    (vec_id, embedding, cell) where cell is the centroid id; argmin by cosine,
    ties to the smaller centroid id.
    """
    cent = _centroids(vectors, n_centroids, id_col, vec_col)
    scored = vectors.crossJoin(F.broadcast(cent)).withColumn(
        "_sim", cosine(F.col(vec_col), F.col("_cent"))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("_sim"), F.asc("cell"))
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == 1)
        .select(id_col, vec_col, "cell")
    )


def embedding_neardup(
    vectors: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_blocked: bool = False,
    n_centroids: int = 8,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine: (vec_a, vec_b), a < b.

    Exact mode compares all pairs — the verification baseline, quadratic.
    ``cell_blocked=True`` is the scale path: candidates are limited to pairs
    sharing an IVF cell (ivf_assign), turning N^2 into sum-of-cell^2 at the
    cost of missing cross-cell pairs — the embedding analog of LSH banding.
    Output carries no float column so oracle value-hashing is exact.
    """
    if cell_blocked:
        assigned = ivf_assign(vectors, n_centroids, id_col, vec_col).localCheckpoint(
            eager=False
        )
        pairs = blocked_pairs(assigned, id_col, "cell", carry=(vec_col,)).toDF(
            "cell", "vec_a", "_va", "vec_b", "_vb"
        )
    else:
        # not blocked_pairs: the exact mode is the all-pairs baseline the
        # blocked paths are checked against, so it has no block key. The id
        # order is a filter, not the join condition: Spark prepends a pushed
        # predicate to the condition, so the cosine would run on all N^2
        # ordered pairs before the cheap comparison cut them to half
        a = vectors.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("_va"))
        b = vectors.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("_vb"))
        pairs = a.crossJoin(b).where(F.col("vec_a") < F.col("vec_b"))
    return (
        pairs.where(cosine(F.col("_va"), F.col("_vb")) >= threshold)
        .select("vec_a", "vec_b")
    )


def srp_planes(n_planes: int = 16, dim: int = 64) -> list[list[float]]:
    """Deterministic signed-random-projection hyperplanes.

    w[j][d] = ((md5-hash60("srp:j:d") % 2001) - 1000) / 1000 — pure Python,
    reproducible digit-for-digit inside the DuckDB oracle SQL (both engines
    parse the same 3-decimal literal to the same double). Seedless on
    purpose, like the MinHash permutation constants.
    """
    import hashlib

    out = []
    for j in range(n_planes):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"srp:{j}:{d}".encode()).hexdigest()[:15], 16)
            row.append(((h % 2001) - 1000) / 1000)
        out.append(row)
    return out


def srp_neardup(
    vectors: DataFrame,
    threshold: float = 0.4,
    n_planes: int = 16,
    band_size: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Near-dup pairs via signed-random-projection LSH (Charikar 2002) —
    the LSH-BUCKETED cosine scale path, complementing the IVF-cell one.

    Signature bit j = sign(v . h_j) over deterministic hyperplanes; bits
    group into ``n_planes // band_size`` bands and candidates are pairs
    sharing a band code — an equality-join shuffle keyed on the code, never
    a cross join (P[bit match] = 1 - theta/pi, so a band of r bits hits with
    (1 - theta/pi)^r; production stacks more bands/tables for low-threshold
    recall — here the EXACT cosine verify stage makes the output precise for
    whatever the bands surface). Signatures are static column expressions
    (literal weight arrays, no shuffle); unlike IVF there is no centroid
    assignment pass at all. Returns (vec_a, vec_b), a < b.
    """
    planes = srp_planes(n_planes, dim)
    bits = [
        F.when(
            dot(F.col(vec_col), F.array(*[F.lit(w) for w in p])) > 0, F.lit("1")
        ).otherwise(F.lit("0"))
        for p in planes
    ]
    n_bands = n_planes // band_size
    band_keys = [
        F.concat(F.lit(f"{b}:"), *bits[b * band_size : (b + 1) * band_size])
        for b in range(n_bands)
    ]
    # dim guard inside the output expression (cannot be pruned): zip_with
    # null-pads a length mismatch, every dot goes NULL, every bit reads '0',
    # and ALL vectors share EVERY band bucket — the LSH silently degenerates
    # to a full quadratic self-join. Fail loudly instead.
    guarded = F.when(
        F.size(F.col(vec_col)) == dim, F.array(*band_keys)
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"srp_neardup: vector dim != dim param ({dim}); got "),
                F.size(F.col(vec_col)).cast("string"),
            )
        )
    )
    # materialize the bit projection ONCE: the candidate self-join would
    # otherwise evaluate all n_planes 64-element dot products on BOTH sides
    # (the r3 shingling-CSE lesson, VERDICT r3 #2 / dedup.doc_shingles note)
    keyed = vectors.select(
        F.col(id_col).alias("vid"), F.explode(guarded).alias("bucket")
    ).localCheckpoint(eager=False)
    cand = (
        blocked_pairs(keyed, "vid", "bucket")
        .select(F.col("vid_a").alias("vec_a"), F.col("vid_b").alias("vec_b"))
        .distinct()
    )
    va = vectors.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("_va"))
    vb = vectors.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("_vb"))
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .where(cosine(F.col("_va"), F.col("_vb")) >= threshold)
        .select("vec_a", "vec_b")
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    n_centroids: int = 8,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """IVF ANN: top-k within the query's ``nprobe`` nearest centroid cells.

    Returns (query_id, neighbor_id, rank). Approximate: recall vs brute
    force rises with nprobe (measured sweep in BENCH/BASELINE.md); cost is
    ~nprobe/n_centroids of the corpus per query. The candidate join stays
    cell-co-partitioned; each corpus vector lives in exactly one cell, so
    probing more cells never duplicates a candidate.
    """
    # materialized once: the assignment feeds the corpus side
    assigned = ivf_assign(vectors, n_centroids, id_col, vec_col).localCheckpoint(eager=False)
    # query cells come from the queries' OWN vectors ranked against the
    # broadcast centroids (nprobe=1 is just top-1) — the same argmin +
    # smaller-cell tie-break as ivf_assign, so an in-corpus query lands in
    # its assigned cell bit-for-bit, and an out-of-corpus query now WORKS
    # instead of being silently dropped by an id join against the corpus
    cent = _centroids(vectors, n_centroids, id_col, vec_col)
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    scored_q = qv.crossJoin(F.broadcast(cent)).withColumn(
        "_csim", cosine(F.col("_qv"), F.col("_cent"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("_csim"), F.asc("cell"))
    q = (
        scored_q.withColumn("_qr", F.row_number().over(wq))
        .where(F.col("_qr") <= nprobe)
        .select("query_id", "_qv", "cell")
    )
    c = assigned.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"), "cell")
    scored = (
        c.join(F.broadcast(q), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("_sim", cosine(F.col("_qv"), F.col("_cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


# ------------------------------------------------- int8 quantization recall

def int8_quantize(
    vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, qvec, qnorm): symmetric int8 quantization with ONE global scale
    127/max|x| — the memory/bandwidth lever of large-scale ANN (a 10^10 x
    64-dim float corpus is 2.5 TB; int8 is a quarter of that and the dot
    products become exact int64 arithmetic). Floor quantization (not
    round-half-even) because floor((x*127.0)/amax) is bit-identical across
    engines; the global abs-max is an exact aggregation of doubles.
    qnorm (the self dot product) is precomputed per row so the pairwise
    stage never recomputes it.
    """
    amax = vectors.select(
        F.explode(vec_col).alias("_x")
    ).agg(F.max(F.abs(F.col("_x").cast("double"))).alias("_amax"))
    qvec = F.expr(
        f"transform({vec_col}, x -> CAST(floor((CAST(x AS DOUBLE) * 127.0) / _amax) AS BIGINT))"
    )
    return (
        vectors.crossJoin(F.broadcast(amax))
        .select(F.col(id_col), qvec.alias("qvec"))
        .select(
            id_col,
            "qvec",
            F.expr(
                "aggregate(transform(qvec, x -> x * x), 0L, (a, x) -> a + x)"
            ).alias("qnorm"),
        )
    )


def quantized_cosine_topk(
    vectors: DataFrame, query_pred, k: int = 5, id_col: str = "vec_id"
) -> DataFrame:
    """Brute-force top-k under the int8-quantized cosine: integer dot
    products, one double division at the end (identical int inputs give
    identical doubles in both engines). Same output contract as
    cosine_topk: (query_id, neighbor_id, rank), self excluded, ties by
    neighbor_id."""
    # pinned: the full-corpus quantization transform (and its amax scan)
    # feeds BOTH sides of the self-crossJoin below — without the checkpoint
    # each side re-evaluates it (the srp/ivf CSE pattern above)
    qt = int8_quantize(vectors, id_col=id_col).localCheckpoint(eager=False)
    q = qt.where(query_pred(F.col(id_col))).select(
        F.col(id_col).alias("query_id"),
        F.col("qvec").alias("_qv"),
        F.col("qnorm").alias("_qn"),
    )
    pairs = qt.crossJoin(F.broadcast(q)).where(F.col(id_col) != F.col("query_id"))
    qdot = F.expr(
        "aggregate(zip_with(qvec, _qv, (x, y) -> x * y), 0L, (a, x) -> a + x)"
    )
    # zero-norm guard: a vector whose components all quantize to 0 would
    # produce 0/0 = NaN, and Spark sorts NaN ABOVE every real cosine in a
    # descending window — pin such pairs to -2.0 (below any true cosine)
    # in BOTH engines instead
    qcos = F.when(
        (F.col("qnorm") == 0) | (F.col("_qn") == 0), F.lit(-2.0)
    ).otherwise(
        qdot.cast("double")
        / (F.sqrt(F.col("qnorm").cast("double")) * F.sqrt(F.col("_qn").cast("double")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_qcos"), F.asc("neighbor_id"))
    return (
        pairs.select("query_id", F.col(id_col).alias("neighbor_id"), qcos.alias("_qcos"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )
