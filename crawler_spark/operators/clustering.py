"""Embedding clustering — exact quantized k-means (Lloyd's algorithm).

The reference has no clustering stage; a training-data pipeline needs one
(semantic dedup buckets, data-mixture balancing, IVF coarse quantizers are
all k-means downstream). The scale shape is the classic Spark Lloyd loop:
broadcast the k centroids, one shuffle per iteration keyed on (cluster,
dim) for the centroid update — at 10^10 vectors each iteration is a scan +
a k*dim-row aggregate, and the centroid table stays tiny (k rows) so the
assignment join is always broadcast, never a shuffle.

Everything is EXACT integer arithmetic so the driver's DuckDB oracle can
value-hash the result:
- components are quantized once: ``floor(x * scale) + offset`` as int64
  (float->double is exact, double multiply + floor are bit-identical IEEE
  ops in both engines; the offset makes every value nonnegative so the
  centroid update's truncating integer division equals floor division in
  both engines);
- distances are integer squared-Euclidean sums (fit comfortably in int64:
  (2*offset)^2 * dim ~ 2.8e14);
- centroid update is elementwise integer sum div count.
No float ever crosses an aggregation boundary, so partial-agg ordering
cannot flip a ulp and any iteration count is exactly reproducible in
unrolled SQL. Ties (equal distance) go to the smaller cluster ordinal,
matching ``row_number`` in the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crawler_spark.operators.dedup import blocked_pairs

# floor(x * 2^20) + 2^21: scale is a power of two so x*scale is an EXACT
# double product for every float x (no rounding before the floor), and the
# offset 2*scale keeps quantized components nonnegative for |x| <= 2.
KMEANS_SCALE = 1 << 20
KMEANS_OFFSET = 1 << 21


def quantize(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Add ``qv``: the int64-quantized copy of ``vec_col``."""
    return df.withColumn(
        "qv",
        F.transform(
            F.col(vec_col),
            lambda x: (
                F.floor(x.cast("double") * F.lit(float(KMEANS_SCALE)))
                + F.lit(KMEANS_OFFSET)
            ).cast("long"),
        ),
    )


def _assign(q: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: (vec_id, qv, cluster).

    ``centroids`` is (cluster:int, cv:array<long>) — always tiny (k rows),
    hence the explicit broadcast; ties by smaller cluster ordinal.
    """
    d2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy("vec_id").orderBy("_d2", "cluster")
    return (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("_d2", d2)
        .withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == 1)
        .select("vec_id", "qv", "cluster")
    )


def _update(assigned: DataFrame) -> DataFrame:
    """Recompute centroids: elementwise integer-mean of members.

    One shuffle keyed on (cluster, pos) — k*dim result rows. Empty clusters
    simply vanish (their ordinal keeps its last centroid only if re-seeded;
    Lloyd's on dense corpora rarely empties a cell, and a vanished cell
    just means fewer output clusters — deterministic either way).
    """
    per_dim = (
        assigned.select("cluster", F.posexplode("qv").alias("pos", "v"))
        .groupBy("cluster", "pos")
        .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
        .withColumn("m", F.expr("s div n"))
    )
    return (
        per_dim.groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda st: st.getField("m"),
            ).alias("cv")
        )
    )


def kmeans(
    vectors: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means over quantized embeddings; returns (vec_id, cluster).

    Init centroids = the quantized vectors of the ``k`` smallest ids
    (cluster ordinal = rank by id), the same deterministic-seed convention
    as similarity.ivf_assign. ``n_iter`` full assign+update rounds are run,
    then a final assignment against the last centroids is returned.

    The centroid frame is localCheckpointed each round: it is k*dim values,
    so materializing it truncates the otherwise exponentially nesting
    lineage (assign -> update -> assign ...) at negligible cost — the Spark
    analog of the driver-side centroid broadcast in classic MLlib k-means,
    without collecting anything.
    """
    q = quantize(
        vectors.select(F.col(id_col).alias("vec_id"), vec_col), vec_col
    ).select("vec_id", "qv").localCheckpoint(eager=False)
    w = Window.orderBy("vec_id")
    centroids = (
        q.orderBy("vec_id")
        .limit(k)
        .select((F.row_number().over(w) - 1).alias("cluster"), F.col("qv").alias("cv"))
    ).localCheckpoint(eager=False)
    for _ in range(n_iter):
        assigned = _assign(q, centroids)
        centroids = _update(assigned).localCheckpoint(eager=False)
    return _assign(q, centroids).select("vec_id", "cluster")


def cluster_sizes(assignments: DataFrame) -> DataFrame:
    """(cluster, n_members) — the mixture-balance view of an assignment."""
    return assignments.groupBy("cluster").agg(F.count("*").alias("n_members"))


def semantic_neardup(
    vectors: DataFrame,
    threshold: float = 0.4,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup with FITTED k-means blocking — the third scale
    path of the embedding-dedup family: similarity.embedding_neardup
    blocks on deterministic IVF cells (first-k-ids centroids) and
    srp_neardup on hyperplane signs; here the blocking key is the
    data-adapted Lloyd's clustering, which tracks the corpus density and
    so balances cells better on clustered data (cell_blocked's arbitrary
    seed centroids can leave one cell holding a whole dup-cluster family).

    Candidates = pairs sharing a fitted cluster (equality join, never a
    cross join); verify = exact cosine in double (left-to-right JVM sums,
    the oracle-portable form). Output carries only ids. Same recall caveat
    as every single-probe blocker: cross-cluster pairs are missed — the
    multi-probe analog is running with a larger n_iter/k and unioning, or
    SRP for sign-level recall.
    """
    from crawler_spark.operators.similarity import cosine

    fit = kmeans(vectors, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col)
    assigned = fit.join(
        vectors.select(F.col(id_col).alias("vec_id"), vec_col), "vec_id"
    )
    return (
        blocked_pairs(assigned, "vec_id", "cluster", carry=(vec_col,))
        .where(cosine(F.col(f"{vec_col}_a"), F.col(f"{vec_col}_b")) >= threshold)
        .select(F.col("vec_id_a").alias("vec_a"), F.col("vec_id_b").alias("vec_b"))
    )


def semdedup_keepset(
    vectors: DataFrame,
    threshold: float = 0.4,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic-duplicate PRUNING over fitted
    k-means clusters — the keepset twin of :func:`semantic_neardup`.

    Where semantic_neardup reports the duplicate PAIRS, this returns the
    curation decision itself: within each fitted cluster, a vector is
    dropped when some LOWER-id member of the same cluster sits above the
    cosine threshold (the paper's keep-one-per-epsilon-group rule with the
    deterministic lowest-id representative). Returns
    (vec_id, cluster, keep) for every input vector.

    Scale shape: the fitted assignment is computed once (localCheckpointed
    — it feeds both sides of the candidate join), candidates never leave a
    cluster-equality join, and the per-cluster pairwise verify is the
    algorithm's own cost model (SemDeDup runs k proportional to corpus size
    precisely so cluster populations stay bounded). No global pairwise
    stage; output carries ids only.
    """
    from crawler_spark.operators.similarity import cosine

    fit = kmeans(vectors, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col)
    assigned = fit.join(
        vectors.select(F.col(id_col).alias("vec_id"), vec_col), "vec_id"
    ).localCheckpoint(eager=False)
    # the higher id of a near pair is the one a lower-id member covers
    dropped = (
        blocked_pairs(assigned, "vec_id", "cluster", carry=(vec_col,))
        .where(cosine(F.col(f"{vec_col}_a"), F.col(f"{vec_col}_b")) >= threshold)
        .select(F.col("vec_id_b").alias("vec_id"))
        .distinct()
    )
    return assigned.join(dropped.withColumn("_d", F.lit(True)), "vec_id", "left").select(
        "vec_id", "cluster", F.col("_d").isNull().alias("keep")
    )
