"""Scalable global ordering / sequencing / per-key top-k (SURVEY.md O1).

The frontier ordering contract (priority DESC, depth ASC, discovered_at ASC
— reference queue.py:48-56, persistent_queue.py:145) needs two operators the
naive Spark translation gets wrong at scale:

1. ``with_global_seq`` — assign a contiguous 0-based sequence in a total
   order WITHOUT collapsing to a single-partition window: range-partition on
   the sort key, count rows per partition (tiny driver-side collect),
   cumulative offsets, then a per-partition row_number. This is the standard
   distributed rank pattern; a bare ``row_number().over(Window.orderBy(...))``
   funnels the whole round through one task.

2. ``top_per_key`` — per-host politeness admission (top-budget rows per host)
   with hot-host skew handled by a two-phase refinement: phase 1 ranks within
   (host, salt) and keeps per-salt top-k (a superset of the true per-host
   top-k, since the global per-host top-k rows are each in some salt's local
   top-k); phase 2 ranks the reduced survivor set exactly. The phase-1 window
   partitions a hot host across ``salt_buckets`` tasks instead of one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F



def _two_phase_offsets(df, order_exprs, per_pid_agg, row_expr_fn, out_col):
    """Shared scaffolding of :func:`with_global_seq` / :func:`with_global_cumsum`
    — the two-phase distributed-rank pattern: range-partition on the sort
    key, sort within partitions, ONE per-partition aggregate collected to
    the driver (a row per partition, never data), cumulative offsets
    broadcast back as a literal map, then a per-partition window expression.
    ``per_pid_agg`` is the long-typed per-partition contribution (count for
    rank, sum for prefix sums); ``row_expr_fn()`` builds the within-partition
    expression over the ``_pid``-partitioned frame. Cache contract: the
    returned frame carries ``_global_seq_cache`` / ``_global_seq_total``;
    callers release via :func:`release_global_seq`."""
    spark = df.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    d = (
        df.repartitionByRange(n, *order_exprs)
        .sortWithinPartitions(*order_exprs)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    per = {
        r["_pid"]: r["_s"]
        for r in d.groupBy("_pid").agg(per_pid_agg.alias("_s")).collect()
    }
    if not per:
        d.unpersist()
        out = df.withColumn(out_col, F.lit(None).cast("long"))
        out._global_seq_total = 0  # row count / grand total, free byproduct
        return out
    offsets, acc = {}, 0
    for pid in sorted(per):
        offsets[pid] = acc
        acc += per[pid]
    mapping = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    out = d.withColumn(
        out_col,
        (F.element_at(mapping, F.col("_pid")) + row_expr_fn()).cast("long"),
    ).drop("_pid")
    out._global_seq_cache = d  # handle for release_global_seq
    out._global_seq_total = acc
    return out


def with_global_seq(df: DataFrame, order_exprs: list[Column], seq_col: str = "seq") -> DataFrame:
    """Contiguous 0-based sequence in the total order given by order_exprs.

    The result is materialized from a cached intermediate; callers should
    write it out promptly (the round plan stages it to parquet immediately,
    which also truncates lineage) and then call :func:`release_global_seq`
    on the returned DataFrame — the cache entry otherwise outlives the
    round AND lets Spark's CacheManager silently substitute it into later
    semantically-equal plans.
    """
    w = Window.partitionBy("_pid").orderBy(*order_exprs)
    return _two_phase_offsets(
        df,
        order_exprs,
        F.count("*").cast("long"),
        lambda: F.row_number().over(w) - 1,
        seq_col,
    )


def release_global_seq(df: DataFrame) -> None:
    """Drop the cache with_global_seq left behind (call after materializing)."""
    cached = getattr(df, "_global_seq_cache", None)
    if cached is not None:
        cached.unpersist()


def carry_seq_cache(src: DataFrame, out: DataFrame) -> DataFrame:
    """Copy the release_global_seq handle onto a derived projection.

    Any .select()/.drop() on a with_global_seq/with_global_cumsum result is
    a NEW DataFrame object without the ``_global_seq_cache`` attribute;
    builders that post-project must carry it forward or the caller's
    release_global_seq silently leaks the persisted intermediate."""
    cached = getattr(src, "_global_seq_cache", None)
    if cached is not None:
        out._global_seq_cache = cached
    total = getattr(src, "_global_seq_total", None)
    if total is not None:
        out._global_seq_total = total
    return out


def top_per_key(
    df: DataFrame,
    key: str,
    order_exprs: list[Column],
    limit_col: Column,
    salt_on: str = "canonical",
    salt_buckets: int = 8,
    rank_col: str = "rn",
    prune_col: str | None = None,
    prune_desc: bool = True,
    prune_max: int | None = None,
) -> DataFrame:
    """Keep the top-``limit_col`` rows per ``key`` in the given order.

    ``limit_col`` may vary per row (it is a per-host politeness budget).
    Two-phase: per-(key, salt) prefilter, then exact per-key rank. Correct
    because each true per-key top-k row is within its own salt bucket's
    top-k. ``salt_on`` names a row-identity column whose xxhash64 provides
    a deterministic salt.

    Optional threshold pruning (``prune_col`` + ``prune_max``): when the
    LEADING sort key is a low-cardinality column (the frontier's priority,
    ~10 values) and budgets are bounded by ``prune_max``, a cheap
    map-side-combinable count aggregate per (key, salt, prune_col) computes
    the cutoff value at which each group's cumulative count reaches
    prune_max; rows strictly beyond the cutoff can never rank within the
    budget and are filtered BEFORE the window sort. WindowExec is the round
    plan's dominant cost (it buffers rows without codegen), so shrinking
    its input ~5x is the single biggest win; pruning with an upper bound
    stays exact because it always keeps a superset of the true top-k.
    """
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(F.col(salt_on)), F.lit(salt_buckets)))
    if prune_col is not None and prune_max is not None:
        pv = F.col(prune_col) if prune_desc else -F.col(prune_col)
        counts = (
            salted.withColumn("_pv", pv)
            .groupBy(key, "_salt", "_pv")
            .agg(F.count("*").alias("_cnt"))
        )
        cutoff = (
            counts.groupBy(key, "_salt")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct((-F.col("_pv")).alias("npv"), F.col("_cnt")))
                ).alias("_arr")
            )
            .select(
                key,
                "_salt",
                F.aggregate(
                    F.col("_arr"),
                    F.struct(
                        F.lit(0).cast("long").alias("cum"),
                        F.lit(None).cast("long").alias("v"),
                    ),
                    lambda acc, x: F.when(acc["cum"] >= prune_max, acc).otherwise(
                        F.struct(
                            (acc["cum"] + x["_cnt"]).alias("cum"),
                            # floor, NOT cast: cast truncates toward zero, so
                            # a fractional negative cutoff (-2.5 -> -2) would
                            # prune rows that belong to the true top-k; floor
                            # (-2.5 -> -3) always keeps a superset. Identical
                            # for the integer prune columns used today.
                            F.floor(-x["npv"]).cast("long").alias("v"),
                        )
                    ),
                ).v.alias("_cutoff"),
            )
        )
        # broadcast the cutoff dim (one row per (key, salt)). The dim scales
        # with hosts x salts: fine to ~10^7 keys. At 10^8+ hosts a
        # shuffle-hash join (cutoff.hint("shuffle_hash")) is the alternative:
        # it exchanges on exactly the (key, salt) partitioning the w1 window
        # needs, so the Exchange is reused and the extra cost is one shuffle
        # of the input it was about to shuffle anyway (measured: the
        # narrow-window experiment in BENCH/BASELINE.md).
        salted = (
            salted.withColumn("_pv", pv)
            .join(F.broadcast(cutoff), [key, "_salt"])
            .where(F.col("_pv") >= F.col("_cutoff"))
            .drop("_pv", "_cutoff")
        )
    w1 = Window.partitionBy(key, "_salt").orderBy(*order_exprs)
    survivors = (
        salted.withColumn("_rn1", F.row_number().over(w1))
        .where(F.col("_rn1") <= limit_col)
        .drop("_rn1", "_salt")
    )
    w2 = Window.partitionBy(key).orderBy(*order_exprs)
    return survivors.withColumn(rank_col, F.row_number().over(w2)).where(
        F.col(rank_col) <= limit_col
    )


def with_global_cumsum(
    df: DataFrame,
    order_exprs: list[Column],
    value_col: str,
    out_col: str = "cum_before",
) -> DataFrame:
    """EXCLUSIVE prefix sum of ``value_col`` in the total order given by
    ``order_exprs`` — the distributed running-total primitive (same
    two-phase shape as :func:`with_global_seq`: range-partition on the sort
    key, one tiny per-partition SUM collected to the driver, cumulative
    offsets broadcast back, then a per-partition window sum). The naive
    ``sum().over(Window.orderBy(...))`` funnels the whole corpus through a
    single task; this stays ``shuffle.partitions``-way parallel with the
    driver seeing one row per partition.

    Same cache contract as with_global_seq: call :func:`release_global_seq`
    on the result after materializing.
    """
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_exprs)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return _two_phase_offsets(
        df,
        order_exprs,
        # coalesce: a range partition whose value_col rows are all NULL would
        # otherwise yield a None contribution and break offset accumulation
        F.coalesce(F.sum(value_col), F.lit(0)).cast("long"),
        lambda: F.coalesce(F.sum(value_col).over(w), F.lit(0)),
        out_col,
    )


def zorder_expr(x_expr: str, y_expr: str, bits: int = 16) -> str:
    """SQL text computing the Morton (Z-order) interleave of two
    ``bits``-bit non-negative keys — x in odd bit positions, y in even.

    Z-ordering is the multi-dimensional data-layout clustering behind
    Delta/Iceberg table optimization: range-sharding by the interleaved key
    gives every shard locality in BOTH dimensions at once (a (host, time)
    z-layout serves host-scoped AND time-window scans from few shards,
    where a host sort serves only the first). The expression is plain
    integer bit arithmetic — identical text runs in Spark SQL (via
    ``F.expr``) and in the DuckDB oracle, so layouts are value-checkable.

    Each term is fully parenthesized (`>>`/`&`/`<<` precedence differs
    between engines) and the input is cast to BIGINT inside the term: with
    an INT32-typed operand DuckDB's `1 << 31` overflows at bits=16, since
    `(x >> i) & 1` inherits x's width. Cost: a map-only expression; the
    interleave never shuffles anything by itself.
    """
    bx = f"CAST(({x_expr}) AS BIGINT)"
    by = f"CAST(({y_expr}) AS BIGINT)"
    terms = [f"((({bx} >> {i}) & 1) << {2 * i + 1})" for i in range(bits)]
    terms += [f"((({by} >> {i}) & 1) << {2 * i})" for i in range(bits)]
    return "(" + " + ".join(terms) + ")"
