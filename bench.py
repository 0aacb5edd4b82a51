"""Benchmark harness — prints ONE JSON line for the driver.

Two workloads:

1. **Frontier scheduling+dedup throughput** (the BASELINE.json target
   metric): a synthetic frontier of ``BENCH_FRONTIER_URLS`` rows (zipf-ish
   hot-host skew) goes through one full scheduling round core — pending
   filter -> salted per-host politeness top-k -> global crawl-order sequence —
   and a candidate stream of the same size is deduped against an equally
   large url_seen set via the anti-join. Reported as urls/sec
   (scheduled + deduped) over wall time. The frontier is generated with
   spark.range + column expressions: zero Python on the hot path, so the
   number measures the engine, not the generator.

2. **Headline queries** at $SPARK_GRAFT_SF_DIR (default sf0.1): per-query
   wall seconds over the driver-generated parquet tables.

Env knobs: SPARK_GRAFT_CPUS (local[N], default 32), SPARK_GRAFT_SF_DIR,
BENCH_FRONTIER_URLS (default 4,000,000).

Scaling evidence for BENCH/BASELINE.md comes from scripts/bench_scaling.py,
which runs THIS file at two parallelism levels (local[8] vs local[32]) on
identical input — the sandbox stand-in for N vs 4N executors.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# the registry entries bench.py does not time (the headline set is the rest
# of the registry): the crawl rows run a whole mini-crawl per call, and the
# crawl engine has its own benchmark in crawlbench/; the others have never
# been in the headline set
UNTIMED = frozenset({
    "corpus_drift", "crawl_schedule_runs", "url_quality", "crawl_host_fairness",
    "redirect_resolve", "stream_sessions", "phrase_search", "readability",
    "queue_join_health", "crawl_order_mini", "crawl_media_features",
    "crawl_time_travel", "crawl_round_metrics", "dedup_clusters",
    "dedup_clusters_star", "dedup_embedding", "training_keepset", "corpus_split",
    "word_length_dist", "rare_words", "lang_id", "tf_idf", "bigram_counts",
    "queue_distribution", "top_sources", "trend_slope", "json_props",
    "revenue_by_nation", "dedup_ngram_jaccard", "source_reputation", "corpus_mix",
    "ann_ivf_probe2", "stream_politeness_gate", "kmeans_sizes", "caption_pairs",
})


def timed_queries(registry) -> list[str]:
    """The registry entries bench.py times: all but ``UNTIMED``."""
    return [name for name in registry if name not in UNTIMED]


def synth_frontier(spark: SparkSession, n: int, n_hosts: int = 10_000) -> DataFrame:
    """Synthetic pending frontier, all JVM-side expressions.

    ~25% of rows land on 8 hot hosts (the skew fixture of SURVEY.md §4); the
    rest spread uniformly over ``n_hosts``. Each attribute hashes (id, salt)
    with a DISTINCT salt — correlated pmods of one hash value would collapse
    the hot set (h%4==0 forces h%8 into {0,4}) and starve every 4th host.
    """
    base = spark.range(n)
    is_hot = F.pmod(F.xxhash64("id", F.lit(1)), 4) == 0
    host_id = F.when(is_hot, F.pmod(F.xxhash64("id", F.lit(2)), 8)).otherwise(
        F.pmod(F.xxhash64("id", F.lit(3)), n_hosts)
    )
    return base.select(
        F.concat(F.lit("http://host"), host_id.cast("string"), F.lit(".test/p"), F.col("id").cast("string")).alias("canonical"),
        F.concat(F.lit("host"), host_id.cast("string"), F.lit(".test")).alias("host"),
        F.pmod(F.xxhash64("id", F.lit(4)), 10).cast("int").alias("priority"),
        F.pmod(F.xxhash64("id", F.lit(5)), 4).cast("int").alias("depth"),
        F.col("id").alias("discovered_at"),
    )


def _seen_urls(spark: SparkSession, lo: int, hi: int) -> DataFrame:
    return (
        spark.range(lo, hi)
        .select(
            F.concat(
                F.lit("http://host"),
                F.pmod(F.xxhash64("id"), 10_000).cast("string"),
                F.lit(".test/s"),
                F.col("id").cast("string"),
            ).alias("canonical")
        )
        .withColumn("url_hash", F.xxhash64("canonical"))
        .select("url_hash", "canonical")
    )


# bucket count must scale with the seen set so the per-bucket hash map the
# dedup SHJ builds stays a few million rows: 64 is right up to ~10^8 rows;
# at 10^9 a 64-bucket table puts 15.6M rows in every build map (measured
# SparkOutOfMemoryError at 56g heap) — the 10^9 sweep runs 512, and a 10^10
# deployment sizes thousands (tables.py applies the same rule to url_seen)
_SEEN_BUCKETS = int(os.environ.get("BENCH_SEEN_BUCKETS", "64"))


def _bucketed_seen(spark: SparkSession, lo: int, hi: int, data_dir: str, tag: str) -> DataFrame:
    """Materialize (once) and return the url_seen set as a BUCKETED table —
    the production dedup path (tables.py): the anti-join scans it in place
    with no Exchange on the seen side."""
    path = f"{data_dir}/seen_bkt_{tag}"
    name = f"bench_seen_{tag}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        spark.sql(f"DROP TABLE IF EXISTS `{name}`")
        (
            _seen_urls(spark, lo, hi)
            .repartition(_SEEN_BUCKETS, "url_hash", "canonical")
            .write.bucketBy(_SEEN_BUCKETS, "url_hash", "canonical")
            .option("path", path)
            .mode("overwrite")
            .saveAsTable(name)
        )
    elif not spark.catalog.tableExists(name):
        spark.sql(
            f"CREATE TABLE `{name}` (url_hash BIGINT, canonical STRING) "
            f"USING PARQUET CLUSTERED BY (url_hash, canonical) "
            f"INTO {_SEEN_BUCKETS} BUCKETS LOCATION '{path}'"
        )
    return spark.table(name)


def bench_frontier(spark: SparkSession, n: int) -> dict:
    """One scheduling-round core + dedup anti-join; returns timing stats.

    Inputs are materialized to parquet ONCE (untimed, shared across
    parallelism levels) so the measured seconds are the scheduling/dedup
    operators reading real storage — not row synthesis, not a warmed cache
    of the same plan (rerunning an identical plan lets Spark skip work, which
    fakes the number).
    """

    from crawler_spark.operators.ordering import (
        release_global_seq,
        top_per_key,
        with_global_seq,
    )
    from crawler_spark.plans.round import order_exprs

    data_dir = os.environ.get("BENCH_DATA_DIR", f"/dev/shm/crawler_spark_bench/n{n}")
    paths = {t: f"{data_dir}/{t}.parquet" for t in ("frontier", "seen", "cand")}
    # _SUCCESS, not the dir: an interrupted write leaves a dir that exists
    # but holds no committed files, poisoning every later run
    if not all(os.path.exists(os.path.join(p, "_SUCCESS")) for p in paths.values()):
        # 64 files per table: map-side (scan + shuffle-write) parallelism is
        # bounded by input splits; fewer files would cap BOTH parallelism
        # levels at the writer's core count and fake a flat scaling curve
        synth_frontier(spark, n).repartition(64).write.mode("overwrite").parquet(paths["frontier"])
        _seen_urls(spark, 0, n).repartition(64).write.mode("overwrite").parquet(paths["seen"])
        _seen_urls(spark, n // 2, n + n // 2).repartition(64).write.mode("overwrite").parquet(paths["cand"])
    seen_bkt = _bucketed_seen(spark, 0, n, data_dir, "1x")

    order = order_exprs()
    # 7 reps: under hypervisor steal bursts (vmstat st column has been
    # observed at 10-36% on this host) the minimum of few reps can still be
    # a stolen rep — two driver rounds in a row drew a schedule min 2-4x the
    # quiet-host estimate from 5 reps. BASELINE.md's methodology note says
    # scaling claims need >=6 reps; the extra draws cost ~1 min and make the
    # min converge toward the quiet-window number.
    reps = int(os.environ.get("BENCH_REPS", "7"))

    def run_schedule() -> tuple[int, float]:
        # fresh read per rep: a reused DataFrame would let AQE / the cache
        # manager substitute materialized stages and fake the rerun
        frontier = spark.read.parquet(paths["frontier"])
        t0 = time.time()
        admitted = top_per_key(
            frontier, key="host", order_exprs=order, limit_col=F.lit(64),
            salt_on="canonical", salt_buckets=8,
            prune_col="priority", prune_max=64,
        )
        seq = with_global_seq(admitted, order, seq_col="seq")
        cnt = seq.count()
        dt = time.time() - t0
        release_global_seq(seq)
        return cnt, dt

    def run_dedup(seen: DataFrame | None = None) -> tuple[int, float]:
        # production path: bucketed seen table (no Exchange on the seen
        # side, candidate side shuffles to the bucket partitioning)
        if seen is None:
            seen = spark.table("bench_seen_1x")
        cand = spark.read.parquet(paths["cand"])
        t0 = time.time()
        cnt = cand.join(
            seen.hint("shuffle_hash"),
            (cand.url_hash == seen.url_hash) & (cand.canonical == seen.canonical),
            "left_anti",
        ).count()
        return cnt, time.time() - t0

    # best-of-reps: the sandbox VM is a noisy shared host; the minimum
    # approximates quiet-host performance and is what two parallelism levels
    # can be fairly compared on
    # one untimed warmup pass first: the process's first execution of these
    # plans pays the whole-stage-codegen + JIT warmup (measured ~120 s on a
    # plan that then runs in 4.5 s), which would otherwise eat one of the
    # few measured reps
    run_schedule()
    run_dedup()
    sched_times, dedup_times = [], []
    for _ in range(reps):
        scheduled_cnt, dt = run_schedule()
        sched_times.append(dt)
        fresh_cnt, dt = run_dedup()
        dedup_times.append(dt)
    t_sched, t_dedup = min(sched_times), min(dedup_times)

    # seen-set growth evidence (VERDICT r2 #1 done-criterion): with the
    # bucketed store the per-round dedup cost must track the CANDIDATE size,
    # not the growing seen set — only the seen SCAN grows (no shuffle of it).
    # Fixed candidates, seen at 1x/2x/4x, plus the unbucketed twin at 4x for
    # the contrast (that one re-shuffles all 4n seen rows every round).
    growth: dict[str, float] = {}
    # skipped in scaling runs (BENCH_SKIP_QUERIES): growth evidence is
    # orthogonal to the N-vs-4N comparison and 4x seen at 32M rows would
    # dominate the level's wall time. BENCH_FORCE_SEEN_GROWTH overrides for
    # frontier-only growth reps (the 10^8-row sweep skips the query suite
    # but exists precisely for the growth evidence).
    if os.environ.get("BENCH_FORCE_SEEN_GROWTH") or (
        not os.environ.get("BENCH_SKIP_SEEN_GROWTH") and not os.environ.get("BENCH_SKIP_QUERIES")
    ):
        for mult, tag in ((2, "2x"), (4, "4x")):
            _bucketed_seen(spark, 0, mult * n, data_dir, tag)
        plain4 = f"{data_dir}/seen_plain_4x.parquet"
        if not os.path.exists(os.path.join(plain4, "_SUCCESS")):
            _seen_urls(spark, 0, 4 * n).repartition(64).write.mode("overwrite").parquet(plain4)
        for tag in ("1x", "2x", "4x"):
            times = [run_dedup(spark.table(f"bench_seen_{tag}"))[1] for _ in range(reps)]
            growth[f"dedup_sec_seen_{tag}"] = round(min(times), 3)
        times = [run_dedup(spark.read.parquet(plain4))[1] for _ in range(reps)]
        growth["dedup_sec_seen_4x_unbucketed"] = round(min(times), 3)

    total = t_sched + t_dedup
    return {
        **growth,
        "frontier_urls": n,
        "scheduled": scheduled_cnt,
        "deduped_candidates": n,
        "fresh": fresh_cnt,
        "schedule_sec": round(t_sched, 3),
        "dedup_sec": round(t_dedup, 3),
        "schedule_times": [round(t, 2) for t in sched_times],
        "dedup_times": [round(t, 2) for t in dedup_times],
        "urls_per_sec": round((scheduled_cnt + n) / total, 1),
    }


def queries_note(n_queries: int, full_path: str | None) -> str:
    """The compact line's pointer to the full per-query map; names the file
    only when it was written (a failed write leaves ``full_path`` None)."""
    if not n_queries:
        return "queries skipped (BENCH_SKIP_QUERIES); frontier-only run"
    note = f"top-5 slowest of {n_queries}; full map on the line above"
    return note + (f" and in {full_path}" if full_path else "")


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_frontier = int(os.environ.get("BENCH_FRONTIER_URLS", "4000000"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from crawler_spark.queries import REGISTRY
    from crawler_spark.sparkutils import get_spark

    # shuffle partitions scale with the frontier size: the growth sweep
    # joins a seen set of up to 4n rows, and a fixed 32 partitions at
    # n=10^8 builds 12.5M-row hash maps per task (measured
    # SparkOutOfMemoryError) — size partitions so the LARGEST joined side
    # stays a few million rows each, exactly what a real cluster tunes
    shuffle = int(
        os.environ.get(
            "BENCH_SHUFFLE_PARTITIONS", str(max(cpus, 8, n_frontier // 1_000_000))
        )
    )
    spark = get_spark("crawler-spark-bench", cores=cpus, shuffle_partitions=shuffle)
    spark.sparkContext.setLogLevel("ERROR")

    queries: dict[str, float] = {}
    if not os.environ.get("BENCH_SKIP_QUERIES"):  # scaling runs time only the frontier job
        # warm the JVM/codegen path once so query timings measure the plan,
        # not startup (inside the branch: the frontier-only scaling runs must
        # not depend on the query dataset existing)
        spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        # best-of-reps (default 2): the shared host is noisy (identical runs
        # vary up to 3x); each rep REBUILDS the plan from spark.read via the
        # registry builder, so nothing is served from a cached plan — only
        # the OS page cache warms, which is the steady state being measured
        q_reps = int(os.environ.get("BENCH_QUERY_REPS", "2"))
        for name in timed_queries(REGISTRY):
            times = []
            for _ in range(q_reps):
                t0 = time.time()
                REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                times.append(time.time() - t0)
                # the cumsum/seq builders persist an internal intermediate;
                # without this the NEXT rep's semantically-equal subtree is
                # silently served from the CacheManager (fake rerun)
                spark.catalog.clearCache()
            queries[name] = round(min(times), 3)

    frontier = bench_frontier(spark, n_frontier)
    total = round(sum(queries.values()) + frontier["schedule_sec"] + frontier["dedup_sec"], 3)

    full = {
        "metric": "bench_total",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": float(sf),
        "cpus": cpus,
        "frontier": frontier,
        "urls_scheduled_plus_deduped_per_sec": frontier["urls_per_sec"],
    }
    # Full record FIRST (humans / this repo's own records), then a COMPACT
    # line LAST: the driver keeps only a ~2 KB tail of stdout, and the full
    # 66-query line outgrew it in round 3 (BENCH_r03.json parsed: null —
    # VERDICT r3 #1). The final line must carry the headline numbers within
    # that window, so its queries map is the top-5 slowest only; the full
    # per-query map is also persisted to BENCH/queries_full.json.
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH", "queries_full.json")
    try:
        if queries:  # frontier-only runs (BENCH_SKIP_QUERIES, e.g. the
            # scaling harness) must not clobber the canonical per-query map
            os.makedirs(os.path.dirname(full_path), exist_ok=True)
            with open(full_path, "w") as f:
                json.dump(full, f, indent=1)
        else:
            full_path = None  # don't point readers at a stale earlier map
    except OSError:
        full_path = None
    print(json.dumps(full))
    slowest = dict(sorted(queries.items(), key=lambda kv: -kv[1])[:5])
    print(
        json.dumps(
            {
                "metric": "bench_total",
                "value": total,
                "unit": "sec",
                "queries": slowest,
                "queries_note": queries_note(len(queries), full_path),
                "queries_total_sec": round(sum(queries.values()), 3),
                "sf": float(sf),
                "cpus": cpus,
                "urls_per_sec": frontier["urls_per_sec"],
                "schedule_sec": frontier["schedule_sec"],
                "dedup_sec": frontier["dedup_sec"],
            }
        )
    )


if __name__ == "__main__":
    main()
