"""Multi-round crawl driver loop (SURVEY.md X1, §7 step 5).

The reference's continuous asyncio loop (core/engine.py:271-375) becomes a
deterministic ``for round`` loop; each iteration is one ``plans.round``
commit group. Termination mirrors engine.py:377-386: empty frontier, page
budget reached, or the iteration guard.

Kill-and-resume (X5): all state lives in the snapshot catalog; rerunning
``run_crawl`` on the same workdir continues from the last committed round —
no re-fetching, no politeness violation, because rounds are atomic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark.sql import Window

from crawler_spark.config import CrawlConfig
from crawler_spark.functions.urls import (
    canonicalize_url,
    host_bucket_col,
    host_col,
    host_of,
    normalize_url,
    sitemap_urls_udf,
    url_hash_col,
)
from crawler_spark.migrations import migrate_to_latest
from crawler_spark.plans.round import FRONTIER_COLS, _robots_dims, run_round
from crawler_spark.sources.sitemap import sitemap_frontier_rows
from crawler_spark.tables import SnapshotCatalog

_SEED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("canonical", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("parent", T.StringType(), True),
        T.StructField("discovered_at", T.LongType(), False),
        T.StructField("attempts", T.IntegerType(), False),
        T.StructField("scheduled_at", T.DoubleType(), False),
        T.StructField("status", T.StringType(), False),
    ]
)


def init_state(
    spark: SparkSession,
    catalog: SnapshotCatalog,
    seeds: list[dict],
    cfg: CrawlConfig,
    sitemaps_df: DataFrame | None = None,
) -> None:
    """Seed the frontier (priority 10, depth 0 — engine.py:249-257), with an
    optional sitemap leg (S3/S4 -> E2, engine.py:636-679).

    Seeds are normalized, canonicalized and first-occurrence-deduped on the
    driver (a seed list is CLI-sized by nature); hashes/buckets are computed
    by the same Spark expressions the rounds use.

    ``sitemaps_df`` rows are sitemap XML documents (``xml`` column, optional
    ``sitemap_ord`` for multi-file order); their ``<loc>`` URLs — at most
    ``max_pages // 4`` per sitemap file (engine.py:662) — enter the frontier
    at priority 3 / depth 1 Spark-side (a sitemap can be huge; expansion,
    normalization and dedup stay distributed). The reference enqueues
    sitemaps BEFORE the start URLs (engine.py:245-249) and the queue keeps
    the first put of a canonical URL, so on collision the sitemap row wins
    and the seed is skipped. Deviation from the reference noted: URLs whose
    normalization fails are dropped here (the reference enqueues the raw
    string, which then deterministically fails at its fetch-validation step
    — dropping earlier yields the same crawl effects without the junk rows).
    """
    rows, seen = [], set()
    for i, s in enumerate(seeds):
        norm = normalize_url(s["url"])
        if norm is None:
            continue
        canon = canonicalize_url(norm)
        if canon in seen:
            continue
        seen.add(canon)
        rows.append(
            (norm, canon, host_of(canon), s.get("depth", 0), s.get("priority", 10),
             None, i, 0, 0.0, "pending")
        )
    base = spark.createDataFrame(rows, _SEED_SCHEMA)

    sitemap_cap = cfg.max_pages // 4
    if sitemaps_df is not None and sitemap_cap > 0:
        sm = (
            sitemap_frontier_rows(
                sitemaps_df,
                max_urls=sitemap_cap,
                priority=cfg.sitemap_priority,
                depth=cfg.sitemap_depth,
            )
            # normalize -> validate -> canonicalize in one Python pass per URL
            .withColumn("u", sitemap_urls_udf(F.col("url")))
            .withColumn("norm", F.col("u.norm"))
            .withColumn("canonical", F.col("u.canonical"))
            .drop("u")
            .where(F.col("norm").isNotNull())
        )
        first = Window.partitionBy("canonical").orderBy("sitemap_ord", "sitemap_pos")
        sm_rows = (
            sm.withColumn("_r", F.row_number().over(first))
            .where(F.col("_r") == 1)
            .select(
                F.col("norm").alias("url"),
                F.col("canonical"),
                host_col(F.col("canonical")).alias("host"),
                F.col("depth"),
                F.col("priority"),
                F.lit(None).cast("string").alias("parent"),
                # (file, position) flattened collision-free: pos < cap+1
                (
                    F.col("sitemap_ord").cast("long") * F.lit(sitemap_cap + 1)
                    + F.col("sitemap_pos")
                ).alias("discovered_at"),
                F.lit(0).alias("attempts"),
                F.lit(0.0).alias("scheduled_at"),
                F.lit("pending").alias("status"),
            )
        )
        # sitemap-first dedup (queue first-put-wins + enqueue order)
        base = sm_rows.unionByName(
            base.join(sm_rows.select("canonical"), "canonical", "left_anti")
            .select(*[f.name for f in _SEED_SCHEMA.fields])
        )

    df = (
        base.withColumn("url_hash", url_hash_col(F.col("canonical")))
        .withColumn(
            "host_bucket", host_bucket_col(F.col("host"), cfg.n_host_buckets)
        )
        .select(*FRONTIER_COLS)
    )
    commit = catalog.begin(-1)
    commit.stage_replace("frontier", df, partition_by=["host_bucket"])
    commit.stage_seen_init(
        spark, df.select("url_hash", "canonical"), buckets=cfg.n_seen_buckets
    )
    # T10 (engine.py:221): session id = md5(name + start time); here the
    # name is the workdir (one catalog == one session) and the time is the
    # wall clock at init, recorded once in the init manifest
    import hashlib
    import time as _time

    session_id = hashlib.md5(
        f"{os.path.basename(catalog.root)}_{_time.time()}".encode()
    ).hexdigest()
    commit.set_metrics(seeds=len(rows), session_id=session_id)
    commit.commit()


def run_crawl(
    spark: SparkSession,
    workdir: str,
    documents_df: DataFrame,
    robots_df: DataFrame,
    seeds: list[dict],
    cfg: CrawlConfig | None = None,
    sitemaps_df: DataFrame | None = None,
) -> dict:
    """Run (or resume) a crawl to completion. Returns summary stats.

    ``sitemaps_df`` (optional): sitemap XML documents whose URLs join the
    initial frontier at priority 3 / depth 1 — see :func:`init_state`.
    """
    cfg = cfg or CrawlConfig()
    # once per crawl, before anything is written: a bad robots table fails
    # here, not after init_state has committed a frontier
    robots_dim = _robots_dims(robots_df, user_agent=cfg.user_agent)
    catalog = SnapshotCatalog(workdir)
    if catalog.current_manifest() is None:
        init_state(spark, catalog, seeds, cfg, sitemaps_df=sitemaps_df)
    else:
        # resume path — we ARE the writer now: drop any part-files a killed
        # round staged but never committed, restoring the bucketed fast scan
        # (read_seen itself never deletes; a concurrent analytics reader must
        # not race a live round's staged files), then bring an older catalog
        # layout up to date
        catalog.cleanup_orphan_seen()
        migrate_to_latest(spark, workdir, n_seen_buckets=cfg.n_seen_buckets)

    # the page budget across resume: every current manifest carries the
    # cumulative counter, which survives expire_snapshots' truncation
    scheduled_total = catalog.current_manifest()["metrics"]["scheduled_cum"]
    rnd = catalog.current_round() + 1
    rounds, stopped = [], None
    while rnd < cfg.max_rounds:
        m = run_round(spark, catalog, documents_df, robots_dim, cfg, rnd, scheduled_total)
        if m.get("stopped"):
            stopped = m["stopped"]
            break
        if not m.get("advanced"):
            scheduled_total += m["scheduled"]
            rounds.append({"round": rnd, **m})
        rnd += 1
    else:
        stopped = "max_rounds"
    return {
        "stopped": stopped,
        "rounds": rounds,
        "scheduled_total": scheduled_total,
        "last_round": rnd - 1,
    }


# -- state readers for tests / analytics --------------------------------------

def read_crawl_order(spark: SparkSession, workdir: str):
    """[(round, seq, canonical)] in crawl order."""
    df = SnapshotCatalog(workdir).read(spark, "crawl_order")
    if df is None:
        return []
    rows = df.select("round", "seq", "canonical").orderBy("round", "seq").collect()
    return [(r["round"], r["seq"], r["canonical"]) for r in rows]


def read_url_seen(spark: SparkSession, workdir: str) -> set[str]:
    df = SnapshotCatalog(workdir).read(spark, "url_seen")
    return set() if df is None else {r["canonical"] for r in df.select("canonical").collect()}


def read_word_frequencies(spark: SparkSession, workdir: str) -> dict:
    df = SnapshotCatalog(workdir).read(spark, "word_frequencies")
    out: dict[str, dict[str, int]] = {}
    if df is None:
        return out
    for r in df.collect():
        out.setdefault(r["canonical"], {})[r["word"]] = r["frequency"]
    return out


def read_frontier_statuses(spark: SparkSession, workdir: str) -> dict:
    df = SnapshotCatalog(workdir).read(spark, "frontier")
    if df is None:
        return {}
    return {r["canonical"]: r["status"] for r in df.select("canonical", "status").collect()}
