"""One scheduling round — the physical plan of SURVEY.md §4.

    pending  -> robots filter -> per-host politeness budget (salted top-k)
             -> global budget + global crawl-order sequence
             -> simulated fetch (left join against documents)
             -> extraction / word-frequency / link discovery
             -> canonicalize -> in-round dedup -> anti-join vs url_seen
             -> one atomic snapshot commit (frontier MERGE + appends)

Semantics: the deterministic round contract in oracle/simulator.py (module
docstring), which virtualizes the reference's wall-clock loop
(core/engine.py:271-375, url_management/queue.py:231-330).

Scale notes (the parts that must survive 1000 executors / 10^10 URLs):
- politeness admission uses the salted two-phase per-host top-k
  (operators/ordering.top_per_key) so one hot host cannot serialize a round;
- the global crawl-order sequence uses range-partition + offsets
  (with_global_seq), never a single-partition window;
- the round's scheduled set is staged to parquet and read back before the
  fetch join — lineage truncation for the iterative loop AND single
  evaluation of the ranking;
- dedup is a left-anti join keyed on (xxhash64, canonical) — the 64-bit hash
  drives partitioning, the string equality makes it exact at 10^10 rows
  where 64-bit collisions are expected. url_seen is a bucketed table on
  exactly those keys (tables.py), so the join is storage-partitioned: the
  growing seen side is scanned in place with NO per-round shuffle, only the
  candidate side exchanges; Spark's runtime Bloom-filter join (enabled in
  sparkutils) prunes candidates further. The EXPLICIT partitioned-Bloom
  twin of that runtime filter — per-bucket bitmaps persistable across
  rounds and engines — is operators/bloom.py (oracle-checked), for when
  pruning must happen before any join or outside this job;
- the frontier commit rewrites ONLY the host_buckets the round touched
  (dirty-bucket replace via the manifest's bucket map — the Iceberg MERGE
  cadence); untouched buckets carry forward without a write;
- URL Python runs in ONE stage per round: link discovery evaluates the fused
  resolve/validate/normalize/canonicalize UDF (functions/urls.link_urls_udf)
  once per link, and the persisted links frame carries norm and canonical,
  so the fresh anti-join and the dirty-bucket commit run no Python. A Python
  stage costs about 0.2 s of worker CPU per task on PySpark 4.1 / Python
  3.11 whatever its row count (worker setup invalidates the import caches,
  and every zipimporter over pyspark.zip then re-reads the archive
  directory), while the chain itself is ~40 us per link;
- no count actions: scheduled = min(admitted, remaining) off the seq pass,
  and ONE groupBy(host_bucket, kind) collect yields completed / skipped /
  fresh and the dirty buckets. ``fresh`` first executes in that tally, so
  the manifest's ``links_sec`` covers the dedup anti-join too.
"""

from __future__ import annotations

import time
from collections import Counter

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crawler_spark.config import CrawlConfig
from crawler_spark.functions import fetch as FM
from crawler_spark.functions import text as X
from crawler_spark.functions.urls import (
    host_bucket_col,
    host_col,
    link_urls_udf,
    url_hash_col,
)
from crawler_spark.operators.ordering import (
    release_global_seq,
    top_per_key,
    with_global_seq,
)
from crawler_spark.operators.textstats import span_structure
from crawler_spark.tables import SnapshotCatalog

FRONTIER_COLS = [
    "url", "canonical", "url_hash", "host", "host_bucket", "depth",
    "priority", "parent", "discovered_at", "attempts", "scheduled_at",
    "status",
]

# O1 — the crawl-ordering contract (queue.py:48-56), canonical as tiebreak
def order_exprs():
    return [
        F.desc("priority"),
        F.asc("depth"),
        F.asc("discovered_at"),
        F.asc("canonical"),
    ]


def _robots_dims(robots_df: DataFrame, user_agent: str = "*") -> DataFrame:
    """The robots dim: per host, the rules ordered by file position and the
    max crawl delay, from one aggregation, so a round joins it once.
    Decision semantics are stdlib RobotFileParser's (the reference
    delegates to it, robots.py:82): the FIRST rule whose prefix matches the
    URL path decides allow/deny; no match or no rules = allow.

    Group selection happens HERE, so no caller can forget it: tables from
    parse_robots_df (they carry entry_id) get stdlib best-entry selection
    via rules_for_agent; hand-built tables with a user_agent column get
    exact-agent-else-'*' per host (the oracle simulator's documented twin).

    A table without rule_order is rejected when any host has more than one
    rule: sorting such rules by (path_prefix, allow) silently inverts
    first-match semantics whenever an Allow exception precedes a broader
    Disallow (e.g. 'Allow: /private/open' before 'Disallow: /private').
    """
    cols = robots_df.columns
    if "entry_id" in cols:
        from crawler_spark.sources.robots import rules_for_agent

        robots_df = rules_for_agent(robots_df, user_agent)
    elif "user_agent" in cols:
        a0 = (user_agent or "*").split("/")[0].lower()
        matching = robots_df.where(
            (F.col("user_agent") == "*")
            | F.lit(a0).contains(F.lower(F.col("user_agent")))
        )
        w_host = Window.partitionBy("host")
        has_specific = F.max((F.col("user_agent") != "*").cast("int")).over(w_host)
        robots_df = (
            matching.withColumn("_hs", has_specific)
            .where((F.col("user_agent") != "*").cast("int") == F.col("_hs"))
            .drop("_hs")
        )
    # probe the AGENT-FILTERED view: one rule per host per agent is unambiguous
    if "rule_order" not in cols:
        multi = (
            robots_df.groupBy("host").agg(F.count("*").alias("n"))
            .where(F.col("n") > 1).limit(1).count()
        )
        if multi:
            raise ValueError(
                "robots table has hosts with multiple rules but no rule_order "
                "column; first-match semantics need the file order — add "
                "rule_order (parse_robots_df emits it)"
            )
    order = (
        F.col("rule_order") if "rule_order" in cols else F.lit(0)
    ).alias("o")
    return robots_df.groupBy("host").agg(
        F.array_sort(
            F.collect_list(
                F.struct(order, F.col("path_prefix").alias("p"), F.col("allow").alias("a"))
            )
        ).alias("rules"),
        F.max("crawl_delay").alias("crawl_delay"),
    )


def run_round(
    spark: SparkSession,
    catalog: SnapshotCatalog,
    documents_df: DataFrame,
    robots_dim: DataFrame,
    cfg: CrawlConfig,
    rnd: int,
    scheduled_total: int,
) -> dict:
    """Execute round ``rnd``; returns metrics. Commits atomically on success.

    ``robots_dim`` is the per-host rules + crawl-delay dim from
    :func:`_robots_dims`.
    Returns {"stopped": reason} without committing when the crawl is done.
    The round body registers every cache it takes (its .persist() calls and
    the with_global_seq intermediate) in ``persisted`` and a finally-block
    releases them: a mid-round exception (transient executor loss, bad
    corpus schema) must not leak a cached plan for the session's lifetime,
    nor leave stale cache entries that Spark's CacheManager could substitute
    into a retried round's equal plans.
    """
    persisted: list[DataFrame] = []
    try:
        return _run_round_body(
            spark, catalog, documents_df, robots_dim, cfg, rnd,
            scheduled_total, persisted,
        )
    finally:
        for _df in persisted:
            _df.unpersist()


def _run_round_body(
    spark: SparkSession,
    catalog: SnapshotCatalog,
    documents_df: DataFrame,
    robots_dim: DataFrame,
    cfg: CrawlConfig,
    rnd: int,
    scheduled_total: int,
    persisted: list,
) -> dict:
    t0 = float(rnd) * cfg.horizon
    wall_start = time.time()
    frontier = catalog.read(spark, "frontier")
    url_seen = catalog.read(spark, "url_seen")
    assert frontier is not None and url_seen is not None, "catalog not initialized"

    remaining = cfg.max_pages - scheduled_total
    if remaining <= 0:
        return {"stopped": "max_pages"}

    pending = frontier.where(
        (F.col("status") == "pending") & (F.col("scheduled_at") <= F.lit(t0))
    )

    # -- robots compliance (F7): broadcast dim join + first-match predicate --
    path = F.regexp_replace(F.col("canonical"), r"^[A-Za-z][A-Za-z0-9+.-]*://[^/]*", "")
    # host-scaled dim: broadcast is right to ~10^7 hosts; a 10^8-host
    # frontier switches this to a bucketed/shuffle join keyed like url_seen
    # (the dim carries crawl_delay too: the politeness budget below reads it)
    with_rules = pending.join(F.broadcast(robots_dim), "host", "left")
    # F.get, not element_at: ANSI mode (Spark 4 default) throws on an empty
    # match array; get returns null, which coalesces to fail-open allow
    first_match = F.get(
        F.filter(F.col("rules"), lambda r: path.startswith(r["p"])), 0
    )
    denied = F.col("rules").isNotNull() & ~F.coalesce(first_match["a"], F.lit(True))
    skipped = (
        with_rules.where(denied)
        .select(*[c for c in FRONTIER_COLS if c != "status"])
        .withColumn("status", F.lit("skipped"))
        .persist()  # three consumers (touched, frontier union, tally)
    )
    persisted.append(skipped)
    allowed = with_rules.where(~denied).drop("rules")

    # -- politeness budget (X2/X3/J2): floor(horizon / crawl_delay) ----------
    budget = F.when(
        F.coalesce(F.col("crawl_delay"), F.lit(cfg.default_delay)) <= 0, F.lit(1 << 30)
    ).otherwise(
        F.floor(F.lit(cfg.horizon) / F.coalesce(F.col("crawl_delay"), F.lit(cfg.default_delay)))
    )
    # capping the per-host budget at the remaining page budget is exact (the
    # global seq cutoff can never admit more than `remaining` rows total) and
    # bounds prune_max so priority-threshold pruning applies to every round
    budget = F.least(budget, F.lit(remaining))
    with_budget = allowed.withColumn("budget", budget)
    admitted = top_per_key(
        with_budget,
        key="host",
        order_exprs=order_exprs(),
        limit_col=F.col("budget"),
        salt_on="canonical",
        salt_buckets=cfg.salt_buckets,
        prune_col="priority",
        prune_max=remaining,
    ).drop("budget")

    # with_global_seq's partition-offset pass doubles as the admitted count
    # (and its cache backs the staging write), so the politeness window stack
    # runs ONCE per round — counting admitted separately would execute the
    # whole ranking pipeline twice. `seqd` keeps the original handle: the
    # cache-release marker does not survive .where()/.withColumn() rebinds.
    seqd = with_global_seq(admitted, order_exprs(), seq_col="seq")
    if hasattr(seqd, "_global_seq_cache"):
        persisted.append(seqd._global_seq_cache)
    admitted_cnt = seqd._global_seq_total
    if admitted_cnt == 0 and skipped.limit(1).count() == 0:
        # nothing admitted AND nothing denied this round; if nothing is
        # pending at all, stop — otherwise rows are backoff-delayed past t0:
        # advance the virtual clock without committing (the skipped round
        # re-runs on resume, deterministically and for free).
        # When robots DENIED rows exist, fall through instead: the denied
        # statuses must commit (the round contract marks them skipped
        # unconditionally, oracle/simulator.py:369-374) — an early return
        # here would leave an all-denied frontier pending forever and burn
        # every round to max_rounds instead of draining to frontier_empty.
        any_pending = (
            frontier.where(F.col("status") == "pending").limit(1).count() > 0
        )
        if not any_pending:
            return {"stopped": "frontier_empty"}
        return {"stopped": None, "scheduled": 0, "advanced": True}

    scheduled = seqd
    # seq numbers the admitted rows 0..admitted_cnt-1 without gaps: the page
    # budget is a seq cutoff (no extra global sort) of known row count
    scheduled_cnt = min(admitted_cnt, remaining)
    if admitted_cnt > remaining:
        scheduled = scheduled.where(F.col("seq") < remaining)
    # virtual-time politeness slots (J2/X2, queue.py:282-304 virtualized):
    # the k-th fetch of a host in this round happens at t0 + k*crawl_delay.
    # k = rn - 1: top_per_key's rn is the per-host rank in order_exprs
    # (canonical breaks ties), seq follows the same order within a host, and
    # the seq cutoff above drops only a tail of each host's rows — so rn is
    # exactly the host's row number by seq, with no second window
    scheduled = (
        scheduled.withColumn("round", F.lit(rnd))
        .withColumn(
            "fetch_ts",
            F.lit(t0)
            + (F.col("rn") - 1) * F.coalesce(F.col("crawl_delay"), F.lit(cfg.default_delay)),
        )
        .drop("crawl_delay", "rn")
    )

    commit = catalog.begin(rnd)
    sched_path = commit.stage_append(
        "crawl_order", scheduled.select("round", "seq", "fetch_ts", *FRONTIER_COLS)
    )
    release_global_seq(seqd)  # staged to parquet; drop the seq cache
    sched = spark.read.parquet(sched_path)  # lineage truncation + single eval
    # A6 per-stage timings (database.py:436-451 analog): network timings do
    # not exist for a simulated fetch, so the honored contract is wall time
    # per pipeline stage per round (schedule / fetch+extract / links / commit)
    t_sched_done = time.time()

    # -- simulated fetch (J8/S1): left join against the documents table ------
    # F8/F9 (worker.py:235-264): a found document can still be REJECTED for
    # content-type or size; rejections take the same failure/retry path as a
    # missing document (ContentError == NetworkError to the engine), with a
    # distinct error_type in the errors sink. Corpora without the outcome
    # columns (plain input_hint shape) fail open: everything is text/html.
    # each outcome column stands alone: a corpus with content_type but no
    # size_bytes (or vice versa) must degrade that ONE check to NULL
    # (fail-open, fetch.py semantics), not crash with UNRESOLVED_COLUMN
    has_ct = "content_type" in documents_df.columns
    has_sz = "size_bytes" in documents_df.columns
    ct = F.col("content_type") if has_ct else F.lit(None).cast("string")
    sz = (F.col("size_bytes") if has_sz else F.lit(None)).cast("long")
    found = F.col("doc_id").isNotNull()
    # reference precedence (missing > content-type > size), with each check
    # active only when its column exists — content_type_ok(NULL) REJECTS
    # (missing header semantics), which is right per-document but wrong for
    # a corpus that has no content_type column at all
    reject = F.when(~found, F.lit(FM.FETCH_FAILED))
    if has_ct:
        reject = reject.when(
            ~FM.content_type_ok(ct, cfg.allowed_content_types),
            F.lit(FM.CONTENT_TYPE_REJECTED),
        )
    if has_sz:
        reject = reject.when(
            ~FM.size_ok(sz, cfg.max_page_size), F.lit(FM.CONTENT_TOO_LARGE)
        )
    fetched = (
        sched.join(documents_df, sched.canonical == documents_df.doc_id, "left")
        .withColumn("error_type", reject)
        .withColumn("success", F.col("error_type").isNull())
        .withColumn(
            "text", F.when(F.col("success"), X.worker_clean_text(F.col("spans")))
        )
        .persist()
    )
    persisted.append(fetched)

    # -- pages sink (S7) ------------------------------------------------------
    commit.stage_append(
        "pages",
        fetched.select(
            "round", "seq", "canonical", "url", "host", "depth", "success", "text",
            ct.alias("content_type"), sz.alias("size_bytes"),
            # T6 (processor.py:322-336): per-page span-kind counts
            F.when(F.col("success"), span_structure(F.col("spans"))).alias("structure"),
        ),
    )

    # -- error events (S10, storage/database.py:347-375) ----------------------
    errors = fetched.where(~F.col("success")).select(
        F.lit(rnd).alias("round"),
        "canonical",
        "host",
        "depth",
        (F.col("attempts") + 1).alias("attempt"),
        F.col("error_type"),
    )
    commit.stage_append("errors", errors)

    # -- media refs (interleaved media spans -> media table) ------------------
    # media spans carry media_ref only (input_hint span contract); the table
    # keyed on (canonical, media_pos) feeds the multimodal payload pipeline
    # (operators/multimodal.py) downstream of the crawl
    media = (
        fetched.where("success")
        .select(
            "canonical",
            F.posexplode(
                F.filter(X.spans_sorted(F.col("spans")), lambda s: s["kind"] == F.lit("media"))
            ).alias("media_pos", "span"),
        )
        .select(
            F.lit(rnd).alias("round"),
            "canonical",
            "media_pos",
            F.col("span.media_ref").alias("media_ref"),
        )
    )
    commit.stage_append("media", media)

    # -- word frequencies (A1/S9) ---------------------------------------------
    words = (
        fetched.where("success")
        .select("canonical", F.explode(X.tokens(F.col("text"))).alias("word"))
        .groupBy("canonical", "word")
        .agg(F.count("*").alias("frequency"))
        .withColumn("round", F.lit(rnd))
    )
    commit.stage_append("word_frequencies", words)
    t_extract_done = time.time()

    # -- link discovery (T5/O6) -----------------------------------------------
    parents = fetched.where(F.col("success") & (F.col("depth") < cfg.max_depth))
    raw_links = (
        parents.select(
            F.col("seq").alias("parent_seq"),
            F.col("canonical").alias("src"),
            F.col("depth").alias("parent_depth"),
            F.posexplode(X.link_spans(F.col("spans"))).alias("pos", "span"),
        )
        # the whole URL chain in ONE Python pass per link (see module
        # docstring); the filter cannot move below the nondeterministic UDF
        .withColumn("u", link_urls_udf(F.col("span.text"), F.col("src")))
        .select(
            "parent_seq", "src", "parent_depth", "pos",
            "u.absolute", "u.norm", "u.canonical",
        )
        .where(F.col("absolute").isNotNull())
    )
    first_occurrence = Window.partitionBy("src", "absolute").orderBy("pos")
    dedup_in_doc = (
        raw_links.withColumn("_r", F.row_number().over(first_occurrence))
        .where(F.col("_r") == 1)
        .drop("_r")
    )
    link_order = Window.partitionBy("src").orderBy("pos")
    links = (
        dedup_in_doc.withColumn(
            "link_pos", (F.row_number().over(link_order) - 1).cast("long")
        )
        .withColumn("round", F.lit(rnd))
        # J4 (processor.py:289-320): internal = link netloc equals the base
        # page's netloc — RAW netloc equality, so a www./:80 spelling of the
        # same host counts as external, exactly like the reference's urlparse
        .withColumn(
            "is_internal", host_col(F.col("absolute")) == host_col(F.col("src"))
        )
        .persist()  # consumed by the links sink AND the candidate pipeline
    )
    persisted.append(links)
    commit.stage_append(
        "links", links.select("round", "src", "absolute", "link_pos", "is_internal")
    )

    # -- new frontier candidates (F2/F3 -> J1 dedup anti-join) ----------------
    # norm/canonical were computed with `absolute` above: no Python from here
    candidates = links.where(F.col("norm").isNotNull())
    in_round_first = Window.partitionBy("canonical").orderBy("parent_seq", "link_pos")
    candidates = (
        candidates.withColumn("_r", F.row_number().over(in_round_first))
        .where(F.col("_r") == 1)
        .drop("_r")
        .withColumn("url_hash", url_hash_col(F.col("canonical")))
    )
    # F6 domain restrictions (engine.py:581-589): blocked wins; a non-empty
    # allowed set is exclusive. Applied at discovery like the reference's
    # _add_links_to_queue -> _should_crawl_url path (seeds are exempt there).
    cand_host = host_col(F.col("canonical"))
    if cfg.blocked_domains:
        candidates = candidates.where(~cand_host.isin(*cfg.blocked_domains))
    if cfg.allowed_domains:
        candidates = candidates.where(cand_host.isin(*cfg.allowed_domains))
    # shuffled HASH join (not sort-merge): the anti-join needs no ordering,
    # and skipping both 10^7..10^10-row sorts is a ~2x win measured at 32M
    # rows. url_seen arrives as a BUCKETED scan on exactly these keys
    # (tables.read_seen), so the seen side has NO Exchange — only the
    # per-round candidate set shuffles (storage-partitioned join; the r2
    # full-seen-side re-shuffle per round is gone). Guarded by
    # tests/test_plans.py::test_seen_side_not_shuffled.
    fresh = (
        candidates.join(
            url_seen.hint("shuffle_hash"),
            (candidates.url_hash == url_seen.url_hash)
            & (candidates.canonical == url_seen.canonical),
            "left_anti",
        )
        .select(
            F.col("norm").alias("url"),
            "canonical",
            "url_hash",
            host_col(F.col("canonical")).alias("host"),
            (F.col("parent_depth") + 1).alias("depth"),
            F.lit(5).alias("priority"),  # discovered-link priority (engine.py:613)
            F.col("src").alias("parent"),
            # round-banded FIFO key: (round+1)*10^14 + parent_seq*10^6 + pos.
            # Bands hold 10^8 scheduled/round x 10^6 links/page x 92k rounds
            # inside int64; beyond-cap values clamp (ties then fall to the
            # canonical ASC tiebreak of order_exprs, still deterministic)
            (
                F.lit((rnd + 1) * 10**14)
                + F.least(F.col("parent_seq"), F.lit(10**8 - 1)) * F.lit(10**6)
                + F.least(F.col("link_pos"), F.lit(10**6 - 1))
            ).cast("long").alias("discovered_at"),
            F.lit(0).alias("attempts"),
            F.lit(float((rnd + 1) * cfg.horizon)).alias("scheduled_at"),
            F.lit("pending").alias("status"),
        )
        .withColumn("host_bucket", host_bucket_col(F.col("host"), cfg.n_host_buckets))
        .select(*FRONTIER_COLS)
        .persist()
    )
    persisted.append(fresh)

    # ONE action counts the round and finds its dirty buckets (module
    # docstring); at most n_host_buckets x 4 rows reach the driver, never data
    tally = (
        fetched.select("host_bucket", F.when(F.col("success"), "completed").otherwise("failed"))
        .union(skipped.select("host_bucket", F.lit("skipped")))
        .union(fresh.select("host_bucket", F.lit("fresh")))
        .toDF("host_bucket", "kind")
        .groupBy("host_bucket", "kind")
        .count()
        .collect()
    )
    per_kind = Counter()
    for _, kind, n in tally:
        per_kind[kind] += n
    completed_cnt, skipped_cnt, fresh_cnt = (
        per_kind[k] for k in ("completed", "skipped", "fresh")
    )
    dirty = sorted({b for b, _, _ in tally})
    t_links_done = time.time()

    # -- outcome rows for the scheduled set (X4 retry / completed / failed) ---
    new_attempts = F.col("attempts") + 1
    outcomes = fetched.select(
        *[c for c in FRONTIER_COLS if c not in ("status", "attempts", "priority", "scheduled_at")],
        F.when(F.col("success"), F.col("attempts")).otherwise(new_attempts).alias("attempts"),
        F.when(F.col("success") | (new_attempts >= cfg.max_attempts), F.col("priority"))
        .otherwise(F.col("priority") - 1)
        .alias("priority"),
        F.when(F.col("success") | (new_attempts >= cfg.max_attempts), F.col("scheduled_at"))
        .otherwise(F.lit(t0) + F.pow(F.lit(2.0), new_attempts.cast("double")))
        .alias("scheduled_at"),
        F.when(F.col("success"), F.lit("completed"))
        .when(new_attempts >= cfg.max_attempts, F.lit("failed"))
        .otherwise(F.lit("pending"))
        .alias("status"),
    ).select(*FRONTIER_COLS)

    touched = sched.select("canonical").union(skipped.select("canonical"))
    # DIRTY-BUCKET commit (Iceberg MERGE analog, persistent_queue.py:196-261
    # cadence): only host_buckets receiving a status change or a fresh row
    # are rewritten; untouched buckets carry forward in their previous data
    # dirs via the manifest's bucket map (tables.stage_replace_buckets).
    # Commit cost tracks the touched-bucket row count, not frontier size —
    # the r2 full-frontier rewrite per round is gone.
    untouched_dirty = frontier.where(F.col("host_bucket").isin(dirty)).join(
        touched, "canonical", "left_anti"
    )
    dirty_content = (
        untouched_dirty.select(*FRONTIER_COLS)
        .unionByName(outcomes)
        .unionByName(skipped.select(*FRONTIER_COLS))
        .unionByName(fresh)
    )
    # co-locate rows with their bucket before the partitioned write — without
    # this every task writes a sliver into every bucket dir (tasks x buckets
    # tiny files), slowing both this commit and the next round's scan
    commit.stage_replace_buckets(
        "frontier",
        dirty_content.repartition(max(len(dirty), 1), "host_bucket"),
        dirty,
    )
    # the seen append MUST come after every other consumer of `fresh`:
    # fresh's plan anti-joins against the seen TABLE, whose dir this append
    # mutates in place — a later re-evaluation (cache eviction; the tally
    # and frontier write above) would see its own appended rows and anti-join
    # fresh to empty. Staged last, any re-evaluation reads pre-append state.
    commit.stage_seen_append(spark, fresh.select("url_hash", "canonical"))
    t_now = time.time()
    commit.set_metrics(
        scheduled=scheduled_cnt,
        # cumulative across the whole crawl: what resume budget accounting
        # reads after expire_snapshots truncates the per-round history
        scheduled_cum=scheduled_total + scheduled_cnt,
        completed=completed_cnt,
        failed_or_retry=scheduled_cnt - completed_cnt,
        skipped=skipped_cnt,
        fresh=fresh_cnt,
        dirty_buckets=len(dirty),
        t0=t0,
        # A6 analog (database.py:436-451): per-round per-stage wall times
        # replace the reference's per-URL network timings (fetch is a join)
        wall_sec=round(t_now - wall_start, 3),
        sched_sec=round(t_sched_done - wall_start, 3),
        extract_sec=round(t_extract_done - t_sched_done, 3),
        links_sec=round(t_links_done - t_extract_done, 3),
        commit_sec=round(t_now - t_links_done, 3),
    )
    commit.commit()
    # the persisted frames are released by run_round's finally block
    return {
        "stopped": None,
        "scheduled": scheduled_cnt,
        "completed": completed_cnt,
        "fresh": fresh_cnt,
        "skipped": skipped_cnt,
    }
