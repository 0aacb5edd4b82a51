"""Iceberg snapshot semantics on the crawl catalog: time travel
(read_as_of / VERSION AS OF) and incremental CDC reads (read_increment),
verified against a real multi-round crawl's committed snapshot chain."""

from __future__ import annotations

import pytest

from crawler_spark.config import CrawlConfig
from crawler_spark.plans.engine import run_crawl
from crawler_spark.sources.corpus import gen_corpus, to_documents_df, to_robots_df
from crawler_spark.tables import SnapshotCatalog

pytestmark = pytest.mark.engine  # split: see pytest.ini


@pytest.fixture(scope="module")
def crawled(spark, tmp_path_factory):
    documents, seeds, robots = gen_corpus(hosts=3, pages_per_host=10, seed=7)
    workdir = str(tmp_path_factory.mktemp("tt"))
    run_crawl(
        spark,
        workdir,
        to_documents_df(spark, documents),
        to_robots_df(spark, robots),
        seeds,
        CrawlConfig(max_pages=60, max_rounds=5),
    )
    return SnapshotCatalog(workdir)


def test_snapshot_log_newest_first(crawled):
    snaps = crawled.snapshots()
    assert len(snaps) >= 3
    rounds = [s["round"] for s in snaps]
    assert rounds == sorted(rounds, reverse=True)
    assert rounds[0] == crawled.current_round()


def test_read_as_of_pages_monotone_and_current(spark, crawled):
    cur = crawled.current_round()
    counts = [crawled.read_as_of(spark, "pages", r).count() for r in range(cur + 1)]
    assert counts == sorted(counts)  # appends only: monotone
    assert counts[-1] == crawled.read(spark, "pages").count()
    assert counts[0] < counts[-1]  # round 0 genuinely older


def test_read_as_of_before_first_commit_is_none(spark, crawled):
    # round -1 is the engine's init snapshot (seeded frontier, no pages yet)
    assert crawled.manifest_as_of(-1)["round"] == -1
    assert crawled.read_as_of(spark, "pages", -1) is None
    # before ANY commit, including init
    assert crawled.manifest_as_of(-2) is None
    assert crawled.read_as_of(spark, "frontier", -2) is None


def test_increment_reconstructs_snapshot(spark, crawled):
    cur = crawled.current_round()
    a, b = 0, cur
    base = crawled.read_as_of(spark, "pages", a).select("url")
    inc = crawled.read_increment(spark, "pages", a, b).select("url")
    want = crawled.read_as_of(spark, "pages", b).select("url")
    got = {r["url"] for r in base.unionAll(inc).collect()}
    assert got == {r["url"] for r in want.collect()}
    assert inc.count() == want.count() - base.count()


def test_increment_empty_window_keeps_schema(spark, crawled):
    cur = crawled.current_round()
    inc = crawled.read_increment(spark, "pages", cur, cur)
    assert inc.count() == 0
    assert "url" in inc.columns


def test_increment_url_seen_matches_as_of_difference(spark, crawled):
    cur = crawled.current_round()
    early = {
        r["canonical"]
        for r in crawled.read_as_of(spark, "url_seen", 1).select("canonical").collect()
    }
    late = {
        r["canonical"]
        for r in crawled.read_as_of(spark, "url_seen", cur).select("canonical").collect()
    }
    inc = {
        r["canonical"]
        for r in crawled.read_increment(spark, "url_seen", 1, cur)
        .select("canonical")
        .collect()
    }
    assert inc == late - early


def test_read_as_of_current_round_equals_read(spark, crawled):
    # one resolver serves both reads: as of the current round, every table
    # (bucket-mapped frontier, url_seen file list, append tables) reads the
    # same rows as the current read
    cur = crawled.current_round()
    for table in ("frontier", "url_seen", "crawl_order", "pages"):
        now, as_of = crawled.read(spark, table), crawled.read_as_of(spark, table, cur)
        cols = sorted(now.columns)
        assert sorted(as_of.columns) == cols, table
        want = sorted(map(tuple, now.select(*cols).collect()))
        assert want and sorted(map(tuple, as_of.select(*cols).collect())) == want, table


def test_metrics_history_matches_snapshot_chain(crawled):
    # the counters each round COMMITS to its manifest are the same counters
    # the catalog reads back via the parent chain (crawl_round_metrics's
    # Spark-side source); committed rounds are exactly the chain's rounds
    hist = [m for m in crawled.metrics_history() if m.get("scheduled") is not None]
    chain_rounds = sorted(m["round"] for _, m in crawled.snapshot_chain() if m["round"] >= 0)
    assert sorted(m["round"] for m in hist) == chain_rounds
    for m in hist:
        assert m["failed_or_retry"] == m["scheduled"] - m["completed"]
        assert m["scheduled"] > 0  # admitted_cnt == 0 rounds never commit


def test_increment_raises_on_replace_in_window(spark, crawled):
    # frontier is replaced (dirty-bucket rewrite) every round: the
    # incremental contract is undefined and must refuse, not guess
    with pytest.raises(ValueError, match="non-append"):
        crawled.read_increment(spark, "frontier", 0, crawled.current_round())


def test_expire_snapshots_bounds_history(spark, tmp_path):
    # own workdir: expiry mutates the catalog, the shared fixture stays clean
    documents, seeds, robots = gen_corpus(hosts=2, pages_per_host=6, seed=11)
    wd = str(tmp_path / "exp")
    cfg = CrawlConfig(max_pages=30, max_rounds=4)
    run_crawl(
        spark, wd, to_documents_df(spark, documents),
        to_robots_df(spark, robots), seeds, cfg,
    )
    cat = SnapshotCatalog(wd)
    cur = cat.current_round()
    n_before = len(cat.snapshots())
    assert n_before >= 4  # init + >=3 rounds
    total_pages = cat.read(spark, "pages").count()
    seen_before = cat.read_seen(spark).count()

    removed = cat.expire_snapshots(keep_last=2)
    assert removed["manifests"] >= n_before - 2
    assert len(cat.snapshots()) == 2

    # current state fully intact after physical deletion
    assert cat.read(spark, "pages").count() == total_pages
    assert cat.read_seen(spark).count() == seen_before
    assert cat.read(spark, "frontier").count() > 0

    # kept window still time-travels; below it raises, never misreports
    prev = cur - 1
    assert cat.read_as_of(spark, "pages", prev).count() <= total_pages
    assert cat.read_increment(spark, "pages", prev, cur).count() > 0
    with pytest.raises(ValueError, match="expired"):
        cat.read_as_of(spark, "pages", prev - 1)
    with pytest.raises(ValueError, match="expired"):
        cat.read_increment(spark, "pages", prev - 1, cur)

    # resume after expiry: cumulative budget counter keeps max_pages honest
    # (summing the truncated history would undercount and overshoot)
    hist = cat.metrics_history()
    assert any("scheduled_cum" in m for m in hist)
    out = run_crawl(
        spark, wd, to_documents_df(spark, documents),
        to_robots_df(spark, robots), seeds, cfg,
    )
    assert out["scheduled_total"] <= cfg.max_pages


def test_budget_counter_survives_maintenance_and_expiry(spark, tmp_path):
    """The cumulative scheduled counter must survive two truncation paths:
    (a) a maintenance commit becoming the newest snapshot (it carries the
    parent's counter forward), and (b) expire_snapshots on a PRE-COUNTER
    catalog: it refuses before deleting anything, and after
    migrate_to_latest (migration 001 sums the full chain) the kept window
    carries the full-chain sum."""
    import json
    import os

    from crawler_spark.migrations import migrate_to_latest

    documents, seeds, robots = gen_corpus(hosts=2, pages_per_host=6, seed=13)
    wd = str(tmp_path / "cnt")
    cfg = CrawlConfig(max_pages=30, max_rounds=4)
    run_crawl(
        spark, wd, to_documents_df(spark, documents),
        to_robots_df(spark, robots), seeds, cfg,
    )
    cat = SnapshotCatalog(wd)
    hist = cat.metrics_history()
    cum = next(m["scheduled_cum"] for m in reversed(hist) if "scheduled_cum" in m)

    # (a) maintenance commit on top: newest snapshot still carries the counter
    cat.compact_seen(spark)
    newest = cat.metrics_history()[-1]
    assert newest.get("maintenance") is True
    assert newest.get("scheduled_cum") == cum
    # ...and expiring down to ONLY that maintenance commit keeps it readable
    cat.expire_snapshots(keep_last=1)
    hist = cat.metrics_history()
    assert len(hist) == 1 and hist[0]["scheduled_cum"] == cum

    # (b) pre-counter catalog: strip the counter everywhere; expiry refuses
    # until the migration has folded the full-chain sum into a manifest
    documents, seeds, robots = gen_corpus(hosts=2, pages_per_host=6, seed=17)
    wd2 = str(tmp_path / "pre")
    run_crawl(
        spark, wd2, to_documents_df(spark, documents),
        to_robots_df(spark, robots), seeds, cfg,
    )
    cat2 = SnapshotCatalog(wd2)
    cdir = os.path.join(wd2, "_commits")
    for name in os.listdir(cdir):
        if not name.endswith(".json"):
            continue
        p = os.path.join(cdir, name)
        with open(p) as f:
            m = json.load(f)
        m.get("metrics", {}).pop("scheduled_cum", None)
        with open(p, "w") as f:
            json.dump(m, f)
    full_sum = sum(m.get("scheduled", 0) for m in cat2.metrics_history())
    manifests = sorted(os.listdir(cdir))
    with pytest.raises(ValueError, match="crawl_analyze.py migrate"):
        cat2.expire_snapshots(keep_last=2)
    assert sorted(os.listdir(cdir)) == manifests  # refused before deleting
    migrate_to_latest(spark, wd2)
    cat2.expire_snapshots(keep_last=2)
    hist2 = cat2.metrics_history()
    assert len(hist2) == 2
    assert [m["scheduled_cum"] for m in hist2 if "scheduled_cum" in m] == [full_sum]
