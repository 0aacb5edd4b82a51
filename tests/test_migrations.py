"""Catalog schema migrations (crawler_spark/migrations.py — the snapshot-
catalog analog of reference storage/migrations.py's versioned upgrades +
schema_migrations ledger)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from crawler_spark.migrations import (
    downgrade,
    migrate_to_latest,
    migrations_status,
)
from crawler_spark.tables import SnapshotCatalog

pytestmark = pytest.mark.catalog  # split: see pytest.ini


@pytest.fixture()
def legacy_catalog(spark, tmp_path):
    """A catalog in the PRE-migration layout: plain url_seen append table,
    per-round 'scheduled' metrics but no cumulative counter."""
    wd = str(tmp_path / "legacy")
    cat = SnapshotCatalog(wd)
    for rnd, urls in enumerate([["http://a.test/", "http://b.test/"],
                                ["http://a.test/p1"]]):
        df = spark.createDataFrame(
            [(hash(u) & 0x7FFFFFFF, u) for u in urls], "url_hash long, canonical string"
        )
        c = cat.begin(rnd)
        c.stage_append("url_seen", df)
        c.set_metrics(scheduled=len(urls))
        # strip the carried counter to simulate a pre-counter writer
        c.metrics.pop("scheduled_cum", None)
        c.commit()
    return wd


def test_status_reports_pending_on_legacy(legacy_catalog):
    st = migrations_status(legacy_catalog)
    names = [p["name"] for p in st["pending"]]
    assert names == ["scheduled_cum_backfill", "bucketed_url_seen"]
    assert st["current"] is None


def test_migrate_to_latest_upgrades_and_is_idempotent(spark, legacy_catalog):
    wd = legacy_catalog
    before_rows = {
        tuple(r) for r in SnapshotCatalog(wd).read(spark, "url_seen").collect()
    }
    out = migrate_to_latest(spark, wd)
    assert [e["version"] for e in out["applied_now"]] == ["001", "002"]
    cat = SnapshotCatalog(wd)
    m = cat.current_manifest()
    # 001: cumulative budget counter backfilled from committed history
    assert m["metrics"]["scheduled_cum"] == 3
    # 002: the bucketed seen store exists and is content-identical
    assert "seen" in m
    after_rows = {tuple(r) for r in cat.read_seen(spark).collect()}
    assert after_rows == before_rows
    # ledger written (the schema_migrations analog)
    ledger = json.load(open(os.path.join(wd, "_migrations.json")))
    assert [e["version"] for e in ledger] == ["001", "002"]
    # idempotent: second run applies nothing
    again = migrate_to_latest(spark, wd)
    assert again["applied_now"] == [] and again["pending"] == []


def test_unknown_future_version_refused(spark, legacy_catalog):
    wd = legacy_catalog
    with open(os.path.join(wd, "_migrations.json"), "w") as f:
        json.dump([{"version": "099", "name": "from_the_future"}], f)
    with pytest.raises(ValueError, match="newer writer"):
        migrations_status(wd)
    # the guard must fire BEFORE any apply: a newer-format catalog can look
    # "unmigrated" to this build's probes, so applying first would corrupt
    # it and only then refuse
    before = SnapshotCatalog(wd).current_manifest()
    with pytest.raises(ValueError, match="newer writer"):
        migrate_to_latest(spark, wd)
    assert SnapshotCatalog(wd).current_manifest() == before  # untouched


def test_downgrade_refused():
    with pytest.raises(NotImplementedError, match="read_as_of"):
        downgrade()


def test_modern_catalog_has_nothing_pending(spark, tmp_path):
    """A catalog written by the current engine needs no migration."""
    from crawler_spark.config import CrawlConfig
    from crawler_spark.plans.engine import run_crawl
    from crawler_spark.sources.corpus import gen_corpus, to_documents_df, to_robots_df

    documents, seeds, robots = gen_corpus(hosts=2, pages_per_host=4, seed=7)
    wd = str(tmp_path / "modern")
    run_crawl(
        spark, wd, to_documents_df(spark, documents), to_robots_df(spark, robots),
        seeds, CrawlConfig(max_pages=10, max_rounds=2, n_host_buckets=2),
    )
    st = migrations_status(wd)
    assert st["pending"] == []


def test_init_state_catalog_has_nothing_pending(spark, tmp_path):
    """The first manifest of a catalog already carries the budget counter,
    so a crawl that has only been initialised needs no migration."""
    from crawler_spark.config import CrawlConfig
    from crawler_spark.plans.engine import init_state
    from crawler_spark.sources.corpus import gen_corpus

    _, seeds, _ = gen_corpus(hosts=2, pages_per_host=4, seed=7)
    wd = str(tmp_path / "init")
    init_state(spark, SnapshotCatalog(wd), seeds, CrawlConfig(n_host_buckets=2))
    assert SnapshotCatalog(wd).current_manifest()["metrics"]["scheduled_cum"] == 0
    assert migrations_status(wd)["pending"] == []


def test_legacy_catalog_resumes_like_uninterrupted_crawl(spark, tmp_path):
    """A crawl whose catalog is in the pre-migration layout (plain url_seen
    append table, no budget counter) resumes through run_crawl: the resume
    migrates it, and the crawl ends exactly where an uninterrupted crawl
    (the oracle simulator's) does, inside the page budget (migration 001
    restores the counter). The rebuilt url_seen keeps the crawl's own
    (non-default) n_seen_buckets."""
    from crawler_spark.config import CrawlConfig
    from crawler_spark.plans.engine import read_crawl_order, run_crawl
    from crawler_spark.sources.corpus import gen_corpus, to_documents_df, to_robots_df
    from oracle.simulator import CrawlSimulator, SimConfig

    documents, seeds, robots = gen_corpus(hosts=3, pages_per_host=6, seed=42)
    args = (to_documents_df(spark, documents), to_robots_df(spark, robots), seeds)

    def cfg(rounds):
        return CrawlConfig(max_pages=40, max_rounds=rounds, n_host_buckets=4, n_seen_buckets=4)

    sim = CrawlSimulator(documents, seeds, robots, SimConfig(max_pages=40, max_rounds=6)).run()

    wd = str(tmp_path / "legacy")
    run_crawl(spark, wd, *args, cfg(2))
    # rewrite the committed state in the old layout: url_seen as a plain
    # parquet dir named in "tables", no "seen" entry, no counter anywhere
    cat = SnapshotCatalog(wd)
    plain = "url_seen/plain"
    cat.read_seen(spark).write.parquet(os.path.join(wd, plain))
    cdir = os.path.join(wd, "_commits")
    for name in os.listdir(cdir):
        p = os.path.join(cdir, name)
        with open(p) as f:
            m = json.load(f)
        m["metrics"].pop("scheduled_cum", None)
        if name == cat._current_name():
            del m["seen"]
            m["tables"]["url_seen"] = [plain]
        with open(p, "w") as f:
            json.dump(m, f)
    assert [p["version"] for p in migrations_status(wd)["pending"]] == ["001", "002"]

    out = run_crawl(spark, wd, *args, cfg(6))
    assert read_crawl_order(spark, wd) == sim.crawl_order
    # the budget binds after the resume point: rounds 0-1 schedule 15 pages
    assert out["stopped"] == "max_pages" and out["scheduled_total"] <= 40
    assert migrations_status(wd)["pending"] == []
    assert SnapshotCatalog(wd).current_manifest()["seen"]["buckets"] == 4
