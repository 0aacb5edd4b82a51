"""Regression tests for defects found in the round-1 self-review:
interrupted-commit resume, per-round cache leaks, string-keyed media decode,
and the widened discovered_at bands; plus the round's derived counters."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from crawler_spark.config import CrawlConfig
from crawler_spark.plans.engine import read_crawl_order, run_crawl
from crawler_spark.sources.corpus import gen_corpus, to_documents_df, to_robots_df
from crawler_spark.tables import SnapshotCatalog

pytestmark = pytest.mark.catalog  # split: see pytest.ini


@pytest.fixture(scope="module")
def small(spark):
    documents, seeds, robots = gen_corpus(hosts=3, pages_per_host=6, seed=42)
    return to_documents_df(spark, documents), to_robots_df(spark, robots), seeds


def test_resume_survives_interrupted_commit(spark, small, tmp_path):
    """A kill between manifest write and the CURRENT swap (or mid-write)
    must neither break resume nor double-count the interrupted round."""
    docs_df, robots_df, seeds = small
    wd = str(tmp_path / "crawl")
    cfg = CrawlConfig(max_pages=30, max_rounds=2, n_host_buckets=4)
    run_crawl(spark, wd, docs_df, robots_df, seeds, cfg)
    committed = read_crawl_order(spark, wd)
    cat = SnapshotCatalog(wd)
    before = cat.metrics_history()

    # simulate a kill mid-manifest-write: truncated orphan beyond CURRENT
    orphan = os.path.join(wd, "_commits", "commit-000099.json")
    with open(orphan, "w") as f:
        f.write('{"round": 99, "tab')  # truncated JSON
    # and a COMPLETE orphan whose round was never swapped into CURRENT
    orphan2 = os.path.join(wd, "_commits", "commit-000098.json")
    with open(orphan2, "w") as f:
        json.dump({"round": 98, "tables": {}, "metrics": {"scheduled": 7777}, "lineage": {}}, f)

    assert cat.metrics_history() == before  # orphans ignored, no raise
    full = run_crawl(
        spark, wd, docs_df, robots_df, seeds, CrawlConfig(max_pages=30, max_rounds=6, n_host_buckets=4)
    )
    assert full["scheduled_total"] <= 30
    assert read_crawl_order(spark, wd)[: len(committed)] == committed


def test_seen_orphan_files_invisible(spark, tmp_path):
    """A kill AFTER the url_seen bucketed append but BEFORE the manifest
    commit must leave those rows invisible: on resume the re-run round's
    fresh candidates would otherwise anti-join against their own orphaned
    copies and vanish. read_seen excludes them NON-destructively (a second
    reader must never delete a live round's staged files — ADVICE r3);
    the resuming writer deletes them via cleanup_orphan_seen()."""
    import os

    from pyspark.sql import functions as F

    cat = SnapshotCatalog(str(tmp_path / "cat"))

    def mk(a, b):
        return spark.range(a, b).select(
            F.concat(F.lit("http://h.test/s"), F.col("id").cast("string")).alias("canonical")
        ).withColumn("url_hash", F.xxhash64("canonical"))

    commit = cat.begin(-1)
    commit.stage_seen_init(spark, mk(0, 100), buckets=4)
    commit.commit()
    # round 0 stages its append ... and the driver dies before commit()
    doomed = cat.begin(0)
    new_files = doomed.stage_seen_append(spark, mk(100, 150))
    assert new_files  # files landed in the table dir
    seen_dir = os.path.join(cat.root, cat.current_manifest()["seen"]["dir"])
    # a concurrent READER: staged-but-uncommitted rows invisible, files intact
    assert cat.read(spark, "url_seen").count() == 100
    assert all(os.path.exists(os.path.join(seen_dir, f)) for f in new_files)
    # the resuming WRITER cleans up, restoring the bucketed fast path
    assert cat.cleanup_orphan_seen() == len(new_files)
    assert not any(os.path.exists(os.path.join(seen_dir, f)) for f in new_files)
    assert cat.read(spark, "url_seen").count() == 100
    # and the re-run of round 0 appends cleanly to the same state
    redo = cat.begin(0)
    redo.stage_seen_append(spark, mk(100, 150))
    redo.commit()
    assert cat.read(spark, "url_seen").count() == 150


def test_dirty_bucket_commit_carries_forward(spark, tmp_path):
    """A bucket-mapped frontier commit rewrites only the dirty buckets;
    untouched buckets keep serving from their previous data dir, a
    re-dirtied bucket supersedes its old copy, and a full replace resets
    the map (VERDICT r2 #2)."""
    cat = SnapshotCatalog(str(tmp_path / "cat"))
    cols = ["canonical", "host_bucket", "status"]

    def mk(rows):
        return spark.createDataFrame(rows, "canonical string, host_bucket int, status string")

    init = cat.begin(-1)
    init.stage_replace(
        "frontier",
        mk([(f"u{b}-{i}", b, "pending") for b in range(4) for i in range(3)]),
        partition_by=["host_bucket"],
    )
    init.commit()

    c0 = cat.begin(0)
    c0.stage_replace_buckets(
        "frontier", mk([("u1-0", 1, "completed"), ("u1-new", 1, "pending")]), [1]
    )
    c0.commit()
    got = {
        (r["canonical"], r["status"])
        for r in cat.read(spark, "frontier").select(*cols).collect()
    }
    assert ("u1-0", "completed") in got and ("u1-new", "pending") in got
    assert ("u1-1", "pending") not in got  # bucket 1 fully replaced
    assert ("u0-0", "pending") in got and ("u3-2", "pending") in got  # carried
    m = cat.current_manifest()
    assert set(m["frontier_buckets"]["map"]) == {"1"}
    assert len(m["tables"]["frontier"]) == 2  # default dir + bucket-1 dir

    # re-dirtying bucket 1 supersedes its round-0 dir, which becomes orphan
    c1 = cat.begin(1)
    c1.stage_replace_buckets("frontier", mk([("u1-final", 1, "pending")]), [1])
    c1.commit()
    rows = {r["canonical"] for r in cat.read(spark, "frontier").collect()}
    assert "u1-final" in rows and "u1-0" not in rows and "u1-new" not in rows
    assert len(cat.current_manifest()["tables"]["frontier"]) == 2
    # the superseded bucket-1 dir is still reachable via the round-0
    # manifest, so orphan cleanup must NOT touch it (time travel stays
    # readable); trimming history is expire_snapshots' job
    assert cat.expire_orphans() == 0
    assert cat.expire_snapshots(keep_last=1)["dirs"] >= 1

    # a full replace (compaction path) collapses the bucket map
    c2 = cat.begin(1)
    c2.stage_replace("frontier", mk([("only", 0, "pending")]), partition_by=["host_bucket"])
    c2.commit()
    m = cat.current_manifest()
    assert m["frontier_buckets"]["map"] == {}
    assert [r["canonical"] for r in cat.read(spark, "frontier").collect()] == ["only"]


def _persistent_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_round_releases_caches(spark, small, tmp_path):
    """run_crawl must not leak persisted RDDs across rounds (seq cache,
    skipped set, fetched/fresh persists)."""
    docs_df, robots_df, seeds = small
    base = _persistent_rdds(spark)
    run_crawl(
        spark, str(tmp_path / "crawl"), docs_df, robots_df, seeds,
        CrawlConfig(max_pages=30, max_rounds=4, n_host_buckets=4),
    )
    after = _persistent_rdds(spark)
    assert after <= base, f"leaked cached RDDs: {after - base}"


def test_failed_round_releases_seq_cache(spark, small, tmp_path, monkeypatch):
    """A round that raises after with_global_seq has cached the admitted
    set (here: the crawl_order write fails) must release that cache too,
    not only the frames it persisted itself."""
    from crawler_spark.tables import RoundCommit

    docs_df, robots_df, seeds = small
    real = RoundCommit.stage_append

    def failing(self, table, *a, **k):
        if table == "crawl_order":
            raise RuntimeError("injected crawl_order write failure")
        return real(self, table, *a, **k)

    base = _persistent_rdds(spark)
    monkeypatch.setattr(RoundCommit, "stage_append", failing)
    with pytest.raises(RuntimeError, match="injected"):
        run_crawl(
            spark, str(tmp_path / "crawl"), docs_df, robots_df, seeds,
            CrawlConfig(max_pages=30, max_rounds=2, n_host_buckets=4),
        )
    after = _persistent_rdds(spark)
    assert after <= base, f"leaked cached RDDs: {after - base}"


@pytest.fixture(scope="module")
def counted_crawl(spark, tmp_path_factory):
    """A multi-round crawl with robots denials, fetch failures and
    discovered links, run with every _robots_dims call recorded."""
    import crawler_spark.plans.engine as engine
    import crawler_spark.plans.round as round_mod

    documents, seeds, robots = gen_corpus(
        hosts=4, pages_per_host=8, seed=7, missing_frac=0.25
    )
    calls = []
    real = round_mod._robots_dims

    def counting(*a, **k):
        calls.append(1)
        return real(*a, **k)

    wd = str(tmp_path_factory.mktemp("counted") / "crawl")
    with pytest.MonkeyPatch.context() as mp:
        # both names: the crawl driver's import and the round module's own
        mp.setattr(engine, "_robots_dims", counting, raising=False)
        mp.setattr(round_mod, "_robots_dims", counting)
        summary = run_crawl(
            spark, wd, to_documents_df(spark, documents), to_robots_df(spark, robots),
            seeds, CrawlConfig(max_pages=60, max_rounds=4, n_host_buckets=4),
        )
    return wd, summary, len(calls)


def test_robots_dims_built_once_per_crawl(counted_crawl):
    _, summary, calls = counted_crawl
    assert len(summary["rounds"]) >= 3
    assert calls == 1


def test_manifest_counts_match_committed_tables(spark, counted_crawl):
    """Each round's manifest counters equal independent counts over what the
    round committed: crawl_order rows, successful pages, the skipped and
    url_seen deltas between consecutive snapshots, and the dirty buckets
    the frontier lineage records."""
    wd, _, _ = counted_crawl
    cat = SnapshotCatalog(wd)
    order = cat.read(spark, "crawl_order")
    pages = cat.read(spark, "pages")

    def frontier_as_of(r):
        f = cat.read_as_of(spark, "frontier", r)
        return {row["canonical"]: (row["status"], row["host_bucket"]) for row in f.collect()}

    def seen_as_of(r):
        return {row["canonical"] for row in cat.read_as_of(spark, "url_seen", r).collect()}

    rounds = sorted(
        (m for _, m in cat.snapshot_chain() if m["round"] >= 0), key=lambda m: m["round"]
    )
    assert len(rounds) >= 3
    totals = {"skipped": 0, "fresh": 0, "failed": 0}
    for m in rounds:
        r, got = m["round"], m["metrics"]
        sched = order.where(F.col("round") == r)
        done = pages.where((F.col("round") == r) & F.col("success")).count()
        now, before = frontier_as_of(r), frontier_as_of(r - 1)
        new_skipped = {
            c for c, (st, _) in now.items() if st == "skipped"
        } - {c for c, (st, _) in before.items() if st == "skipped"}
        new_seen = seen_as_of(r) - seen_as_of(r - 1)
        buckets = {row["host_bucket"] for row in sched.select("host_bucket").collect()} | {
            now[c][1] for c in new_skipped | new_seen
        }
        (op,) = [o for o in m["lineage"]["frontier"] if o["op"] == "replace_buckets"]
        assert got["scheduled"] == sched.count(), r
        assert got["completed"] == done, r
        assert got["skipped"] == len(new_skipped), r
        assert got["fresh"] == len(new_seen), r
        assert op["buckets"] == sorted(buckets), r
        assert got["dirty_buckets"] == len(buckets), r
        totals["skipped"] += got["skipped"]
        totals["fresh"] += got["fresh"]
        totals["failed"] += got["scheduled"] - got["completed"]
    assert all(totals.values()), totals  # every counter path was exercised


def test_decode_features_string_doc_keys(spark):
    """The crawl's media table keys on canonical URLs (strings); the decode
    stage must preserve the key type instead of forcing int64."""
    from crawler_spark.operators.multimodal import decode_features, synth_media

    df = spark.createDataFrame(
        [("http://host0.test/page1", "some text"), ("http://host1.test/", "other")],
        ["canonical", "text"],
    )
    media = synth_media(df, "canonical", "text")
    out = decode_features(media, backend="fake")
    assert dict(out.dtypes)["doc"] == "string"
    rows = {r["doc"]: r["width"] for r in out.collect()}
    assert set(rows) == {"http://host0.test/page1", "http://host1.test/"}


def test_discovered_at_bands_are_monotone_across_rounds(spark, small, tmp_path):
    """Widened bands: every round-r discovery sorts strictly before every
    round-(r+1) discovery, and values stay well inside int64."""
    docs_df, robots_df, seeds = small
    wd = str(tmp_path / "crawl")
    run_crawl(
        spark, wd, docs_df, robots_df, seeds,
        CrawlConfig(max_pages=40, max_rounds=4, n_host_buckets=4),
    )
    frontier = SnapshotCatalog(wd).read(spark, "frontier")
    rows = frontier.where(F.col("parent").isNotNull()).select("discovered_at").collect()
    assert rows
    bands = sorted({r["discovered_at"] // 10**14 for r in rows})
    assert all(b >= 1 for b in bands)
    assert max(r["discovered_at"] for r in rows) < 2**62

def test_compact_frontier_preserves_crawl_order(spark, small, tmp_path):
    """X6 retention: dropping completed/failed/skipped rows between rounds
    never changes what a resumed crawl schedules."""
    docs_df, robots_df, seeds = small
    cfg2 = CrawlConfig(max_pages=40, max_rounds=2, n_host_buckets=4)
    cfg_full = CrawlConfig(max_pages=40, max_rounds=6, n_host_buckets=4)

    ref = str(tmp_path / "ref")
    run_crawl(spark, ref, docs_df, robots_df, seeds, cfg_full)
    expected = read_crawl_order(spark, ref)

    wd = str(tmp_path / "compacted")
    run_crawl(spark, wd, docs_df, robots_df, seeds, cfg2)
    cat = SnapshotCatalog(wd)
    dropped = cat.compact_frontier(spark)
    assert dropped > 0
    statuses = {
        r["status"]
        for r in cat.read(spark, "frontier").select("status").distinct().collect()
    }
    assert statuses == {"pending"}
    run_crawl(spark, wd, docs_df, robots_df, seeds, cfg_full)
    assert read_crawl_order(spark, wd) == expected


def test_compact_frontier_age_retention(spark, small, tmp_path):
    """X6 age cutoff (persistent_queue.py:263-296 24h analog, VERDICT r2 #6):
    max_age_rounds keeps RECENT completed/failed bookkeeping rows and drops
    only older ones; pending rows always survive; the resumed crawl is
    unchanged. Run at a non-default horizon: the never-scheduled rows' age
    must come from the crawl's own horizon, not the config default."""
    docs_df, robots_df, seeds = small
    horizon = 10.0
    cfg2 = CrawlConfig(max_pages=40, max_rounds=4, n_host_buckets=4, horizon=horizon)
    cfg_full = CrawlConfig(max_pages=40, max_rounds=6, n_host_buckets=4, horizon=horizon)

    ref = str(tmp_path / "ref")
    run_crawl(spark, ref, docs_df, robots_df, seeds, cfg_full)
    expected = read_crawl_order(spark, ref)

    wd = str(tmp_path / "aged")
    run_crawl(spark, wd, docs_df, robots_df, seeds, cfg2)
    cat = SnapshotCatalog(wd)
    frontier = cat.read(spark, "frontier")
    pending_before = frontier.where(F.col("status") == "pending").count()
    done_before = frontier.where(F.col("status") != "pending").count()
    order = cat.read(spark, "crawl_order")
    last = order.groupBy("canonical").agg(F.max("round").alias("lr"))
    cur = cat.current_round()
    # mirror the operator's age rule: last scheduled round from crawl_order,
    # falling back to the eligibility round for never-scheduled (skipped) rows
    age = F.coalesce(F.col("lr"), F.floor(F.col("scheduled_at") / F.lit(horizon)).cast("int"))
    recent_done = (
        frontier.where(F.col("status") != "pending")
        .join(last, "canonical", "left")
        .where(age >= cur - 1)
        .count()
    )

    dropped = cat.compact_frontier(spark, max_age_rounds=1)
    after = cat.read(spark, "frontier")
    assert after.where(F.col("status") == "pending").count() == pending_before
    kept_done = after.where(F.col("status") != "pending").count()
    assert kept_done == recent_done  # exactly the last-2-rounds bookkeeping
    assert dropped == done_before - recent_done
    assert 0 < kept_done < done_before  # cutoff is doing real work both ways

    run_crawl(spark, wd, docs_df, robots_df, seeds, cfg_full)
    assert read_crawl_order(spark, wd) == expected


def test_compact_table_preserves_url_seen(spark, small, tmp_path):
    """Merging url_seen's per-round dirs changes nothing downstream."""
    docs_df, robots_df, seeds = small
    wd = str(tmp_path / "crawl")
    run_crawl(
        spark, wd, docs_df, robots_df, seeds,
        CrawlConfig(max_pages=40, max_rounds=3, n_host_buckets=4),
    )
    cat = SnapshotCatalog(wd)
    before = {r["canonical"] for r in cat.read(spark, "url_seen").collect()}
    merged = cat.compact_table(spark, "url_seen")
    assert merged >= 2
    after = {r["canonical"] for r in cat.read(spark, "url_seen").collect()}
    assert after == before
    assert len(cat.current_manifest()["tables"]["url_seen"]) == 1
    # resume still works and dedups against the compacted set
    run_crawl(
        spark, wd, docs_df, robots_df, seeds,
        CrawlConfig(max_pages=60, max_rounds=6, n_host_buckets=4),
    )
    seen2 = [r["canonical"] for r in cat.read(spark, "url_seen").collect()]
    assert len(seen2) == len(set(seen2))


def test_remove_host_prunes_pending_only(spark, small, tmp_path):
    """E3: removing a host drops its pending rows, keeps bookkeeping, and the
    crawl continues without scheduling that host again."""
    from crawler_spark.functions.urls import host_of

    docs_df, robots_df, seeds = small
    wd = str(tmp_path / "crawl")
    run_crawl(spark, wd, docs_df, robots_df, seeds,
              CrawlConfig(max_pages=40, max_rounds=2, n_host_buckets=4))
    cat = SnapshotCatalog(wd)
    victim = "host1.test"
    before_done = cat.read(spark, "frontier").where(
        (F.col("host") == victim) & (F.col("status") != "pending")
    ).count()
    removed = cat.remove_host(spark, victim)
    assert removed > 0
    f = cat.read(spark, "frontier")
    assert f.where((F.col("host") == victim) & (F.col("status") == "pending")).count() == 0
    assert f.where(F.col("host") == victim).count() == before_done
    pre = len(read_crawl_order(spark, wd))
    run_crawl(spark, wd, docs_df, robots_df, seeds,
              CrawlConfig(max_pages=40, max_rounds=4, n_host_buckets=4,
                          blocked_domains=(victim,)))
    new = read_crawl_order(spark, wd)[pre:]
    assert all(host_of(c) != victim for (_, _, c) in new)


def test_maintenance_orphan_not_counted(spark, small, tmp_path):
    """ADVICE r1: a compaction killed between manifest write and the CURRENT
    swap leaves an orphan manifest at round == current; the parent-chain walk
    must skip it — was_compacted()/metrics_history report nothing."""
    from crawler_spark import analytics

    docs_df, robots_df, seeds = small
    wd = str(tmp_path / "crawl")
    run_crawl(
        spark, wd, docs_df, robots_df, seeds,
        CrawlConfig(max_pages=30, max_rounds=2, n_host_buckets=4),
    )
    cat = SnapshotCatalog(wd)
    cur_before = cat._current_name()
    hist_before = cat.metrics_history()
    assert not analytics.was_compacted(wd)
    cat.compact_frontier(spark)
    assert analytics.was_compacted(wd)  # committed normally -> visible
    # simulate the kill: revert CURRENT to the pre-compaction manifest, the
    # compaction manifest file stays behind as an orphan
    with open(cat._current_path() + ".tmp", "w") as f:
        f.write(cur_before)
    os.replace(cat._current_path() + ".tmp", cat._current_path())
    assert cat.metrics_history() == hist_before
    assert not analytics.was_compacted(wd)


def test_rule_order_guard(spark, small, tmp_path):
    """ADVICE r1: a robots table where some host has multiple rules but no
    rule_order column must be rejected loudly, not silently mis-sorted."""
    docs_df, _, seeds = small
    bad_robots = spark.createDataFrame(
        [
            ("host0.test", "*", "/private/open", True, None),
            ("host0.test", "*", "/private", False, None),
        ],
        "host string, user_agent string, path_prefix string, allow boolean, crawl_delay double",
    )
    with pytest.raises(ValueError, match="rule_order"):
        run_crawl(
            spark, str(tmp_path / "bad"), docs_df, bad_robots, seeds,
            CrawlConfig(max_pages=10, max_rounds=1, n_host_buckets=4),
        )
    # rejected before init_state: nothing was committed
    assert SnapshotCatalog(str(tmp_path / "bad")).current_manifest() is None
    # single rule per host without rule_order stays fine (unambiguous)
    ok_robots = spark.createDataFrame(
        [("host0.test", "*", "/private", False, None)],
        "host string, user_agent string, path_prefix string, allow boolean, crawl_delay double",
    )
    summary = run_crawl(
        spark, str(tmp_path / "ok"), docs_df, ok_robots, seeds,
        CrawlConfig(max_pages=10, max_rounds=1, n_host_buckets=4),
    )
    assert summary["scheduled_total"] > 0


def test_all_scripts_parse():
    # scripts/ are entry points no test imports; a syntax error there ships
    # silently (the r3 url_template_stats guard used a walrus in a
    # comprehension iterable — SyntaxError — and every CLI command died at
    # import until round 4 caught it). Parse them all.
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    scripts = sorted((root / "scripts").glob("*.py")) + [root / "bench.py"]
    assert scripts
    for path in scripts:
        ast.parse(path.read_text(), filename=str(path))


def test_bench_queries_note_never_points_at_none():
    # a failed queries_full.json write leaves full_path None; the compact
    # line must then not name a file ("... and in None")
    import bench

    assert bench.queries_note(7, None) == "top-5 slowest of 7; full map on the line above"
    assert bench.queries_note(7, "/x/q.json").endswith(" and in /x/q.json")
    assert "skipped" in bench.queries_note(0, None)


def test_bench_times_registry_minus_untimed():
    """bench.py's timed list is derived from the registry: every opt-out
    names a registry entry, and everything else is timed."""
    import bench
    from crawler_spark.queries import REGISTRY

    assert bench.UNTIMED <= set(REGISTRY), bench.UNTIMED - set(REGISTRY)
    assert bench.timed_queries(REGISTRY) == [n for n in REGISTRY if n not in bench.UNTIMED]
