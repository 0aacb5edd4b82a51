"""Crawl-catalog analytics (A3-A11) + media sink over a real mini-crawl."""

from __future__ import annotations

import pytest

from crawler_spark import analytics
from crawler_spark.config import CrawlConfig
from crawler_spark.plans.engine import run_crawl
from crawler_spark.sources.corpus import gen_corpus, to_documents_df, to_robots_df
from crawler_spark.tables import SnapshotCatalog

pytestmark = pytest.mark.catalog  # split: see pytest.ini


@pytest.fixture(scope="module")
def crawl(spark, tmp_path_factory):
    documents, seeds, robots = gen_corpus(hosts=3, pages_per_host=10, seed=42)
    workdir = str(tmp_path_factory.mktemp("analytics-crawl"))
    cfg = CrawlConfig(max_pages=60, max_rounds=5, n_host_buckets=4)
    run_crawl(
        spark, workdir, to_documents_df(spark, documents), to_robots_df(spark, robots), seeds, cfg
    )
    return workdir, documents


def test_frontier_distributions(spark, crawl):
    workdir, _ = crawl
    dists = analytics.frontier_distributions(spark, workdir)
    statuses = {r["status"]: r["n"] for r in dists["status"].collect()}
    assert statuses.get("completed", 0) > 0
    assert set(statuses) <= {"pending", "completed", "failed", "skipped"}
    hosts = [r["host"] for r in dists["host"].collect()]
    assert any(h.startswith("host") for h in hosts)


def test_queue_health(spark, crawl):
    workdir, _ = crawl
    h = analytics.queue_health(spark, workdir)
    assert h["total_urls"] == h["pending"] + h["completed"] + h["failed"] + h["skipped"]
    assert h["completed"] > 0 and h["n_hosts"] >= 3


def test_top_words_and_session_summary(spark, crawl):
    workdir, _ = crawl
    top = analytics.top_words(spark, workdir, limit=5).collect()
    assert len(top) == 5
    assert top[0]["total_freq"] >= top[-1]["total_freq"]
    s = analytics.session_summary(spark, workdir)
    assert s["pages_crawled"] > 0
    assert s["total_words"] > 0 and s["unique_words"] > 0
    assert s["fetch_attempts"] == s["pages_crawled"] + s["fetch_failures"]
    # T10 (engine.py:221): md5 session id minted once at catalog init
    assert len(s["session_id"]) == 32


def test_per_round_metrics_match_manifests(spark, crawl):
    workdir, _ = crawl
    df = analytics.per_round_metrics(spark, workdir)
    rows = {r["round"]: r for r in df.collect()}
    total_sched = sum(r["scheduled"] for r in rows.values())
    s = analytics.session_summary(spark, workdir)
    assert total_sched == s["fetch_attempts"]


def test_media_sink_matches_corpus(spark, crawl):
    """Every crawled page's media refs equal its corpus media spans, in order."""
    workdir, documents = crawl
    media = SnapshotCatalog(workdir).read(spark, "media")
    got: dict[str, list[str]] = {}
    for r in media.orderBy("canonical", "media_pos").collect():
        got.setdefault(r["canonical"], []).append(r["media_ref"])
    corpus_media = {
        d["doc_id"]: [s["media_ref"] for s in d["spans"] if s["kind"] == "media"]
        for d in documents
    }
    assert len(got) > 0
    for url, refs in got.items():
        assert refs == corpus_media[url], url
    inv = analytics.media_inventory(spark, workdir).collect()
    assert sum(r["n_refs"] for r in inv) == sum(len(v) for v in got.values())


def test_report_generation(spark, crawl, tmp_path):
    import json

    from crawler_spark import reporting

    workdir, _ = crawl
    jpath = reporting.generate_session_report(spark, workdir, str(tmp_path / "r.json"), "json")
    report = json.loads(open(jpath).read())
    assert report["session"]["pages_crawled"] > 0
    assert len(report["top_words"]) > 0
    assert sum(report["status_distribution"].values()) == report["queue_health"]["total_urls"]
    mpath = reporting.generate_session_report(spark, workdir, str(tmp_path / "r.md"), "md")
    md = open(mpath).read()
    assert md.startswith("# Crawl session report")
    assert "## Top words" in md and "## Rounds" in md


def test_html_and_csv_reports(spark, crawl, tmp_path):
    """S13: the HTML render is a well-formed, self-contained page carrying
    the same sections; CSV is parseable and covers the scalar sections."""
    import csv
    from xml.etree import ElementTree

    from crawler_spark import reporting

    workdir, _ = crawl
    hpath = reporting.generate_session_report(spark, workdir, str(tmp_path / "r.html"), "html")
    html = open(hpath).read()
    assert html.startswith("<!DOCTYPE html>")
    for section in ("Session", "Status distribution", "Top words", "Rounds", "Top hosts"):
        assert f"<h2>{section}</h2>" in html
    # well-formedness: the page (minus doctype) parses as XML — no JS,
    # every tag closed, including the inline-SVG chart nodes
    root = ElementTree.fromstring(html.split("\n", 1)[1])
    assert "<script" not in html
    svgs = root.findall(".//{http://www.w3.org/2000/svg}svg")
    assert len(svgs) == 2  # per-round metrics + top words (S13 charts)
    for svg in svgs:
        assert svg.findall(".//{http://www.w3.org/2000/svg}rect")  # bars drawn
        assert svg.find("{http://www.w3.org/2000/svg}title") is not None

    cpath = reporting.generate_session_report(spark, workdir, str(tmp_path / "r.csv"), "csv")
    rows = list(csv.reader(open(cpath)))
    assert rows[0] == ["section", "key", "value"]
    sections = {r[0] for r in rows[1:]}
    assert {"session", "status", "top_word", "round"} <= sections


def test_stage_timing_summary(spark, crawl):
    """A6: per-stage round timings recorded in every round manifest and
    averaged; stages sum to (approximately) the round wall time."""
    workdir, _ = crawl
    t = analytics.stage_timing_summary(workdir)
    assert t["rounds"] > 0
    for k in ("avg_wall_sec", "avg_sched_sec", "avg_extract_sec",
              "avg_links_sec", "avg_commit_sec"):
        assert t[k] >= 0.0, k
    stage_sum = (
        t["total_sched_sec"] + t["total_extract_sec"]
        + t["total_links_sec"] + t["total_commit_sec"]
    )
    assert abs(stage_sum - t["total_wall_sec"]) <= 0.05 * t["rounds"] + 0.2


def test_report_on_empty_catalog(spark, tmp_path):
    """A catalog with no committed rounds yields an empty report, not a crash."""
    from crawler_spark import reporting
    from crawler_spark.tables import SnapshotCatalog

    wd = str(tmp_path / "empty")
    SnapshotCatalog(wd)  # directory exists, nothing committed
    report = reporting.build_report(spark, wd)
    assert report["queue_health"]["total_urls"] == 0
    assert report["top_words"] == [] and report["status_distribution"] == {}
    path = reporting.generate_session_report(spark, wd, str(tmp_path / "r.md"), "md")
    assert open(path).read().startswith("# Crawl session report")


def test_queue_health_flags_compaction(spark, crawl):
    workdir, _ = crawl
    import shutil
    import tempfile

    wd2 = tempfile.mkdtemp(prefix="compact-health-")
    shutil.copytree(workdir, wd2, dirs_exist_ok=True)
    from crawler_spark.tables import SnapshotCatalog

    cat = SnapshotCatalog(wd2)
    assert not analytics.queue_health(spark, wd2)["compacted"]
    cat.compact_frontier(spark)
    h = analytics.queue_health(spark, wd2)
    assert h["compacted"] and h["completed"] == 0
    shutil.rmtree(wd2, ignore_errors=True)


def test_structure_counts_match_corpus(spark, crawl):
    """T6: per-page span-kind counts in the pages sink equal the corpus's
    actual span histogram; the rollup averages reconcile."""
    from collections import Counter

    from crawler_spark.operators.textstats import SPAN_KINDS

    workdir, documents = crawl
    pages = SnapshotCatalog(workdir).read(spark, "pages").where("success")
    got = {
        r["canonical"]: r["structure"].asDict()
        for r in pages.select("canonical", "structure").collect()
    }
    corpus = {d["doc_id"]: Counter(s["kind"] for s in d["spans"]) for d in documents}
    assert len(got) > 0
    for url, s in got.items():
        expect = corpus[url]
        assert s["n_spans"] == sum(expect.values()), url
        for k in SPAN_KINDS:
            assert s[f"n_{k}"] == expect.get(k, 0), (url, k)
    summary = analytics.structure_summary(spark, workdir)
    assert summary["pages"] == len(got)
    assert summary["avg_text"] > 0 and summary["avg_link"] > 0


@pytest.fixture(scope="module")
def second_crawl(spark, tmp_path_factory):
    """A second, smaller session over a different corpus seed."""
    documents, seeds, robots = gen_corpus(hosts=2, pages_per_host=8, seed=9)
    workdir = str(tmp_path_factory.mktemp("analytics-crawl2"))
    cfg = CrawlConfig(max_pages=30, max_rounds=3, n_host_buckets=4)
    run_crawl(
        spark, workdir, to_documents_df(spark, documents), to_robots_df(spark, robots), seeds, cfg
    )
    return workdir


def test_cross_session_analytics(spark, crawl, second_crawl):
    """A11 cross-session merge (reporting/analytics.py:595-618): word totals
    over two catalogs equal Counter addition of the per-session totals, and
    the combined summary sums the per-session counters."""
    wd1, _ = crawl
    wd2 = second_crawl

    def totals(wd):
        return {
            r["word"]: r["total_freq"]
            for r in analytics.top_words(spark, wd, limit=10_000).collect()
        }

    t1, t2 = totals(wd1), totals(wd2)
    merged = {
        r["word"]: (r["total_freq"], r["n_sessions"])
        for r in analytics.cross_session_top_words(spark, [wd1, wd2], limit=10_000).collect()
    }
    for w, (freq, nsess) in merged.items():
        assert freq == t1.get(w, 0) + t2.get(w, 0), w
        assert nsess == (w in t1) + (w in t2), w
    assert any(n == 2 for _, n in merged.values())  # corpora share some words

    cs = analytics.cross_session_summary(spark, [wd1, wd2])
    s1 = analytics.session_summary(spark, wd1)
    s2 = analytics.session_summary(spark, wd2)
    assert cs["combined"]["pages_crawled"] == s1["pages_crawled"] + s2["pages_crawled"]
    assert cs["combined"]["total_words"] == s1["total_words"] + s2["total_words"]
    # exact distinct across the union, not a sum
    assert cs["combined"]["unique_words"] <= s1["unique_words"] + s2["unique_words"]
    assert cs["combined"]["unique_words"] >= max(s1["unique_words"], s2["unique_words"])
    assert cs["combined"]["sessions"] == 2


def test_crawl_media_features_values(spark):
    """The crawl->media->decode leg (crawl_media_features): every feature row
    must match the synth contract — width/height are the first two md5 bytes
    of the media_ref, and every committed media row gets exactly one feature
    row."""
    import hashlib

    from crawler_spark.queries import REGISTRY, _mini_crawl_workdir

    rows = REGISTRY["crawl_media_features"].fn(spark, "unused").collect()
    assert rows, "mini-crawl produced no media spans"
    for r in rows[:50]:
        digest = hashlib.md5(r["media_ref"].encode()).digest()
        assert r["width"] == digest[0] and r["height"] == digest[1], r
    wd = _mini_crawl_workdir(spark)
    n_media = SnapshotCatalog(wd).read(spark, "media").count()
    assert len(rows) == n_media


def test_page_timing_attribution(spark, crawl):
    """Per-page timing struct: shares attribute each round's stage seconds
    over its scheduled pages, so per-round sums reconcile with the manifest
    stage totals."""
    workdir, _ = crawl
    df = analytics.page_timing(spark, workdir)
    assert "timing" in df.columns
    from pyspark.sql import functions as F

    per_round = {
        r["round"]: r
        for r in df.groupBy("round").agg(
            F.count("*").alias("n"),
            F.round(F.sum("timing.sched_share_sec"), 2).alias("sched_sum"),
            F.min("timing.round_wall_sec").alias("wall"),
        ).collect()
    }
    hist = {
        h["round"]: h
        for h in SnapshotCatalog(workdir).metrics_history()
        if "wall_sec" in h
    }
    assert set(per_round) == set(hist)
    for rnd, r in per_round.items():
        assert r["n"] == hist[rnd]["scheduled"]
        assert abs(r["sched_sum"] - hist[rnd]["sched_sec"]) < 0.02
        assert abs(r["wall"] - hist[rnd]["wall_sec"]) < 1e-9


def test_url_template_stats(spark, crawl):
    workdir, _ = crawl
    df = analytics.url_template_stats(spark, workdir)
    rows = df.collect()
    assert len(rows) > 0
    # every crawled URL is accounted for exactly once
    total = sum(r.n_urls for r in rows)
    frontier_n = analytics.queue_health(spark, workdir)["total_urls"]
    assert total == frontier_n
    # corpus pages are /pageN -> one {n} template dominates per host
    assert any(r.template == "/page{n}" for r in rows)
    for r in rows:
        assert 0 < r.distinct_bp <= 10000


def test_crawl_overlap_and_hot_hosts(spark, crawl, second_crawl):
    """crawl_overlap: exact union/intersection over two sessions' seen sets
    match set algebra on the raw tables; KMV estimates carry the documented
    small-set caveat, so only their presence/type is asserted at this size.
    hot_hosts: the CMS-pruned exact heavy hitters equal a naive groupBy."""
    from crawler_spark.tables import SnapshotCatalog

    wd1, _ = crawl
    wd2 = second_crawl
    ov = analytics.crawl_overlap(spark, wd1, wd2, k=16)
    a = {r.canonical for r in SnapshotCatalog(wd1).read_seen(spark).collect()}
    b = {r.canonical for r in SnapshotCatalog(wd2).read_seen(spark).collect()}
    assert ov["exact_union"] == len(a | b)
    assert ov["exact_intersection"] == len(a & b)
    assert ov["k"] == 16 and ov["est_union"] > 0

    from pyspark.sql import functions as F

    hh = {(r.host, r.freq) for r in analytics.hot_hosts(spark, wd1, phi_denom=4).collect()}
    fr = analytics._read(spark, wd1, "frontier")
    n = fr.count()
    naive = {
        (r.host, r.freq)
        for r in fr.groupBy("host").agg(F.count("*").alias("freq")).collect()
        if r.freq * 4 > n
    }
    assert hh == naive


def test_curate_crawl_end_to_end(spark, crawl, tmp_path):
    """crawl catalog -> keepset -> size-balanced shards on disk: every
    kept doc lands in exactly one shard, statuses account for every
    distinct successful page, and shard char totals balance within one
    max-document."""
    from crawler_spark.operators.pipeline import curate_crawl
    from pyspark.sql import functions as F

    wd, _ = crawl
    card = curate_crawl(spark, wd, str(tmp_path / "curated"), n_shards=4)
    pages = SnapshotCatalog(wd).read(spark, "pages")
    n_success = (
        pages.where(F.col("success") & F.col("text").isNotNull())
        .select("canonical").distinct().count()
    )
    assert card["kept"] + sum(card["dropped"].values()) == n_success
    assert card["kept"] > 0
    sharded = spark.read.parquet(card["out"])
    assert sharded.count() == card["kept"]
    assert sharded.select("doc_id").distinct().count() == card["kept"]
    totals = [s["total_chars"] for s in card["shards"]]
    max_doc = sharded.agg(F.max("n_chars")).collect()[0][0]
    assert max(totals) - min(totals) <= max_doc


def test_comparison_dashboard(spark, crawl, second_crawl, tmp_path):
    """VERDICT r3 #6 (reference visualizer.py:296-405): the two-catalog
    comparison dashboard renders a well-formed page whose tables/charts agree
    with the per-session summaries."""
    from xml.etree import ElementTree

    from crawler_spark import reporting

    wd1, _ = crawl
    wd2 = second_crawl
    report = reporting.build_comparison_report(spark, [wd1, wd2])
    assert report["session_info"]["session_count"] == 2
    assert len(report["comparison_table"]) == 2
    # chart series mirror the per-session summaries exactly
    per = {r["session"]: r for r in report["comparison_table"]}
    for lbl, pages in zip(
        report["charts"]["pages_comparison"]["labels"],
        report["charts"]["pages_comparison"]["series"]["pages"],
    ):
        assert pages == per[lbl]["pages_crawled"]
    assert set(report["best_performers"]) == {
        "most_pages", "most_words", "highest_success_rate",
    }
    assert {r["session"] for r in report["comparison_table"]} >= set(
        report["best_performers"].values()
    )
    assert report["combined"]["sessions"] == 2
    assert report["top_words"], "cross-session word merge must be non-empty"

    path = reporting.generate_comparison_report(
        spark, [wd1, wd2], str(tmp_path / "cmp.html")
    )
    html = open(path).read()
    assert html.startswith("<!DOCTYPE html>")
    root = ElementTree.fromstring(html.split("\n", 1)[1])
    assert "<script" not in html
    svgs = root.findall(".//{http://www.w3.org/2000/svg}svg")
    assert len(svgs) == 3  # pages/failures, words, trending words
    for svg in svgs:
        assert svg.findall(".//{http://www.w3.org/2000/svg}rect")


def test_word_cloud_and_chart_export(spark, crawl):
    """Word-cloud scaling data (visualizer.py:25-62: size 10-110) and the
    json/csv chart-data exports (visualizer.py:406-459)."""
    import csv as _csv
    import io as _io
    import json as _json

    from crawler_spark import reporting

    workdir, _ = crawl
    report = reporting.build_report(spark, workdir)
    wc = reporting.word_cloud_data(report, max_words=10)
    assert 0 < len(wc["words"]) <= 10
    assert wc["max_frequency"] == max(w["frequency"] for w in wc["words"])
    for w in wc["words"]:
        assert 10 <= w["size"] <= 110
    assert any(w["size"] == 110 for w in wc["words"])  # the max-freq word

    as_json = reporting.export_chart_data(wc, "json")
    assert _json.loads(as_json)["total_words"] == len(wc["words"])
    rows = list(_csv.reader(_io.StringIO(reporting.export_chart_data(wc, "csv"))))
    assert rows[0] == ["word", "frequency", "size"]
    assert len(rows) == len(wc["words"]) + 1

    chart = {
        "labels": ["a", "b"],
        "series": {"pages": [1, 2], "failures": [0, 1]},
    }
    rows = list(_csv.reader(_io.StringIO(reporting.export_chart_data(chart, "csv"))))
    assert rows[0] == ["series", "a", "b"]
    assert ["pages", "1", "2"] in rows and ["failures", "0", "1"] in rows


def test_dust_rule_summary_over_crawl(spark, crawl):
    """dust_rule_summary mines rewrite-rule support from the session's own
    links table; the corpus link generator plants every variant class
    (www./:80/utm-params/fragments/trailing slashes), so each structural
    rule must be observed, and relative never fires post-resolution."""
    workdir, _ = crawl
    out = {r["rule"]: r for r in analytics.dust_rule_summary(spark, workdir).collect()}
    for rule in ("www", "port80", "fragment", "trailing_slash",
                 "param:utm_source", "param:gclid"):
        assert out[rule]["support"] > 0, rule
        assert out[rule]["n_hosts"] >= 1
    assert "relative" not in out  # urljoin consumed relative hrefs
    # a catalog with no links table reports None, not a crash
    import tempfile
    assert analytics.dust_rule_summary(spark, tempfile.mkdtemp()) is None


def test_template_summary_over_crawl(spark, crawl):
    """template_summary audits residual cross-page chrome per host over the
    session's own pages table. The mini-corpus randomizes page text (and
    kind-labeled nav/script chrome is dropped at extraction), so the audit
    must report every crawled host with sane totals — and whatever it
    flags as template must be backed by >= 2 distinct pages."""
    workdir, _ = crawl
    rows = analytics.template_summary(spark, workdir).collect()
    assert len(rows) >= 2  # every successfully-fetched host reports
    for r in rows:
        assert r["n_docs"] > 0 and r["total_segments"] > 0
        assert 0 <= r["template_share_bp"] <= 10000
        if r["n_template_segments"]:
            assert r["template_occurrences"] >= 2 * 0 + r["n_template_segments"]
    import tempfile
    assert analytics.template_summary(spark, tempfile.mkdtemp()) is None


def test_workdir_status_lists_sessions(spark, crawl, second_crawl, tmp_path):
    """Cross-session `status` (reference cli.py:221-273): catalog discovery
    under a root plus per-workdir session/queue/migration state."""
    import os

    wd1, _ = crawl
    wd2 = second_crawl
    # discovery: a root holding symlink-free copies of real catalogs plus a
    # decoy non-catalog dir finds exactly the catalogs
    root = tmp_path / "crawls"
    os.makedirs(root / "not_a_catalog" / "sub")
    for wd in (wd1, wd2):
        os.symlink(wd, root / os.path.basename(wd))
    found = analytics.find_catalogs(str(root))
    assert len(found) == 2
    assert all(os.path.exists(os.path.join(f, "CURRENT")) for f in found)

    rows = analytics.workdir_status(spark, [wd1, wd2])
    assert [r["workdir"] for r in rows] == [wd1, wd2]
    for r in rows:
        assert r["round"] >= 0
        assert "session_id" in r
        assert r["queue"]["total_urls"] > 0 and "pending" in r["queue"]
        assert "migrations" in r and "error" not in r["migrations"]
    # degenerate workdir: a row with an empty queue, not an exception
    empty = str(tmp_path / "empty-cat")
    rows2 = analytics.workdir_status(spark, [empty])
    assert rows2[0]["round"] == -1
    assert rows2[0]["queue"]["total_urls"] == 0


def test_find_catalogs_depth_from_filesystem_root(monkeypatch):
    """The depth bound counts components below ``root`` even when root is
    '/' (whose abspath keeps its separator): max_depth=1 visits '/' and its
    children, never a grandchild."""
    import os

    visited = []

    def fake_walk(top, followlinks=False):
        # a tree with directories three levels deep that honors pruning
        stack = [top]
        while stack:
            d = stack.pop()
            visited.append(d)
            names = [] if d.count("/") >= 3 else ["a", "b"]
            dirnames = list(names)
            yield d, dirnames, []
            stack.extend(os.path.join(d, n) for n in reversed(dirnames))

    monkeypatch.setattr(os, "walk", fake_walk)
    assert analytics.find_catalogs("/", max_depth=1) == []
    assert sorted(visited) == ["/", "/a", "/b"]
    visited.clear()
    analytics.find_catalogs("/a", max_depth=1)
    assert sorted(visited) == ["/a", "/a/a", "/a/b"]


def test_status_workdirs_dedups_discovered_catalogs(tmp_path):
    """Two symlinks under --root naming one catalog list it once, as the
    first path seen; an explicit --workdir still wins over discovery."""
    import os

    real = tmp_path / "real" / "cat1"
    other = tmp_path / "real" / "cat2"
    for d in (real, other):
        os.makedirs(d)
        (d / "CURRENT").write_text("")
    root = tmp_path / "crawls"
    os.makedirs(root)
    os.symlink(real, root / "a_link")
    os.symlink(real, root / "b_link")
    os.symlink(other, root / "c_link")

    got = analytics.status_workdirs([], str(root))
    assert got == [str(root / "a_link"), str(root / "c_link")]
    got = analytics.status_workdirs([str(real)], str(root))
    assert got == [str(real), str(root / "c_link")]
    assert analytics.status_workdirs([str(real), str(root / "b_link")]) == [str(real)]
