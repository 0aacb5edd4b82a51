"""Tests for sitemap parsing (S4), metadata extraction (T4), and the
Structured Streaming surface (hourly rollup + streaming URL dedup)."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from crawler_spark.functions.text import metadata_map
from crawler_spark.sources.sitemap import extract_locs, sitemap_frontier_rows
from crawler_spark.streaming.rollup import hourly_rollup, streaming_url_dedup

SF_DIR = "/root/testdata/sf0.001"


# -- S4: sitemap --------------------------------------------------------------

SITEMAP_XML = """<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url><loc>http://host0.test/</loc><lastmod>2024-01-01</lastmod></url>
  <url><loc>  http://host0.test/page1  </loc></url>
  <url><loc><![CDATA[http://host0.test/page2?a=1&amp;b=2]]></loc></url>
</urlset>"""


def test_sitemap_loc_extraction(spark):
    df = spark.createDataFrame([(SITEMAP_XML,)], ["xml"])
    locs = df.select(extract_locs(F.col("xml")).alias("locs")).collect()[0]["locs"]
    assert locs == [
        "http://host0.test/",
        "http://host0.test/page1",
        "http://host0.test/page2?a=1&amp;b=2",
    ]


def test_sitemap_frontier_rows_cap_and_constants(spark):
    many = "".join(f"<url><loc>http://h.test/p{i}</loc></url>" for i in range(30))
    df = spark.createDataFrame([(f"<urlset>{many}</urlset>",)], ["xml"])
    rows = sitemap_frontier_rows(df, max_urls=10).collect()
    assert len(rows) == 10  # max_urls cap (robots.py:363)
    assert all(r["priority"] == 3 and r["depth"] == 1 for r in rows)  # engine.py:678-679
    assert [r["sitemap_pos"] for r in rows] == list(range(10))


def test_sitemap_priority_depth_overrides(spark):
    """ADVICE r2: cfg.sitemap_priority/sitemap_depth are live knobs — an
    override reaches the emitted frontier rows (and the simulator twin reads
    the same SimConfig fields)."""
    from oracle.simulator import SimConfig

    df = spark.createDataFrame(
        [("<urlset><url><loc>http://h.test/p0</loc></url></urlset>",)], ["xml"]
    )
    rows = sitemap_frontier_rows(df, priority=7, depth=2).collect()
    assert rows[0]["priority"] == 7 and rows[0]["depth"] == 2
    sim = SimConfig(sitemap_priority=7, sitemap_depth=2)
    assert sim.sitemap_priority == 7 and sim.sitemap_depth == 2


# -- T4: metadata -------------------------------------------------------------

def test_metadata_map_merges_meta_spans(spark):
    spans = [
        ("meta", '{"og:site_name": "a", "title": "first"}', "", 0),
        ("text", "body", "", 1),
        ("meta", '{"title": "second"}', "", 2),
        ("meta", "not json at all", "", 3),  # malformed -> ignored
    ]
    df = spark.createDataFrame(
        [("d1", spans)],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    m = df.select(metadata_map(F.col("spans")).alias("m")).collect()[0]["m"]
    assert m["og:site_name"] == "a"
    assert m["title"] == "second"  # later meta span wins, like dict.update


def test_metadata_map_empty_when_no_meta(spark):
    df = spark.createDataFrame(
        [("d1", [("text", "x", "", 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    assert df.select(metadata_map(F.col("spans")).alias("m")).collect()[0]["m"] == {}


# -- Streaming ----------------------------------------------------------------

def _run_stream_to_memory(spark, df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append" if "dedup" in name else "complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_hourly_rollup_stream_matches_batch(spark, tmp_path):
    src_dir = tmp_path / "events_stream"
    src_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src_dir / "part-0.parquet")
    src_dir = str(src_dir)
    batch = spark.read.parquet(f"{SF_DIR}/events.parquet")
    stream = spark.readStream.schema(batch.schema).parquet(src_dir)

    got = _run_stream_to_memory(spark, hourly_rollup(stream), "rollup_sink")
    expected = (
        batch.groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).cast("long").alias("hour_epoch"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(14,6)")).cast("double").alias("sum_value"),
        )
    )
    g = {tuple(r) for r in got.collect()}
    e = {tuple(r) for r in expected.collect()}
    assert g == e and len(g) > 0


def test_session_rollup_stream_matches_batch_sessionize(spark, tmp_path):
    """Native session_window (streaming, merge on diff <= gap) must produce
    exactly the batch lag-window sessionize's sessions on the full events
    table — n_events, start and end epoch seconds per (user, session)."""
    from crawler_spark.operators.events import sessionize
    from crawler_spark.streaming.rollup import session_rollup

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src_dir = tmp_path / "events_sessions"
    src_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src_dir / "part-0.parquet")
    batch = spark.read.parquet(f"{SF_DIR}/events.parquet")
    stream = spark.readStream.schema(batch.schema).parquet(str(src_dir))

    got = _run_stream_to_memory(spark, session_rollup(stream, 1800), "sessions_sink")
    g = {
        (r["user_id"], r["n_events"], r["start_s"], r["end_s"])
        for r in got.collect()
    }
    e = {
        (r["user_id"], r["n_events"], r["start_s"], r["end_s"])
        for r in sessionize(batch, gap_sec=1800).collect()
    }
    assert g == e and len(g) > 100


def test_streaming_url_dedup_first_occurrence(spark, tmp_path):
    import pandas as pd

    src_dir = str(tmp_path / "urls_stream")
    rows = pd.DataFrame(
        {
            "canonical": ["http://a.test/", "http://b.test/", "http://a.test/", "http://c.test/"],
            "discovered_ts": pd.to_datetime(
                ["2024-01-01 00:00:00", "2024-01-01 00:00:01", "2024-01-01 00:10:00", "2024-01-01 00:20:00"]
            ),
        }
    )
    spark.createDataFrame(rows).coalesce(1).write.parquet(src_dir)
    stream = spark.readStream.schema("canonical string, discovered_ts timestamp").parquet(src_dir)
    got = _run_stream_to_memory(spark, streaming_url_dedup(stream), "dedup_sink")
    assert sorted(r["canonical"] for r in got.collect()) == [
        "http://a.test/",
        "http://b.test/",
        "http://c.test/",
    ]


# -- Spark-native corpus generator -------------------------------------------

def test_corpus_spark_shape_and_determinism(spark):
    from crawler_spark.sources.corpus import DOC_SCHEMA
    from crawler_spark.sources.corpus_spark import corpus_df, seed_urls

    df = corpus_df(spark, hosts=4, pages_per_host=5, links_per_page=3)
    # same names/types as the fixture schema (nullability flags differ for
    # expression-derived columns; the engine is indifferent)
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        (f.name, f.dataType.simpleString()) for f in DOC_SCHEMA.fields
    ]
    assert df.count() == 20
    a = sorted(map(str, df.collect()))
    b = sorted(map(str, corpus_df(spark, hosts=4, pages_per_host=5, links_per_page=3).collect()))
    assert a == b  # expression-generated: bit-identical across invocations
    row = df.where("doc_id = 'http://host0.test/'").collect()[0]
    kinds = [s["kind"] for s in row["spans"]]
    assert kinds[:2] == ["title", "nav"] and "link" in kinds and "media" in kinds
    assert seed_urls(4, every=2) == [
        {"url": "http://host0.test/", "priority": 10, "depth": 0},
        {"url": "http://host2.test/", "priority": 10, "depth": 0},
    ]


def test_politeness_gate_stateful_stream(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): per-host fetch
    slots spaced >= crawl_delay, with last-fetch state carried across
    micro-batches. Output must equal the pure-Python twin of the slotting
    rule; file-2 events arrive in a later batch and must still respect the
    state left by file 1."""
    import pandas as pd

    from crawler_spark.streaming.rollup import politeness_gate

    delay = 2.0
    base = pd.Timestamp("2026-01-01 00:00:00")

    def ev(host, url, sec):
        return (host, url, (base + pd.Timedelta(seconds=sec)).to_pydatetime())

    # file 1: minute 0; file 2: minute 2 — later in event time, so any
    # batch split yields the same virtual-time schedule
    file1 = [
        ev("a.test", "http://a.test/1", 0.0),
        ev("a.test", "http://a.test/2", 0.5),   # burst: must be pushed to +2s
        ev("a.test", "http://a.test/3", 0.6),
        ev("b.test", "http://b.test/1", 0.0),
    ]
    file2 = [
        ev("a.test", "http://a.test/4", 120.0),  # idle gap: scheduled at arrival
        ev("b.test", "http://b.test/2", 120.0),
        ev("b.test", "http://b.test/3", 120.1),  # pushed to 122.0
    ]
    src = str(tmp_path / "src")
    schema = "host string, canonical string, event_ts timestamp"
    spark.createDataFrame(file1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(file2, schema).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out_dir, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    q = (
        politeness_gate(stream, default_delay=delay)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["canonical"]: r["fetch_ts"]
        for r in spark.read.parquet(out_dir).collect()
    }

    # pure-Python twin of the slotting rule over the globally sorted stream
    expected, last = {}, {}
    for host, url, ts in sorted(file1 + file2, key=lambda e: (e[2], e[1])):
        t = ts.timestamp()
        eff = t if host not in last else max(t, last[host] + delay)
        expected[url] = eff
        last[host] = eff
    assert got == expected
    # burst spacing explicit: a.test rows 1-3 at 0, 2, 4 seconds
    t0 = base.timestamp()
    assert got["http://a.test/1"] == t0
    assert got["http://a.test/2"] == t0 + 2.0
    assert got["http://a.test/3"] == t0 + 4.0
    assert got["http://b.test/3"] == t0 + 122.0


def test_discover_sitemaps_probe_order_and_dedup(spark, tmp_path):
    """S3: robots-declared sitemaps probe before the 5 common paths, in seed
    order; URLs absent from the docs table are 'HEAD 404' and skipped; a
    sitemap reachable from two seeds is discovered once (first wins). The
    discovered docs drive a crawl identically to passing them directly."""
    from crawler_spark.config import CrawlConfig
    from crawler_spark.plans.engine import read_crawl_order, run_crawl
    from crawler_spark.sources.corpus import gen_corpus, to_documents_df, to_robots_df
    from crawler_spark.sources.sitemap import discover_sitemaps
    from oracle.simulator import CrawlSimulator, SimConfig

    xml_a = "<urlset><url><loc>http://host0.test/page3</loc></url></urlset>"
    xml_b = "<urlset><url><loc>http://host1.test/page4</loc></url></urlset>"
    xml_c = "<urlset><url><loc>http://host2.test/page5</loc></url></urlset>"
    docs_table = spark.createDataFrame(
        [
            ("http://host0.test/sitemap_index.xml", xml_a),   # common path #2
            ("http://host1.test/sitemap.xml", xml_b),         # common path #1
            ("http://host0.test/from-robots.xml", xml_c),     # robots-declared
        ],
        "sitemap_url string, xml string",
    )
    seeds = [
        {"url": "http://host0.test/", "priority": 10, "depth": 0},
        {"url": "http://host1.test/", "priority": 10, "depth": 0},
        {"url": "http://www.host0.test:80/", "priority": 10, "depth": 0},  # no 2nd hit
    ]
    robots_txt = {"host0.test": "User-agent: *\nSitemap: http://host0.test/from-robots.xml\n"}
    got = discover_sitemaps(
        spark, seeds, docs_table, robots_txt_by_host=robots_txt
    ).orderBy("sitemap_ord").collect()
    assert [r["xml"] for r in got] == [xml_c, xml_a, xml_b]  # robots first, then paths
    assert len(got) == 3  # www-seed probes resolve nothing new

    # discovered docs drive the crawl exactly like directly-passed sitemaps
    documents, cseeds, robots = gen_corpus(hosts=3, pages_per_host=8, seed=21)
    cfg = dict(max_depth=2, max_pages=60, default_delay=1.0, horizon=30.0, max_rounds=6)
    oracle = CrawlSimulator(
        documents, cseeds, robots, SimConfig(**cfg), sitemaps=[xml_c, xml_a, xml_b]
    ).run()
    wd = str(tmp_path / "crawl")
    run_crawl(
        spark, wd, to_documents_df(spark, documents), to_robots_df(spark, robots),
        cseeds, CrawlConfig(**cfg),
        sitemaps_df=discover_sitemaps(spark, seeds, docs_table, robots_txt_by_host=robots_txt),
    )
    assert read_crawl_order(spark, wd) == oracle.crawl_order


def test_sitemapindex_yields_no_page_urls(spark):
    """Reference parity: parse_sitemap walks .//url/loc (robots.py:388-404),
    so a <sitemapindex> file — whose <loc> entries sit under <sitemap> —
    contributes zero page URLs; and a loc-less <url> block must not capture
    the following block's loc."""
    from crawler_spark.sources.sitemap import extract_locs

    idx = (
        '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        "<sitemap><loc>http://h.test/sitemap1.xml</loc></sitemap>"
        "<sitemap><loc>http://h.test/sitemap2.xml</loc></sitemap>"
        "</sitemapindex>"
    )
    mixed = (
        "<urlset><url><lastmod>2024-01-01</lastmod></url>"
        "<url><loc>http://h.test/p1</loc></url></urlset>"
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(idx,), (mixed,)], ["xml"])
    got = df.select(F.col("xml"), extract_locs(F.col("xml")).alias("locs")).collect()
    by_xml = {r.xml[:12]: r.locs for r in got}
    assert by_xml["<sitemapinde"] == []
    assert by_xml["<urlset><url"] == ["http://h.test/p1"]

    from oracle.simulator import _RE_LOC

    assert _RE_LOC.findall(idx) == []
    assert _RE_LOC.findall(mixed) == ["http://h.test/p1"]


def test_hll_stream_registers_match_batch(spark, tmp_path):
    """Streaming HLL register state == batch registers over the same rows
    (the sketch is a pure monotone aggregate, so complete-mode streaming
    must converge to the identical 64-row state)."""
    from crawler_spark.functions import text as X
    from crawler_spark.operators.sketches import hll_registers
    from crawler_spark.streaming.rollup import hll_stream_registers

    src_dir = tmp_path / "docs_hll"
    src_dir.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", src_dir / "part-0.parquet")
    batch = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    words = lambda df: df.select(F.explode(X.tokens(F.col("text"))).alias("word"))  # noqa: E731

    stream = spark.readStream.schema(batch.schema).parquet(str(src_dir))
    got = _run_stream_to_memory(spark, hll_stream_registers(words(stream), "word"), "hll_sink")
    expected = hll_registers(words(batch), "word")
    g = sorted(map(tuple, got.collect()))
    e = sorted(map(tuple, expected.collect()))
    assert g == e and len(g) > 0


def test_cms_stream_counters_match_batch(spark, tmp_path):
    """Streaming CMS counter state == batch counters over the same rows
    (pure additive aggregate: complete-mode streaming must converge to
    the identical depth x width state)."""
    from crawler_spark.functions import text as X
    from crawler_spark.operators.sketches import cms_build
    from crawler_spark.streaming.rollup import cms_stream_counters

    src_dir = tmp_path / "docs_cms"
    src_dir.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", src_dir / "part-0.parquet")
    batch = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    words = lambda df: df.select(F.explode(X.tokens(F.col("text"))).alias("word"))  # noqa: E731

    stream = spark.readStream.schema(batch.schema).parquet(str(src_dir))
    got = _run_stream_to_memory(spark, cms_stream_counters(words(stream), "word"), "cms_sink")
    expected = cms_build(words(batch), "word")
    g = sorted(map(tuple, got.collect()))
    e = sorted(map(tuple, expected.collect()))
    assert g == e and len(g) > 0
