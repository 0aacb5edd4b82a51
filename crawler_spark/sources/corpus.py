"""Deterministic synthetic interleaved-documents corpus (FIXTURES.md §1-3).

Replaces live HTTP fetch (reference core/worker.py:210-295): "fetching" a URL
means joining the scheduled frontier against this table on the canonical URL.

Shape is exactly the BASELINE.json input_hint:

    documents(doc_id string,
              spans array<struct<kind:string, text:string,
                                 media_ref:string, offset:int>>)

Generation rules (FIXTURES.md):
- web graph of H hosts x P pages, doc_id = canonical URL;
- link targets include www./:80/tracking-param/fragment variants that must
  collapse to the same canonical URL (exercises F2/F3);
- hosts 0 and 1 receive ~50x in-links (hot-host skew fixture, SURVEY.md §4);
- text spans exercise every tokenizer/cleaning edge: stopwords, 1-char,
  >50-char tokens, digit-adjacent tokens, embedded URLs and emails, '...'
  and '---' runs, BMP unicode;
- link spans include blocked extensions, mailto:/javascript:, '' and '#frag';
- ~5% of linked URLs have no documents row (fetch-failure path).

Determinism: seed mixed per-document via crc32 (never Python hash(), which is
process-dependent). Text is BMP-only and avoids unicode whitespace so Java
and Python regex engines agree (see functions/text.py module note).
"""

from __future__ import annotations

import random
import zlib

from pyspark.sql import SparkSession
from pyspark.sql import types as T

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("kind", T.StringType(), False),
                        T.StructField("text", T.StringType(), False),
                        T.StructField("media_ref", T.StringType(), False),
                        T.StructField("offset", T.IntegerType(), False),
                    ]
                )
            ),
            False,
        ),
        # F8/F9 fetch-outcome columns (worker.py:235-264): the simulated
        # fetch surfaces deterministic content-type / size responses so the
        # round plan's rejection path is exercised (SURVEY S1)
        T.StructField("content_type", T.StringType(), False),
        T.StructField("size_bytes", T.LongType(), False),
    ]
)

ROBOTS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("user_agent", T.StringType(), False),
        T.StructField("path_prefix", T.StringType(), False),
        T.StructField("allow", T.BooleanType(), False),
        T.StructField("crawl_delay", T.DoubleType(), True),
        T.StructField("rule_order", T.IntegerType(), False),
    ]
)

# word pool: common words + the reference's stopwords + tokenizer edge cases
_POOL = [
    "spark", "crawler", "frontier", "schedule", "queue", "politeness",
    "document", "content", "analysis", "engine", "data", "pipeline",
    "the", "and", "for", "with", "that", "this", "from", "they",  # stopwords
    "x", "q",  # 1-char (dropped: len<2)
    "supercalifragilisticexpialidociousandthensomemorelettersxyz",  # 57 chars (dropped: len>50)
    "abc123", "123abc", "word2vec",  # digit-adjacent (dropped by \b[a-zA-Z]+\b)
    "naïve", "café", "中文",  # BMP unicode (kept by cleaning; regex [a-zA-Z] splits)
    "Mixed", "CASE", "Words",
]

_SENTENCE_ENDS = [".", "!", "?", "...", "....", " ----- ", ""]

_NOISE = [
    " visit http://tracker.example.com/pixel?id=42 now",
    " contact admin@example.com for details",
    " plain tail",
    "",
]


def _rng(seed: int, key: str) -> random.Random:
    return random.Random((seed << 32) ^ zlib.crc32(key.encode("utf-8")))


def _host(h: int) -> str:
    return f"host{h}.test"


def doc_url(h: int, p: int) -> str:
    """Canonical URL of page p on host h (p==0 is the root)."""
    return f"http://{_host(h)}/" if p == 0 else f"http://{_host(h)}/page{p}"


def _sentence(rng: random.Random) -> str:
    n = rng.randint(5, 12)
    words = [rng.choice(_POOL) for _ in range(n)]
    return " ".join(words) + rng.choice(_SENTENCE_ENDS) + rng.choice(_NOISE)


def _link_variants(rng: random.Random, h: int, p: int, hosts: int, pages: int) -> str:
    """An href for page p of host h, in one of several equivalent spellings."""
    host = _host(h)
    path = "/" if p == 0 else f"/page{p}"
    style = rng.randint(0, 6)
    if style == 0:
        return path  # relative
    if style == 1:
        return f"http://www.{host}{path}"  # www. variant
    if style == 2:
        return f"http://{host}:80{path}"  # default-port variant
    if style == 3:
        return f"http://{host}{path}?utm_source=feed&gclid=abc"  # tracking params
    if style == 4:
        return f"http://{host}{path}#section-{rng.randint(1, 5)}"  # fragment
    if style == 5:
        return f"http://{host}{path}/"  # trailing slash
    return f"http://{host}{path}"  # canonical


def gen_corpus(
    hosts: int = 20,
    pages_per_host: int = 50,
    seed: int = 42,
    hot_hosts: int = 2,
    missing_frac: float = 0.05,
):
    """Build (documents, seeds, robots_rules) row lists. Deterministic."""
    documents = []
    for h in range(hosts):
        for p in range(pages_per_host):
            url = doc_url(h, p)
            rng = _rng(seed, f"doc:{url}")
            if rng.random() < missing_frac and p > 0:
                continue  # linked but absent -> fetch-failure path
            spans = []
            off = 0

            def add(kind: str, text: str = "", media_ref: str = ""):
                nonlocal off
                spans.append({"kind": kind, "text": text, "media_ref": media_ref, "offset": off})
                off += 1

            add("title", f"Page {p} of {_host(h)} {rng.choice(_POOL)}")
            add("nav", "home about contact sitemap navigation menu")
            add("script", "var tracking = analytics.init('UA-0000');")
            add("meta", f'{{"og:site_name": "{_host(h)}"}}')
            for _ in range(rng.randint(2, 6)):
                add("text", _sentence(rng))
            if rng.random() < 0.5:
                add("main", _sentence(rng))
            if rng.random() < 0.3:
                add("media", "", f"http://{_host(h)}/img{rng.randint(1, 9)}.png")

            # outlinks
            n_links = rng.randint(3, 10)
            for _ in range(n_links):
                r = rng.random()
                if r < 0.45:  # same-host
                    add("link", _link_variants(rng, h, rng.randint(0, pages_per_host - 1), hosts, pages_per_host))
                elif r < 0.75:  # hot-host skew: most cross-host links hit hosts 0..hot_hosts-1
                    th = rng.randint(0, hot_hosts - 1) if rng.random() < 0.9 else rng.randint(0, hosts - 1)
                    add("link", _link_variants(rng, th, rng.randint(0, pages_per_host - 1), hosts, pages_per_host))
                elif r < 0.80:  # blocked extension
                    add("link", f"/files/report{rng.randint(1, 5)}{rng.choice(['.pdf', '.jpg', '.zip'])}")
                elif r < 0.85:  # skipped schemes / junk hrefs
                    add("link", rng.choice(["mailto:a@b.com", "javascript:void(0)", "", "#top", "tel:+1234"]))
                elif r < 0.90:  # link to a never-generated page (404 analog)
                    add("link", f"http://{_host(rng.randint(0, hosts - 1))}/missing{rng.randint(0, 10**6)}")
                elif r < 0.95:  # disallowed-by-robots path
                    add("link", f"http://{_host(rng.randint(0, hosts - 1))}/private/area{rng.randint(1, 9)}")
                else:  # allow-exception path (robots first-match: allowed)
                    add("link", f"http://{_host(rng.randint(0, hosts - 1))}/private/open/doc{rng.randint(1, 9)}")

            # F8/F9 fetch-outcome attributes, drawn from a SEPARATE rng
            # stream so span/link generation is unchanged: ~4% non-HTML
            # content types (rejected by substring match vs 'text/html'),
            # ~2% oversized bodies; the passing case includes a charset
            # suffix to exercise containment (not equality) semantics
            frng = _rng(seed, f"fetch:{url}")
            if p > 0 and frng.random() < 0.04:
                content_type = frng.choice(
                    ["application/pdf", "image/png", "application/json"]
                )
            else:
                content_type = "text/html; charset=utf-8"
            if p > 0 and frng.random() < 0.02:
                size_bytes = 10_485_760 + frng.randint(1, 1_000_000)
            else:
                size_bytes = frng.randint(500, 50_000)

            documents.append(
                {
                    "doc_id": url,
                    "spans": spans,
                    "content_type": content_type,
                    "size_bytes": size_bytes,
                }
            )

    seeds = []
    seed_hosts = min(hosts, 4)
    for h in range(seed_hosts):
        seeds.append({"url": f"http://www.{_host(h)}:80/", "priority": 10, "depth": 0})

    robots = []
    for h in range(hosts):
        rng = _rng(seed, f"robots:{h}")
        if rng.random() < 0.25:
            continue  # host with no robots.txt -> fail-open allow (robots.py:77-87)
        delay = rng.choice([None, 0.0, 0.5, 2.0])
        if rng.random() < 0.5:
            # Allow exception listed BEFORE the broader Disallow — first
            # match wins (stdlib RobotFileParser order semantics)
            robots.append(
                {
                    "host": _host(h),
                    "user_agent": "*",
                    "path_prefix": "/private/open",
                    "allow": True,
                    "crawl_delay": None,
                    "rule_order": 0,
                }
            )
        robots.append(
            {
                "host": _host(h),
                "user_agent": "*",
                "path_prefix": "/private",
                "allow": False,
                "crawl_delay": delay,
                "rule_order": 1,
            }
        )
    return documents, seeds, robots


def to_documents_df(spark: SparkSession, documents):
    rows = [
        (
            d["doc_id"],
            [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]],
            d.get("content_type", "text/html"),
            d.get("size_bytes", 0),
        )
        for d in documents
    ]
    return spark.createDataFrame(rows, DOC_SCHEMA)


def to_robots_df(spark: SparkSession, robots):
    return spark.createDataFrame(
        [
            (r["host"], r["user_agent"], r["path_prefix"], r["allow"], r["crawl_delay"], r.get("rule_order", 0))
            for r in robots
        ],
        ROBOTS_SCHEMA,
    )
