"""Golden tests for URL semantics (SURVEY.md F1-F5).

Expected values hand-derived from reading the reference
(/root/reference/src/crawler/url_management/validator.py) — NOT generated by
the code under test.
"""

from crawler_spark.functions.urls import (
    canonicalize_url,
    host_of,
    is_valid_url,
    normalize_url,
    resolve_link,
)


class TestIsValidUrl:
    def test_basic(self):
        assert is_valid_url("http://example.com/page")
        assert is_valid_url("https://example.com/")

    def test_scheme(self):
        assert not is_valid_url("ftp://example.com/x")
        assert not is_valid_url("javascript:void(0)")
        assert not is_valid_url("mailto:a@b.com")
        assert not is_valid_url("")
        assert not is_valid_url(None)

    def test_whitespace(self):
        assert not is_valid_url("http://example.com/a b")
        assert not is_valid_url("http://example.com/a\nb")

    def test_blocked_extensions(self):
        assert not is_valid_url("http://example.com/file.pdf")
        assert not is_valid_url("http://example.com/IMG.JPG")  # path lowered first
        assert not is_valid_url("http://example.com/x.tar.gz")
        assert is_valid_url("http://example.com/file.html")
        # extension check is on the path only — query doesn't count
        assert is_valid_url("http://example.com/dl?file=a.pdf")

    def test_length_limits(self):
        assert not is_valid_url("http://example.com/" + "a" * 2000)
        assert not is_valid_url("http://example.com/" + "/".join("s" * 1 for _ in range(21)))
        assert is_valid_url("http://example.com/" + "/".join("s" for _ in range(20)))

    def test_empty_netloc(self):
        assert not is_valid_url("http:///path")


class TestNormalizeUrl:
    def test_lowercase_and_ports(self):
        # uppercase scheme fails the reference's case-sensitive startswith
        # check (validator.py:137-139 raises -> we return None)
        assert normalize_url("HTTP://Example.COM:80/Path") is None
        assert normalize_url("http://Example.COM:80/Path") == "http://example.com/Path"
        assert normalize_url("https://Example.com:443/x") == "https://example.com/x"
        # :80 NOT stripped for https (reference strips only matching scheme)
        assert normalize_url("https://example.com:80/x") == "https://example.com:80/x"

    def test_path(self):
        assert normalize_url("http://e.com") == "http://e.com/"
        assert normalize_url("http://e.com//a///b/") == "http://e.com/a/b"
        assert normalize_url("http://e.com/") == "http://e.com/"

    def test_query_sorted_and_empty_removed(self):
        assert (
            normalize_url("http://e.com/p?b=2&a=1&c=")
            == "http://e.com/p?a=1&b=2"
        )

    def test_fragment_dropped(self):
        assert normalize_url("http://e.com/p#frag") == "http://e.com/p"

    def test_relative_with_base(self):
        assert normalize_url("/sub/page", "http://e.com/dir/x") == "http://e.com/sub/page"
        assert normalize_url("page2", "http://e.com/dir/x") == "http://e.com/dir/page2"

    def test_invalid(self):
        assert normalize_url("notaurl") is None


class TestCanonicalizeUrl:
    def test_www_and_ports(self):
        assert canonicalize_url("http://www.Example.com:80/a") == "http://example.com/a"

    def test_tracking_params_removed(self):
        assert (
            canonicalize_url("http://e.com/p?utm_source=x&id=3&fbclid=z")
            == "http://e.com/p?id=3"
        )

    def test_pagination_normalized(self):
        assert canonicalize_url("http://e.com/p?page=02") == "http://e.com/p?page=2"

    def test_trailing_slash_and_fragment(self):
        assert canonicalize_url("http://e.com/a/#x") == "http://e.com/a"
        assert canonicalize_url("http://e.com/") == "http://e.com/"

    def test_percent_decode(self):
        assert canonicalize_url("http://e.com/a%20b") == "http://e.com/a b"

    def test_variants_collapse(self):
        variants = [
            "http://www.host0.test/page3",
            "http://host0.test:80/page3",
            "http://host0.test/page3?utm_source=feed&gclid=abc",
            "http://host0.test/page3#section-2",
            "http://host0.test/page3/",
            "http://host0.test/page3",
        ]
        assert len({canonicalize_url(v) for v in variants}) == 1


class TestResolveLink:
    def test_skips(self):
        assert resolve_link("", "http://e.com/") is None
        assert resolve_link("#top", "http://e.com/") is None
        assert resolve_link("mailto:a@b.com", "http://e.com/") is None
        assert resolve_link("javascript:void(0)", "http://e.com/") is None
        assert resolve_link("tel:+123", "http://e.com/") is None

    def test_join(self):
        assert resolve_link("/x", "http://e.com/a/b") == "http://e.com/x"
        assert resolve_link("y", "http://e.com/a/b") == "http://e.com/a/y"
        assert resolve_link("http://o.com/z", "http://e.com/") == "http://o.com/z"


def test_host_of():
    assert host_of("http://Host0.TEST/page1") == "host0.test"


def test_spark_udfs_match_python(spark):
    """The fused pandas UDFs must agree, column by column, with the plain
    functions they compose."""
    from pyspark.sql import functions as F

    from crawler_spark.functions import urls as U

    samples = [
        "http://www.Host1.test:80/Page2?utm_source=a&b=2&a=1#f",
        "https://example.com:443//x//y/",
        "http://e.com/file.pdf",
        "notaurl",
        "http://e.com/p?page=007&ref=tw",
        "mailto:a@e.com",
        "#top",
    ]
    base = "http://base.test/dir/"
    df = spark.createDataFrame([(s, base) for s in samples], ["url", "base"])
    rows = (
        df.select(
            "url",
            U.link_urls_udf("url", "base").alias("link"),
            U.sitemap_urls_udf("url").alias("sm"),
            U.host_col(F.col("url")).alias("host"),
        )
        .collect()
    )
    assert len(rows) == len(samples)
    for r in rows:
        # link leg: resolve -> validate -> normalize -> canonicalize
        absolute = U.resolve_link(r["url"], base)
        valid = absolute is not None and U.is_valid_url(absolute)
        assert (r["link"]["absolute"] is not None) == valid
        if valid:
            assert r["link"]["absolute"] == absolute
            norm = U.normalize_url(absolute)
            assert r["link"]["norm"] == norm
            assert r["link"]["canonical"] == (
                U.canonicalize_url(norm) if norm is not None else None
            )
        else:
            assert r["link"]["norm"] is None and r["link"]["canonical"] is None
        assert tuple(r["link"]) == U.link_urls(r["url"], base)
        # sitemap leg: normalize -> validate the normalized URL -> canonicalize
        norm = U.normalize_url(r["url"])
        valid = norm is not None and U.is_valid_url(norm)
        assert r["sm"]["norm"] == (norm if valid else None)
        assert r["sm"]["canonical"] == (U.canonicalize_url(norm) if valid else None)
        assert tuple(r["sm"]) == U.sitemap_urls(r["url"])
        if U.is_valid_url(r["url"]):
            assert r["host"] == U.host_of(r["url"])


def test_url_quality_cols_hand_computed(spark):
    """Each subscore against hand-computed values on URLs that exercise
    every signal, and the composite keep against the documented limits."""
    from pyspark.sql import functions as F

    from crawler_spark.functions import urls as U

    cases = [
        # (url, url_len_ok, expected dict)
        ("http://a.test/x/y", dict(n_params=0, depth=2, host_hyphens=0, n_blockwords=0, keep=True)),
        ("http://a.test/p?a=1&b=2", dict(n_params=2, depth=1, keep=True)),
        # '?' inside the fragment is NOT a query; fragment '&'s never count
        ("http://a.test/p#sec?a=1&b=2&c=3&d=4&e=5&f=6&g=7&h=8&i=9",
         dict(n_params=0, depth=1, keep=True)),
        ("http://a.test/p?a=1&b=2#frag&x&y", dict(n_params=2, depth=1, keep=True)),
        ("http://big-casino.test/", dict(n_blockwords=1, host_hyphens=1, keep=False)),
        ("http://a-b-c-d-e-f.test/", dict(host_hyphens=5, keep=False)),
        ("http://a.test/1234567890" + "1" * 30, dict(keep=False)),  # digit-heavy
        ("http://a.test/" + "x/" * 12, dict(depth=13, keep=False)),
        ("http://a.test/" + "y" * 250, dict(keep=False)),  # too long
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], ["url"])
    cols = U.url_quality_cols(F.col("url"))
    rows = {
        r["url"]: r
        for r in df.select("url", *(c.alias(n) for n, c in cols.items())).collect()
    }
    for url, exp in cases:
        r = rows[url]
        assert r["url_len"] == len(url), url
        digits = sum(ch.isdigit() for ch in url)
        assert r["digit_bp"] == digits * 10000 // len(url), url
        for k, v in exp.items():
            assert r[k] == v, (url, k, r[k], v)
