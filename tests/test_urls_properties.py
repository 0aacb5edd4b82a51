"""Property-based tests (hypothesis) for the URL layer.

The golden tests in test_urls.py pin hand-derived values; these pin the
ALGEBRA the engine depends on:

- canonicalize is idempotent (the url_seen dedup key is a fixed point —
  without this, re-canonicalizing a stored key could orphan rows);
- normalize is idempotent, and canonicalize(normalize(x)) ==
  canonicalize(normalize(normalize(x))) (the round pipeline applies
  normalize at discovery and canonicalize for dedup; composition must be
  stable across rounds);
- equivalent spellings (www., default ports, fragments, tracking params,
  trailing slash) collapse to one canonical form;
- none of the functions ever raises on arbitrary unicode garbage (the
  frontier must never die on a hostile href);
- the fused per-link chains (link_urls, sitemap_urls) the engine evaluates
  in one UDF equal the step-by-step composition the oracle simulator runs.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from crawler_spark.functions.urls import (
    canonicalize_url,
    host_of,
    is_valid_url,
    link_urls,
    normalize_url,
    resolve_link,
    sitemap_urls,
)

# plausible-URL generator: scheme x host-ish x path-ish x query-ish
_hosts = st.from_regex(r"[a-z]{1,8}(\.[a-z]{2,5}){1,2}(:[0-9]{1,4})?", fullmatch=True)
_paths = st.from_regex(r"(/[A-Za-z0-9._~%-]{0,8}){0,4}/?", fullmatch=True)
_query = st.from_regex(r"(\?[a-z]{1,6}=[A-Za-z0-9]{0,6}(&[a-z]{1,6}=[A-Za-z0-9]{0,6}){0,3})?", fullmatch=True)
_frag = st.from_regex(r"(#[A-Za-z0-9]{0,6})?", fullmatch=True)


@st.composite
def urls(draw):
    return (
        draw(st.sampled_from(["http://", "https://", "http://www."]))
        + draw(_hosts)
        + draw(_paths)
        + draw(_query)
        + draw(_frag)
    )


@given(urls())
@settings(max_examples=300, deadline=None)
def test_canonicalize_idempotent_on_normalized(u):
    """Idempotency holds on the engine path (canonicalize after normalize).

    On RAW urls it does not: the reference strips exactly one trailing slash
    per pass (validator.py:417-419), so 'http://a.aa///' needs two passes —
    a reference quirk we reproduce faithfully. The engine never hits it:
    candidates are normalized first, which collapses '/+' runs.
    """
    n = normalize_url(u)
    if n is None:
        return
    c = canonicalize_url(n)
    assert canonicalize_url(c) == c
    # and the cross-round discovery path is stable: re-discovering the
    # canonical spelling yields the same dedup key
    n2 = normalize_url(c)
    if n2 is not None:
        assert canonicalize_url(n2) == c


@given(urls())
@settings(max_examples=300, deadline=None)
def test_normalize_idempotent_and_composition_stable(u):
    n = normalize_url(u)
    if n is not None:
        assert normalize_url(n) == n
        assert canonicalize_url(n) == canonicalize_url(normalize_url(n))


@given(urls())
@settings(max_examples=300, deadline=None)
def test_equivalent_spellings_collapse(u):
    n = normalize_url(u)
    if n is None:
        return
    c = canonicalize_url(n)
    variants = [
        u.split("#")[0] + "#frag",                      # fragment
        u.split("#")[0] + ("&" if "?" in u.split("#")[0] else "?") + "utm_source=x&gclid=1",
    ]
    for v in variants:
        nv = normalize_url(v)
        if nv is not None:
            assert canonicalize_url(nv) == c, (u, v)


@given(st.text(max_size=50))
@settings(max_examples=300, deadline=None)
def test_total_on_garbage(s):
    # never raises, whatever comes in
    is_valid_url(s)
    normalize_url(s)
    canonicalize_url(s)
    host_of(s)
    resolve_link(s, "http://base.test/dir/page")


@given(urls(), st.text(alphabet="abcdefgh/._-", max_size=20))
@settings(max_examples=200, deadline=None)
def test_resolve_link_absolute_when_resolves(base, href):
    out = resolve_link(href, base)
    if out is not None:
        assert out.startswith(("http://", "https://"))

# link hrefs exercising every branch of the fused chain: skip schemes, bare
# fragments, www./default-port spellings, tracking and pagination params,
# blocked extensions, relative paths and None
_href_prefix = st.sampled_from([
    "", "http://", "https://", "http://www.", "HTTPS://WWW.", "mailto:",
    "tel:", "javascript:", "data:", "#", "//", "/", "../", "ftp://", " ",
])
_port = st.sampled_from(["", ":80", ":443", ":8080"])
_ext = st.sampled_from(["", "/", ".html", ".pdf", ".JPG", ".tar.gz", "//"])
_params = st.lists(
    st.sampled_from([
        "utm_source=x", "gclid=1", "ref=tw", "page=007", "p=2", "offset=x",
        "start=", "a=1", "b=2", "B=3", "sessionid=9",
    ]),
    max_size=4,
)


@st.composite
def hrefs(draw):
    if draw(st.integers(0, 15)) == 0:
        return None
    query = draw(_params)
    return (
        draw(_href_prefix)
        + draw(st.sampled_from(["", "h.test", "Host.Test", "e.com"]))
        + draw(_port)
        + draw(_paths)
        + draw(_ext)
        + ("?" + "&".join(query) if query else "")
        + draw(_frag)
    )


@given(hrefs(), st.one_of(st.none(), urls()))
@settings(max_examples=500, deadline=None)
def test_link_urls_is_the_composition(href, base):
    absolute = resolve_link(href, base)
    if absolute is None or not is_valid_url(absolute):
        assert link_urls(href, base) == (None, None, None)
        return
    norm = normalize_url(absolute)
    canonical = None if norm is None else canonicalize_url(norm)
    assert link_urls(href, base) == (absolute, norm, canonical)


@given(hrefs())
@settings(max_examples=300, deadline=None)
def test_sitemap_urls_is_the_composition(url):
    norm = normalize_url(url) if url is not None else None
    if norm is None or not is_valid_url(norm):
        assert sitemap_urls(url) == (None, None)
    else:
        assert sitemap_urls(url) == (norm, canonicalize_url(norm))
