"""URL validation / normalization / canonicalization (SURVEY.md F1-F5).

Semantics match the reference implementation:

- validity filter   -> /root/reference/src/crawler/url_management/validator.py:52-108
- normalization     -> validator.py:110-161 (path :273-289, query :291-321)
- canonicalization  -> validator.py:343-463 (tracking params :350-354)
- url hash          -> reference uses md5 hex (queue.py:35-38); the Spark
  engine keys on ``xxhash64(canonical_url)`` per BASELINE.json north_rule —
  equality is always checked on the canonical URL string, so the hash
  function is an internal partitioning/join key only.

The plain-Python functions here are the single source of truth; the Spark
side calls them through Arrow-vectorized pandas UDFs (never per-row Python
UDFs), and the pure-Python oracle simulator (oracle/simulator.py) imports
the same functions so both engines agree on URL semantics by construction.
Golden unit tests in tests/test_urls.py pin them to hand-derived expected
values taken from reading the reference.
"""

from __future__ import annotations

import re
from urllib.parse import parse_qs, unquote, urlencode, urljoin, urlparse, urlunparse

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType, StructField, StructType

# --- constants (reference: validator.py:20-47) -------------------------------

VALID_SCHEMES = {"http", "https"}

# validator.py:21-27 — 25 blocked extensions
BLOCKED_EXTENSIONS = (
    ".pdf", ".doc", ".docx", ".xls", ".xlsx", ".ppt", ".pptx",
    ".zip", ".rar", ".tar", ".gz", ".7z",
    ".jpg", ".jpeg", ".png", ".gif", ".bmp", ".svg", ".webp",
    ".mp3", ".mp4", ".avi", ".mov", ".wmv", ".flv",
    ".exe", ".msi", ".dmg", ".deb", ".rpm",
)

MAX_URL_LENGTH = 2000     # validator.py:41
MAX_PATH_SEGMENTS = 20    # validator.py:42
MAX_QUERY_PARAMS = 50     # validator.py:43

# validator.py:350-354 — tracking params stripped by the canonicalizer
TRACKING_PARAMS = {
    "utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content",
    "gclid", "fbclid", "msclkid", "ref", "referrer",
    "_ga", "_gid", "sessionid", "jsessionid",
}

# validator.py:356-359 — pagination params int-normalized
NORMALIZE_PARAMS = ("page", "p", "offset", "start", "from")

# extractor.py:339-340 / worker.py:322-325 — schemes skipped during link resolution
SKIP_LINK_PREFIXES = ("mailto:", "tel:", "javascript:", "data:")

_INVALID_CHARS = (" ", "\n", "\r", "\t")


# --- plain-Python semantics (shared by pandas UDFs and the oracle) -----------

def is_valid_url(url: str) -> bool:
    """F1 — reference validator.py:52-108 with default (empty) domain filters."""
    if not url or not isinstance(url, str):
        return False
    if not url.startswith(("http://", "https://")):
        return False
    if any(c in url for c in _INVALID_CHARS):
        return False
    try:
        parsed = urlparse(url)
    except Exception:
        return False
    if parsed.scheme.lower() not in VALID_SCHEMES:
        return False
    if not parsed.netloc:
        return False
    path_lower = parsed.path.lower()
    if any(path_lower.endswith(ext) for ext in BLOCKED_EXTENSIONS):
        return False
    if len(url) > MAX_URL_LENGTH:
        return False
    if len([s for s in parsed.path.split("/") if s]) > MAX_PATH_SEGMENTS:
        return False
    if parsed.query:
        try:
            if len(parse_qs(parsed.query)) > MAX_QUERY_PARAMS:
                return False
        except Exception:
            return False
    return True


def normalize_url(url: str, base_url: str | None = None) -> str | None:
    """F2 — reference validator.py:110-161; returns None where the reference raises."""
    try:
        if base_url and not url.startswith(("http://", "https://")):
            url = urljoin(base_url, url)
        if not url.startswith(("http://", "https://")):
            return None
        parsed = urlparse(url)
        scheme = parsed.scheme.lower()
        netloc = parsed.netloc.lower()
        if ":80" in netloc and scheme == "http":
            netloc = netloc.replace(":80", "")
        elif ":443" in netloc and scheme == "https":
            netloc = netloc.replace(":443", "")
        path = parsed.path
        if not path:
            path = "/"
        else:
            path = re.sub(r"/+", "/", path)
            if not path.startswith("/"):
                path = "/" + path
            if len(path) > 1 and path.endswith("/"):
                path = path[:-1]
        query = ""
        if parsed.query:
            try:
                params = parse_qs(parsed.query, keep_blank_values=False)
                params = {k: v for k, v in params.items() if v and v[0]}
                pairs = []
                for key in sorted(params):
                    for value in sorted(params[key]):
                        pairs.append((key, value))
                query = urlencode(pairs)
            except Exception:
                query = parsed.query
        return urlunparse((scheme, netloc, path, parsed.params, query, ""))
    except Exception:
        return None


def canonicalize_url(url: str) -> str:
    """F3 — reference validator.py:361-409; dedup key for the URL-seen set."""
    if not url:
        return url
    try:
        parsed = urlparse(url)
        scheme = parsed.scheme.lower()
        netloc = parsed.netloc.lower()
        if netloc.startswith("www."):
            netloc = netloc[4:]
        if ":443" in netloc and scheme == "https":
            netloc = netloc.replace(":443", "")
        elif ":80" in netloc and scheme == "http":
            netloc = netloc.replace(":80", "")
        path = parsed.path
        if not path:
            path = "/"
        elif path != "/":
            if path.endswith("/"):
                path = path[:-1]
            try:
                path = unquote(path)
            except Exception:
                pass
        query = ""
        if parsed.query:
            try:
                params = parse_qs(parsed.query, keep_blank_values=True)
                params = {k: v for k, v in params.items() if k.lower() not in TRACKING_PARAMS}
                for p in NORMALIZE_PARAMS:
                    if p in params:
                        try:
                            params[p] = [str(int(params[p][0]))]
                        except (ValueError, IndexError):
                            pass
                pairs = []
                for key in sorted(params):
                    for value in sorted(params[key]):
                        pairs.append((key, value))
                query = urlencode(pairs)
            except Exception:
                query = parsed.query
        if not path:
            path = "/"
        return urlunparse((scheme, netloc, path, "", query, ""))
    except Exception:
        return url


def resolve_link(href: str, base_url: str) -> str | None:
    """T5 — worker.py:297-346 / extractor.py:332-353 link resolution.

    Skips empty hrefs, fragments, and non-HTTP schemes; urljoins the rest.
    """
    if href is None or base_url is None:
        return None
    href = href.strip()
    if not href or href.startswith("#"):
        return None
    if href.startswith(SKIP_LINK_PREFIXES):
        return None
    try:
        absolute = urljoin(base_url, href)
    except Exception:
        return None
    return absolute


def host_of(url: str) -> str:
    """F5 — lowercased netloc (validator.py:163-169)."""
    try:
        return urlparse(url).netloc.lower()
    except Exception:
        return ""


def link_urls(href: str | None, base_url: str | None):
    """One discovered link through the whole chain: resolve (T5) -> validate
    (F1) -> normalize (F2) -> canonicalize (F3).

    Returns ``(absolute, norm, canonical)``. ``absolute`` is None for a
    skipped, unresolvable or invalid link (nothing else is then set);
    ``norm`` and ``canonical`` are None where normalization fails.
    """
    absolute = resolve_link(href, base_url)
    if absolute is None or not is_valid_url(absolute):
        return None, None, None
    norm = normalize_url(absolute)
    if norm is None:
        return absolute, None, None
    return absolute, norm, canonicalize_url(norm)


def sitemap_urls(url: str | None):
    """One sitemap ``<loc>``: normalize -> validate the normalized URL ->
    canonicalize. Returns ``(norm, canonical)``, both None when the URL
    does not normalize or its normalized form is invalid."""
    norm = normalize_url(url) if url is not None else None
    if norm is None or not is_valid_url(norm):
        return None, None
    return norm, canonicalize_url(norm)


# --- Arrow-vectorized pandas UDFs (no per-row Python on the Spark path) ------
#
# Each URL chain is ONE Arrow UDF evaluated once per row. A Python stage
# costs about 0.2-0.25 s of worker CPU per task on PySpark 4.1 / Python 3.11
# whatever its row count (an identity UDF over 7,000 rows at local[4]: 0.25 s
# in 1 task, 2.1 s in 8, 8.5 s in 32). Most of it is the worker's
# setup_spark_files -> importlib.invalidate_caches(): on Python 3.11 every
# zipimporter over pyspark.zip (14-16 of them) then re-reads the archive's
# 1,328-entry directory. The pure-Python chain itself is ~40 us per link, so
# splitting it across several UDFs or stages multiplies a fixed cost that
# dwarfs the work.
#
# The UDFs are marked nondeterministic so the optimizer never copies them
# into a pushed-down filter or a collapsed projection (the split chain ran
# six UDF calls per row that way); the functions are pure, so results are
# unchanged. Guarded by
# tests/test_plans.py::test_round_evaluates_url_python_once_per_link.

LINK_URLS_TYPE = StructType([
    StructField("absolute", StringType()),
    StructField("norm", StringType()),
    StructField("canonical", StringType()),
])

SITEMAP_URLS_TYPE = StructType([
    StructField("norm", StringType()),
    StructField("canonical", StringType()),
])


@pandas_udf(LINK_URLS_TYPE)
def link_urls_udf(hrefs: pd.Series, bases: pd.Series) -> pd.DataFrame:
    return pd.DataFrame(
        [link_urls(h, b) for h, b in zip(hrefs, bases)],
        columns=LINK_URLS_TYPE.names, dtype="object",
    )


@pandas_udf(SITEMAP_URLS_TYPE)
def sitemap_urls_udf(urls: pd.Series) -> pd.DataFrame:
    return pd.DataFrame(
        [sitemap_urls(u) for u in urls],
        columns=SITEMAP_URLS_TYPE.names, dtype="object",
    )


link_urls_udf = link_urls_udf.asNondeterministic()
sitemap_urls_udf = sitemap_urls_udf.asNondeterministic()


def host_col(url_col):
    """F5 as a JVM-side expression.

    Reference semantics are ``urlparse(url).netloc.lower()`` — the netloc
    INCLUDES an explicit port (parse_url's HOST does not), so extract the
    authority component directly.
    """
    return F.lower(F.regexp_extract(url_col, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))


def url_hash_col(canonical_url_col):
    """F4 — 64-bit partition/join key over the canonical URL (north_rule)."""
    return F.xxhash64(canonical_url_col)


def host_bucket_col(host_column, n_buckets: int):
    """Frontier bucket assignment — THE single definition. round.py's
    dirty-bucket commits and engine.py's seed/frontier init must agree
    bit-for-bit: a drifted copy would land fresh rows in buckets the
    manifest's bucket map doesn't cover, silently dropping or double-
    reading frontier rows on the next scan."""
    return F.pmod(F.xxhash64(host_column), F.lit(int(n_buckets))).cast("int")


# FineWeb / RefinedWeb URL-level quality filtering (Penedo et al. 2023,
# 2024): before fetching or keeping a document, score its URL on cheap
# lexical signals — overall length, digit density, query-parameter count,
# path depth, soft-spam vocabulary, hyphen-stuffed hosts. Pure JVM column
# expressions (no UDF), so the filter runs inside whole-stage codegen over
# a 10^10-row frontier and a SQL oracle reproduces every subscore exactly.
URL_BLOCKWORDS = ("casino", "viagra", "xxx", "porn", "lottery", "loan")

URL_QUALITY_LIMITS = {
    "max_len": 200,       # chars in the whole URL
    "max_digit_bp": 4000, # digit density, basis points of URL length
    "max_params": 8,      # query parameters
    "max_depth": 10,      # path segments
    "max_host_hyphens": 4,
}


def url_quality_cols(url_col, blockwords: tuple = URL_BLOCKWORDS) -> dict:
    """URL quality subscores as named Column expressions.

    Returns a dict of name -> Column: ``url_len``, ``digit_bp`` (digit
    density in integer basis points), ``n_params``, ``depth``,
    ``host_hyphens``, ``n_blockwords``, and the composite boolean ``keep``
    under URL_QUALITY_LIMITS. All counting is length-difference arithmetic
    over regexp_replace with no floating point, so any engine re-derives
    identical values.
    """
    u = F.lower(url_col)
    ulen = F.length(u)
    digits = ulen - F.length(F.regexp_replace(u, "[0-9]", ""))
    digit_bp = F.floor(digits * F.lit(10000) / F.greatest(ulen, F.lit(1))).cast("long")
    # strip the fragment BEFORE locating '?': in 'http://h/p#sec?a&b' the
    # '?' lives inside the fragment and is not a query, and fragment '&'s
    # must never count as parameters
    uq = F.regexp_replace(u, "#.*$", "")
    qpos = F.instr(uq, "?")
    q = F.when(qpos > 0, F.substring(uq, qpos + 1, F.lit(1_000_000))).otherwise(F.lit(""))
    n_params = F.when(q == "", F.lit(0)).otherwise(
        F.lit(1) + F.length(q) - F.length(F.regexp_replace(q, "&", ""))
    ).cast("long")
    path = F.regexp_replace(u, r"^[a-z][a-z0-9+.-]*://[^/?#]*", "")
    path = F.regexp_replace(path, r"[?#].*$", "")
    depth = (F.length(path) - F.length(F.regexp_replace(path, "/", ""))).cast("long")
    host = F.regexp_extract(u, r"^[a-z][a-z0-9+.-]*://([^/?#]*)", 1)
    host_hyphens = (F.length(host) - F.length(F.regexp_replace(host, "-", ""))).cast("long")
    n_block = sum(
        (F.when(F.instr(u, w) > 0, F.lit(1)).otherwise(F.lit(0)) for w in blockwords),
        F.lit(0),
    ).cast("long")
    lim = URL_QUALITY_LIMITS
    keep = (
        (ulen <= lim["max_len"])
        & (digit_bp <= lim["max_digit_bp"])
        & (n_params <= lim["max_params"])
        & (depth <= lim["max_depth"])
        & (host_hyphens <= lim["max_host_hyphens"])
        & (n_block == 0)
    )
    return {
        "url_len": ulen.cast("long"),
        "digit_bp": digit_bp,
        "n_params": n_params,
        "depth": depth,
        "host_hyphens": host_hyphens,
        "n_blockwords": n_block,
        "keep": keep,
    }
