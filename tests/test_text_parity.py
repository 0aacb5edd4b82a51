"""Spark (JVM regex column exprs) vs oracle (Python re) text-pipeline parity.

Per-row invariant from BASELINE.json input_hint: span-sequence equality
(kind, text, media_ref, order) plus cleaned-text and word-frequency equality
over the full unit corpus — two independent engines, same spec.
"""

from pyspark.sql import functions as F

from crawler_spark.functions import text as X
from crawler_spark.sources.corpus import to_documents_df
from oracle import simulator as O


def test_clean_text_goldens():
    """Hand-derived expectations for the double-clean pipeline (T2)."""
    spans = [
        {"kind": "title", "text": "Hello World", "media_ref": "", "offset": 0},
        {"kind": "nav", "text": "home about", "media_ref": "", "offset": 1},
        {"kind": "text", "text": "visit http://x.com/a?b=1 or mail a@b.com now.....", "media_ref": "", "offset": 2},
        {"kind": "script", "text": "var x=1;", "media_ref": "", "offset": 3},
        {"kind": "text", "text": "dashes ------ here", "media_ref": "", "offset": 4},
        {"kind": "link", "text": "/page2", "media_ref": "", "offset": 5},
    ]
    # extract: 'Hello World visit http://... or mail a@b.com now..... dashes ------ here'
    # extractor clean: ...-collapse -> 'now...', ---, then URL/email stripped
    # processor clean: no further change
    assert O.worker_clean_text(spans) == "Hello World visit or mail now... dashes --- here"


def test_tokenize_goldens():
    assert O.tokenize("The quick brown fox abc123 x supercal") == [
        "quick", "brown", "fox", "supercal",
    ]
    # stopwords dropped, 1-char dropped, digit-adjacent runs unmatched by
    # \b[a-zA-Z]+\b; unicode letters are word chars in Python re, so the
    # ASCII runs inside 'naïve'/'café' have no boundary and do not match
    assert O.tokenize("word2vec and naïve café") == []
    assert O.tokenize("Mixed CASE Words") == ["mixed", "case", "words"]
    assert O.tokenize("") == []
    long_word = "a" * 51
    assert O.tokenize(f"keep {long_word} drop") == ["keep", "drop"]


def test_spark_matches_oracle_on_corpus(spark, unit_corpus):
    documents, _, _ = unit_corpus
    df = to_documents_df(spark, documents)
    out = (
        df.select(
            "doc_id",
            X.worker_clean_text(F.col("spans")).alias("text"),
            X.tokens(X.worker_clean_text(F.col("spans"))).alias("words"),
        )
        .collect()
    )
    assert len(out) == len(documents)
    by_id = {d["doc_id"]: d["spans"] for d in documents}
    for row in out:
        spans = by_id[row["doc_id"]]
        expected_text = O.worker_clean_text(spans)
        assert row["text"] == expected_text, row["doc_id"]
        assert list(row["words"]) == O.tokenize(expected_text), row["doc_id"]


def test_word_frequencies_match(spark, unit_corpus):
    """A1 — explode+groupBy word counts vs oracle Counter, whole corpus."""
    documents, _, _ = unit_corpus
    df = to_documents_df(spark, documents)
    rows = (
        df.select(
            "doc_id",
            F.explode(X.tokens(X.worker_clean_text(F.col("spans")))).alias("word"),
        )
        .groupBy("doc_id", "word")
        .count()
        .collect()
    )
    got: dict[str, dict[str, int]] = {}
    for r in rows:
        got.setdefault(r["doc_id"], {})[r["word"]] = r["count"]
    for d in documents:
        expected = O.word_frequencies(d["spans"])
        assert got.get(d["doc_id"], {}) == expected, d["doc_id"]


def test_link_extraction_matches(spark, unit_corpus):
    """T5/O6 — ordered-distinct valid links vs oracle, whole corpus."""
    from crawler_spark.functions.urls import link_urls_udf

    documents, _, _ = unit_corpus
    df = to_documents_df(spark, documents)
    exploded = (
        df.select("doc_id", F.posexplode(X.link_spans(F.col("spans"))).alias("pos", "span"))
        .select("doc_id", "pos", F.col("span.text").alias("href"))
        .withColumn("absolute", link_urls_udf(F.col("href"), F.col("doc_id"))["absolute"])
        .where(F.col("absolute").isNotNull())
    )
    # ordered distinct: first occurrence per (doc, absolute)
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id", "absolute").orderBy("pos")
    rows = (
        exploded.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "pos", "absolute")
        .collect()
    )
    got: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r["doc_id"], r["pos"])):
        got.setdefault(r["doc_id"], []).append(r["absolute"])
    for d in documents:
        expected = O.extract_links(d["spans"], d["doc_id"], depth=0, max_depth=3)
        assert got.get(d["doc_id"], []) == expected, d["doc_id"]


def test_main_content_selection(spark):
    """F15/O4: main spans win; else longest text block > 50 chars; else the
    full visible text."""
    from pyspark.sql import functions as F

    from crawler_spark.functions.text import main_content

    schema = "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    long_a = "a" * 60
    long_b = "b" * 80
    rows = [
        # main spans present -> joined main text
        ("m", [("text", long_a, "", 0), ("main", "the main part", "", 1), ("main", "second", "", 2)]),
        # no main -> longest text span > 50 chars wins
        ("t", [("text", long_a, "", 0), ("text", long_b, "", 1), ("text", "short", "", 2)]),
        # nothing over 50 chars -> whole visible text
        ("f", [("title", "Hi", "", 0), ("text", "short one", "", 1)]),
    ]
    df = spark.createDataFrame(rows, schema)
    got = {r["doc_id"]: r["m"] for r in df.select("doc_id", main_content(F.col("spans")).alias("m")).collect()}
    assert got["m"] == "the main part second"
    assert got["t"] == long_b
    assert got["f"] == "Hi short one"
