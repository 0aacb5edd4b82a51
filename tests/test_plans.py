"""Physical-plan property guards.

The scale story depends on plan SHAPE, not just results: column pruning and
filter pushdown reaching the parquet scan, small dims broadcast, the dedup
anti-join hash-joined (no sort), no accidental cartesian products. These are
easy to regress silently — a refactor that still returns correct rows can
drop a pushdown and 10x the scan at 100 TB — so the properties are pinned as
tests over the compiled plans (no job execution; ``explain`` strings only).
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from crawler_spark.queries import REGISTRY
import pytest

pytestmark = pytest.mark.engine  # split: see pytest.ini

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    return (
        REGISTRY[name]
        .fn(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_rollups_prune_to_key_column(spark):
    """fetch_outcomes / link_classification derive everything from doc_id —
    the scan must read ONLY that column."""
    for name in ("fetch_outcomes", "link_classification"):
        plan = _plan(spark, name)
        assert "ReadSchema: struct<doc_id:bigint>" in plan, name


def test_word_pipeline_prunes_columns(spark):
    """The tokenizer pipeline needs (doc_id, text); lang/source/n_chars must
    be pruned from the documents scan."""
    plan = _plan(spark, "word_topk")
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan
    assert "n_chars" not in plan


def test_knn_filter_pushed_to_scan(spark):
    """The query-side vec_id < 20 predicate must reach the parquet reader."""
    plan = _plan(spark, "knn_cosine")
    assert "PushedFilters: [" in plan
    assert "LessThan(vec_id,20)" in plan


def test_small_dims_broadcast(spark):
    """Multi-join rollup broadcasts the nation dim; the brute-force knn
    broadcasts the query side — neither may fall back to a shuffle join of
    the small side or a cartesian product."""
    for name in ("revenue_by_nation", "knn_cosine"):
        plan = _plan(spark, name)
        assert "BroadcastExchange" in plan, name
        assert "CartesianProduct" not in plan, name


def test_dedup_anti_join_is_shuffled_hash(spark):
    """J1: the url_seen anti-join must stay a shuffled HASH join — a
    sort-merge join re-sorts both 10^10-row sides (measured 2x slower at
    32M rows)."""
    seen = spark.range(1000).select(
        F.concat(F.lit("http://h.test/s"), F.col("id").cast("string")).alias("canonical")
    ).withColumn("url_hash", F.xxhash64("canonical"))
    cand = spark.range(500, 1500).select(
        F.concat(F.lit("http://h.test/s"), F.col("id").cast("string")).alias("canonical")
    ).withColumn("url_hash", F.xxhash64("canonical"))
    plan = (
        cand.join(seen.hint("shuffle_hash"), ["url_hash", "canonical"], "left_anti")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def _seen_anti_join(spark, tmp_path, buckets: int, append: bool):
    """The round's dedup anti-join of 1000 candidates against a committed
    bucketed url_seen of 1000 rows (+200 appended in a second commit)."""
    from crawler_spark.tables import SnapshotCatalog

    def urls(a, b):
        return spark.range(a, b).select(
            F.concat(F.lit("http://h.test/s"), F.col("id").cast("string")).alias("canonical")
        ).withColumn("url_hash", F.xxhash64("canonical"))

    cat = SnapshotCatalog(str(tmp_path / "cat"))
    commit = cat.begin(-1)
    commit.stage_seen_init(spark, urls(0, 1000), buckets=buckets)
    commit.commit()
    if append:
        commit = cat.begin(0)
        commit.stage_seen_append(spark, urls(1000, 1200))
        commit.commit()
    seen_df = cat.read(spark, "url_seen")
    cand = urls(500, 1500)
    return cand.join(
        seen_df.hint("shuffle_hash"),
        (cand.url_hash == seen_df.url_hash) & (cand.canonical == seen_df.canonical),
        "left_anti",
    )


def _assert_seen_side_not_shuffled(j):
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    assert "Bucketed: true" in plan
    assert plan.count("Exchange") == 1, plan  # candidate side only


def test_seen_side_not_shuffled(spark, tmp_path):
    """J1 at scale: url_seen is a bucketed table on the anti-join keys, so
    the plan must scan it `Bucketed: true` with NO Exchange on the seen side
    — the only Exchange in the join is the per-round candidate shuffle.
    (r2 re-shuffled the whole growing seen set every round; VERDICT r2 #1.)"""
    j = _seen_anti_join(spark, tmp_path, buckets=8, append=True)
    assert j.count() == 300  # 1200..1499 minus nothing; appended rows visible
    _assert_seen_side_not_shuffled(j)


def test_seen_side_not_shuffled_at_production_buckets(spark, tmp_path):
    """The same guard at 4096 buckets, the production count. Plan only:
    each bucketed write runs 4096 tasks (~30 s at local[4]), so the append
    and the executed join (~12 s more) stay with the 8-bucket test."""
    _assert_seen_side_not_shuffled(_seen_anti_join(spark, tmp_path, buckets=4096, append=False))


def test_no_cartesian_products_anywhere(spark):
    """No SQL-checkable registry plan may contain an unconditioned cartesian
    product (broadcast nested-loop of a one-row/tiny dim is fine; a
    CartesianProduct node is never fine at scale)."""
    for name, spec in REGISTRY.items():
        # the streaming/iterative entries execute on build; their final
        # plans are trivial projections — skip, like the lazy-builder test
        if spec.sql is None or name in (
            "stream_politeness_gate", "dedup_clusters", "training_keepset"
        ):
            continue
        assert "CartesianProduct" not in _plan(spark, name), name


def test_kmeans_assignment_broadcasts_centroids(spark):
    """clustering._assign must broadcast the k-row centroid frame (a
    BroadcastNestedLoopJoin is the broadcast form of the cross join) and
    prune the embeddings scan to (vec_id, embedding) — label never read.
    A CartesianProduct or a shuffle of the corpus against 8 rows is the
    scale bug this pins against."""
    from crawler_spark.operators.clustering import _assign, quantize

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = quantize(emb.select(F.col("vec_id"), "embedding")).select("vec_id", "qv")
    cent = q.limit(4).select(F.lit(0).alias("cluster"), F.col("qv").alias("cv"))
    plan = _assign(q, cent)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "ReadSchema: struct<vec_id:bigint,embedding:array<float>>" in plan


def test_lm_surprisal_plan_shape(spark):
    """operators/lm.surprisal: the 1-row total-count frame joins via
    broadcast (T stays in-plan — no driver count), the documents scan reads
    only (doc_id, text), and no CartesianProduct appears."""
    plan = _plan(spark, "lm_surprisal")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    # the final plan reads the localCheckpointed token stream (ExistingRDD),
    # so pruning is asserted on the stream's own pre-checkpoint plan
    from crawler_spark.operators.lm import token_stream

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    tplan = token_stream(docs)._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in tplan


def test_graph_queries_prune_to_doc_id(spark):
    """The synthetic-graph queries derive edges from doc_id alone — text,
    lang, source must all be pruned from the documents scan. (hits_scores'
    final plan is lineage-truncated by its per-half-step localCheckpoint,
    so only the no-text property is assertable there.)"""
    plan = _plan(spark, "link_triangles")
    assert "ReadSchema: struct<doc_id:bigint>" in plan
    assert "text" not in plan
    assert "text" not in _plan(spark, "hits_scores")


def test_heavy_hitters_broadcasts_sketch_and_candidates(spark):
    """The two-pass heavy-hitter plan must probe a BROADCAST sketch and
    semi-join a BROADCAST candidate set — a shuffle of the full stream on
    the key would defeat the sketch prune."""
    plan = _plan(spark, "heavy_hitters")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_dedup_spans_shuffles_on_window_hash(spark):
    """dup_span_removal's occurrence count must shuffle on the 8-byte
    window hash (never the window string), and no pairwise stage may
    appear anywhere in the plan."""
    plan = _plan(spark, "dedup_spans")
    assert "CartesianProduct" not in plan
    assert "Exchange hashpartitioning(h#" in plan


def _exchange_nodes(plan: str) -> list[str]:
    return re.findall(r"[+:]- (?:\*\(\d+\) )?(ReusedExchange|Exchange) ", plan)


def test_blocked_pairs_cap_adds_no_shuffle(spark):
    """The kernel's hot-block cap is a window on the join key, whose hash
    partitioning the sort-merge self-join reuses: the capped plan has as
    many Exchange nodes as the uncapped one, and the second join side reads
    a ReusedExchange. (AQE off for the plan, which otherwise defers
    exchange reuse to execution; broadcast off, so the join is the
    shuffled one a large block set gets.)"""
    from crawler_spark.operators.dedup import blocked_pairs

    rows = spark.range(20000).select(
        F.col("id").alias("doc"), (F.col("id") % 997).alias("k"), (F.col("id") * 3).alias("c")
    )
    conf = {"spark.sql.adaptive.enabled": "false", "spark.sql.autoBroadcastJoinThreshold": "-1"}
    old = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        nodes = {
            m: _exchange_nodes(
                blocked_pairs(rows, "doc", "k", max_block=m, carry=("c",))
                .select("doc_a", "doc_b")
                .distinct()
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            for m in (None, 50)
        }
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert len(nodes[50]) == len(nodes[None]), nodes
    assert nodes[50].count("ReusedExchange") == 1, nodes


def test_embedding_exact_mode_compares_ids_before_cosine(spark):
    """The exact all-pairs mode must cut the N^2 ordered pairs to a < b
    before it computes a cosine: the id comparison leads the join
    condition (Spark prepends a pushed-down filter to an existing one)."""
    from crawler_spark.operators.similarity import embedding_neardup

    vec = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.sin(F.col("id") * (d + 1)) for d in range(4)]).alias("embedding"),
    )
    plan = embedding_neardup(vec, threshold=0.4)._jdf.queryExecution().optimizedPlan().toString()
    joins = [line for line in plan.splitlines() if "Join" in line]
    assert len(joins) == 1, plan
    assert re.search(r"Join \w+, \(\(vec_a#\d+L? < vec_b#\d+L?\) AND ", joins[0]), joins[0]


def test_all_denied_round_commits_skipped_and_drains(spark, tmp_path):
    """A frontier whose every eligible row is robots-denied must flip those
    rows to skipped and DRAIN (oracle contract: denied -> skipped
    unconditionally, simulator.py:369-374) — not stay pending and re-run
    the round until max_rounds."""
    from crawler_spark.config import CrawlConfig
    from crawler_spark.plans.engine import run_crawl
    from crawler_spark.sources.corpus import (
        gen_corpus, to_documents_df, to_robots_df,
    )

    documents, seeds, robots = gen_corpus(hosts=2, pages_per_host=4, seed=5)
    # deny EVERYTHING: one Disallow:/ rule per host, nothing else
    hosts = sorted({r["host"] for r in robots})
    deny_all = [
        dict(host=h, user_agent="*", path_prefix="/", allow=False,
             crawl_delay=1.0, rule_order=0)
        for h in hosts
    ]
    wd = str(tmp_path / "denyall")
    out = run_crawl(
        spark, wd, to_documents_df(spark, documents),
        to_robots_df(spark, deny_all), seeds,
        CrawlConfig(max_pages=20, max_rounds=8),
    )
    assert out["stopped"] == "frontier_empty"
    assert out["scheduled_total"] == 0
    # the denied seeds are committed as skipped, not left pending
    from crawler_spark.tables import SnapshotCatalog
    cat = SnapshotCatalog(wd)
    statuses = {
        r["status"]
        for r in cat.read(spark, "frontier").select("status").distinct().collect()
    }
    assert statuses == {"skipped"}
    # and it took ONE real round + the empty-frontier probe, not max_rounds
    assert out["last_round"] <= 1


_PY_EVAL = re.compile(r"\w*EvalPython \[.*")


def _python_nodes(plan: str) -> set[str]:
    """Distinct Python-evaluation nodes of an executed-plan tree string,
    cached relations included (their inner plans print under
    InMemoryRelation, once more as AQE's initial plan once materialized)."""
    return {m.group(0) for m in _PY_EVAL.finditer(plan)}


def test_round_evaluates_url_python_once_per_link(spark, tmp_path, monkeypatch):
    """The round's URL chain (resolve -> validate -> normalize -> canonicalize)
    is ONE Arrow UDF call in ONE Python node, under the links write; every
    other plan the round executes (the fresh anti-join, the dirty-bucket
    collect, the frontier and seen writes, the counts) reaches Python only
    through that same node in the persisted links frame. A Python stage
    costs a fixed ~0.2 s of worker CPU per task, and the split chain ran six
    UDF calls per row across four nodes (filter pushdown duplicated
    resolve and normalize)."""
    from crawler_spark import tables
    from crawler_spark.config import CrawlConfig
    from crawler_spark.plans.engine import run_crawl
    from crawler_spark.sources.corpus import (
        gen_corpus, to_documents_df, to_robots_df,
    )

    documents, seeds, robots = gen_corpus(hosts=3, pages_per_host=8, seed=5)
    docs_df = to_documents_df(spark, documents)
    robots_df = to_robots_df(spark, robots)
    plans: list[tuple[str, str]] = []

    def record(label, df):
        plans.append((label, df._jdf.queryExecution().executedPlan().toString()))

    write, seen_append = tables.RoundCommit._write, tables.RoundCommit.stage_seen_append
    DF = type(docs_df)
    collect, count = DF.collect, DF.count

    def recording_write(self, table, df, partition_by):
        if self.round_no >= 0:  # not the seed commit of init_state
            record(table, df)
        return write(self, table, df, partition_by)

    def recording_seen_append(self, spark_, df):
        record("url_seen", df)
        return seen_append(self, spark_, df)

    def recording_collect(self):
        record("collect", self)
        return collect(self)

    def recording_count(self):
        record("count", self)
        return count(self)

    monkeypatch.setattr(tables.RoundCommit, "_write", recording_write)
    monkeypatch.setattr(tables.RoundCommit, "stage_seen_append", recording_seen_append)
    monkeypatch.setattr(DF, "collect", recording_collect)
    monkeypatch.setattr(DF, "count", recording_count)
    out = run_crawl(
        spark, str(tmp_path / "wd"), docs_df, robots_df, seeds,
        CrawlConfig(max_pages=10, max_rounds=1, n_host_buckets=4),
    )
    monkeypatch.undo()
    assert out["rounds"][0]["fresh"] > 0  # the round did discover links

    links = [p for label, p in plans if label == "links"]
    assert len(links) == 1
    nodes = _python_nodes(links[0])
    assert len(nodes) == 1, nodes
    (node,) = nodes
    assert node.startswith("ArrowEvalPython [link_urls_udf("), node
    results = node.split("], [", 1)[1]
    assert len(re.findall(r"pythonUDF\d+#", results)) == 1, node
    labels = {label for label, _ in plans}
    assert {"frontier", "url_seen", "collect"} <= labels, labels
    for label, plan in plans:
        assert _python_nodes(plan) <= nodes, (label, _python_nodes(plan) - nodes)
