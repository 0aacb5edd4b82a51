"""The benchmark's workloads: inputs from a seed, timed calls, oracle checks.

crawl-wide  run_crawl over a generated corpus; every host root is a seed.
frontier    the isolated schedule + dedup core over a synthetic frontier.

Expected values come from ``oracle.simulator.CrawlSimulator`` (crawl) or
from the way the inputs were generated (frontier), never from the code
under test.

Every timed section is metered twice: wall seconds and the CPU seconds of
the run's processes (driver, JVM, Python workers). The gated end-to-end
metrics are the CPU ones; the wall ones are reported beside them. On a
shared host the hypervisor's CPU steal swings the wall time of the same
run by more than half while its CPU time moves by a few percent.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import Counter
from types import SimpleNamespace

from proc import host_ticks, steal_frac

# crawl-wide corpus and schedule: hosts x pages, rounds measured after the
# warm-up round; delays and robots rules are as gen_corpus draws them
CRAWL_HOSTS, CRAWL_PAGES, CRAWL_ROUNDS = 400, 10, 1
CRAWL_CFG = dict(max_depth=3, max_pages=1_000_000, default_delay=1.0, horizon=30.0)
# frontier core: rows in the frontier, the seen set and the candidate set
FRONTIER_URLS, FRONTIER_HOSTS, HOT_HOSTS = 200_000, 10_000, 8
HOST_BUDGET = 64       # per-host admission limit of the schedule
WARMUP_REPS, MIN_REPS = 1, 3
FRONTIER_READ_SETS = 5  # the frontier reader set is cheap; its median set counts
REGISTRATIONS = 3      # input registration repeats; setup takes the median
BUCKETS = 16

END_TO_END = ("setup_s", "cpu_ms_per_item", "read_cpu_s")
SINKS = ("crawl_order", "pages", "errors", "media", "word_frequencies", "links")
READERS = ("queue_health", "top_words", "hot_hosts", "per_round_metrics",
           "read_as_of", "curate_crawl")
# every traced run reports all of these; a workload that never calls a
# layer reports 0 for it (the README's table says which workload feeds which)
PER_LAYER = {
    "spark.session_s": "s", "spark.warmup_s": "s", "spark.peak_rss_mb": "MB",
    "engine.init_state_s": "s",
    "round.wall_s_p50": "s", "round.self_s_p50": "s",
    "round.jobs": "count", "round.stages": "count",
    "ordering.with_global_seq_s": "s", "ordering.top_per_key_build_s": "s",
    "ordering.admitted_per_pending": "ratio", "ordering.schedule_s_p50": "s",
    **{f"tables.append_{t}_s": "s" for t in SINKS},
    "tables.replace_buckets_s": "s", "tables.seen_append_s": "s",
    "tables.read_s": "s", "tables.commit_s": "s", "tables.seen_dedup_s_p50": "s",
    "tables.files_per_round": "count", "tables.bytes_per_page": "B",
    "tables.dirty_buckets_per_round": "count",
    "urls.links_per_page": "ratio", "urls.fresh_per_link": "ratio",
    "text.words_per_page": "ratio",
    **{f"read.{r}_s": "s" for r in READERS},
    "trace.items_per_s": "1/s", "trace.cpu_ms_per_item": "ms",
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Meter:
    """Wall and CPU seconds of one interval, and the host's steal share.
    ``cpu`` is the run's CPU clock (proc.RunCpu)."""

    def __init__(self, cpu):
        self._clock = cpu

    def __enter__(self):
        self._ticks = host_ticks()
        self._cpu = self._clock()
        self._t = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self._t
        self.cpu = self._clock() - self._cpu
        self.steal = steal_frac(self._ticks, host_ticks())
        return False


def _register(run, paths):
    """Input registration: read each materialized input and scan it once.
    Repeated; returns the DataFrames and the median Meter by CPU."""
    meters, dfs = [], None
    for _ in range(REGISTRATIONS):
        with Meter(run.cpu) as m:
            dfs = [run.spark.read.parquet(p) for p in paths]
            for df in dfs:
                df.count()
        meters.append(m)
    return dfs, sorted(meters, key=lambda m: m.cpu)[len(meters) // 2]


def _read_set(run, readers, checks):
    """Run the reader set once. Each call is one operation, checked against
    ``checks[name]`` after the set's meter stops. Returns the set's Meter
    and the wall seconds per reader."""
    got, per = {}, {}
    with Meter(run.cpu) as m, run.tracer.span("read"):
        for name, fn in readers.items():
            t = time.perf_counter()
            try:
                with run.tracer.span(f"read.{name}"):
                    got[name] = fn()
            except Exception as e:  # a failed reader call, counted below
                got[name] = e
            per[name] = time.perf_counter() - t
    for name, res in got.items():
        if isinstance(res, Exception):
            run.op(f"read.{name}", False, repr(res))
        else:
            run.op(f"read.{name}", checks[name](res), f"{name} differs from the oracle")
    return m, per


def _report(run, startup, register, warmup, steps, items_per_step, reads, names):
    """The end-to-end metrics (CPU, gated), their wall-time twins named as
    the workload names them, and the trace overhead comparators. ``steps``
    are the Meters of the measured rounds or reps and ``reads`` those of
    the reader sets; each metric takes the median."""
    item_name, step_name = names
    step_cpu = _median([m.cpu for m in steps])
    step_wall = _median([m.wall for m in steps])
    read = sorted(reads, key=lambda m: m.cpu)[len(reads) // 2]
    run.metric("setup_s", startup.cpu + register.cpu + warmup.cpu, "s", 1)
    run.metric("cpu_ms_per_item", 1000 * step_cpu / items_per_step, "ms", len(steps))
    run.metric("read_cpu_s", read.cpu, "s", len(reads))
    run.details.update({
        "wall": {
            "setup_s": {"value": startup.wall + register.wall + warmup.wall, "unit": "s", "n": 1},
            item_name: {"value": items_per_step / step_wall, "unit": "1/s", "n": len(steps)},
            step_name: {"value": step_wall, "unit": "s", "n": len(steps)},
            "read_s": {"value": read.wall, "unit": "s", "n": len(reads)},
        },
        "steal_frac": {"warmup": warmup.steal, "steps": [m.steal for m in steps],
                       "read": read.steal},
        "steps": [{"wall_s": m.wall, "cpu_s": m.cpu} for m in steps],
        "items_per_step": items_per_step,
    })
    run.layer.update({
        "trace.items_per_s": items_per_step / step_wall,
        "trace.cpu_ms_per_item": 1000 * step_cpu / items_per_step,
    })


def _dir_files(path):
    """(part-file count, bytes) under a data dir."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.startswith("part-"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


# -- crawl-wide ----------------------------------------------------------------


def _crawl_inputs(seed, hosts, pages):
    from crawler_spark.sources.corpus import gen_corpus

    docs, _, robots = gen_corpus(hosts=hosts, pages_per_host=pages, seed=seed)
    seeds = [{"url": f"http://host{h}.test/", "priority": 10, "depth": 0}
             for h in range(hosts)]
    return docs, seeds, robots


def _materialize(docs, robots, where, files=8):
    """Write the generated corpus as parquet with pyarrow: no Spark job, so
    the materialization does not warm the JVM before setup is timed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    doc_schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span)),
                            ("content_type", pa.string()), ("size_bytes", pa.int64())])
    robots_schema = pa.schema([("host", pa.string()), ("user_agent", pa.string()),
                               ("path_prefix", pa.string()), ("allow", pa.bool_()),
                               ("crawl_delay", pa.float64()), ("rule_order", pa.int32())])
    paths = [os.path.join(where, "documents"), os.path.join(where, "robots")]
    for p in paths:
        os.makedirs(p)
    for i in range(files):
        pq.write_table(pa.Table.from_pylist([
            {"doc_id": d["doc_id"], "spans": d["spans"],
             "content_type": d.get("content_type", "text/html"),
             "size_bytes": d.get("size_bytes", 0)} for d in docs[i::files]
        ], schema=doc_schema), os.path.join(paths[0], f"part-{i:05d}.parquet"))
    pq.write_table(pa.Table.from_pylist(
        [{**r, "rule_order": r.get("rule_order", 0)} for r in robots], schema=robots_schema,
    ), os.path.join(paths[1], "part-00000.parquet"))
    return paths


def _crawl_targets():
    """Public functions wrapped in spans in a traced crawl (see spans.py)."""
    import crawler_spark.plans.engine as engine
    import crawler_spark.plans.round as rnd
    from crawler_spark.tables import RoundCommit, SnapshotCatalog

    return [
        (engine, "init_state", "engine.init_state"),
        (rnd, "top_per_key", "ordering.top_per_key"),
        (rnd, "with_global_seq", "ordering.with_global_seq"),
        (RoundCommit, "stage_append", lambda self, table, *a, **k: f"tables.append_{table}"),
        (RoundCommit, "stage_replace", lambda self, table, *a, **k: f"tables.replace_{table}"),
        (RoundCommit, "stage_replace_buckets", "tables.replace_buckets"),
        (RoundCommit, "stage_seen_init", "tables.seen_init"),
        (RoundCommit, "stage_seen_append", "tables.seen_append"),
        (RoundCommit, "commit", "tables.commit"),
        (SnapshotCatalog, "read", "tables.read"),
    ]


def _crawl_readers(spark, wd, last_round):
    from crawler_spark import analytics
    from crawler_spark.tables import SnapshotCatalog

    return {
        "queue_health": lambda: analytics.queue_health(spark, wd),
        "top_words": lambda: [tuple(r) for r in analytics.top_words(spark, wd).collect()],
        "hot_hosts": lambda: [tuple(r) for r in analytics.hot_hosts(spark, wd).collect()],
        "per_round_metrics": lambda: sorted(
            (r["round"], r["scheduled"]) for r in analytics.per_round_metrics(spark, wd).collect()
        ),
        "read_as_of": lambda: SnapshotCatalog(wd).read_as_of(spark, "url_seen", last_round).count(),
    }


def _crawl_reader_expect(sim):
    """Checks of each reader's result against the oracle's final state."""
    statuses = Counter(e.status for e in sim.frontier.values())
    totals, reach = Counter(), Counter()
    for freq in sim.word_freq.values():
        for w, n in freq.items():
            totals[w] += n
            reach[w] += 1
    top = sorted(totals, key=lambda w: (-totals[w], w))[:20]
    hosts = Counter(e.host for e in sim.frontier.values())
    n = len(sim.frontier)
    per_round = Counter(r for r, _, _ in sim.crawl_order)
    counts = ("pending", "completed", "failed", "skipped")
    return {
        "queue_health": lambda q: [q["total_urls"], *(q[k] for k in counts)]
        == [n, *(statuses.get(k, 0) for k in counts)],
        "top_words": lambda got: got == [(w, totals[w], reach[w]) for w in top],
        "hot_hosts": lambda got: got == sorted(
            ((h, c) for h, c in hosts.items() if c * 20 > n), key=lambda x: (-x[1], x[0])
        ),
        "per_round_metrics": lambda got: got == sorted(per_round.items()),
        "read_as_of": lambda got: got == len(sim.url_seen),
        "curate_crawl": lambda got: got["kept"] + sum(got["dropped"].values()) == len(sim.texts),
    }


def crawl_wide(run, workdir, startup):
    from crawler_spark.config import CrawlConfig
    from crawler_spark.operators.pipeline import curate_crawl
    from crawler_spark.plans import engine
    from crawler_spark.plans.engine import (
        read_crawl_order, read_frontier_statuses, read_url_seen, run_crawl,
    )
    from oracle.simulator import CrawlSimulator, SimConfig

    spark, tracer, seed = run.spark, run.tracer, run.args.seed
    rounds = 1 + CRAWL_ROUNDS  # round 0 is the warm-up
    docs, seeds, robots = _crawl_inputs(seed, CRAWL_HOSTS, CRAWL_PAGES)
    sim = CrawlSimulator(docs, seeds, robots, SimConfig(max_rounds=rounds, **CRAWL_CFG)).run()
    paths = _materialize(docs, robots, os.path.join(workdir, "inputs"))
    run.mark("inputs")
    (docs_df, robots_df), register = _register(run, paths)
    run.mark("register")
    wd = os.path.join(workdir, "crawl")

    def cfg(max_rounds):
        return CrawlConfig(max_rounds=max_rounds, n_host_buckets=BUCKETS,
                           n_seen_buckets=BUCKETS, **CRAWL_CFG)

    steps = []
    run_round = engine.run_round

    def metered_round(*a, **k):
        with Meter(run.cpu) as m:
            res = run_round(*a, **k)
        steps.append(m)
        return res

    with tracer.instrument(_crawl_targets() if run.args.trace else []):
        # warm-up: round 0 of this crawl (init_state + the seed round), the
        # process's first execution of every round plan
        with Meter(run.cpu) as warmup, tracer.span("setup.warmup"):
            run_crawl(spark, wd, docs_df, robots_df, seeds, cfg(1))
        run.mark("warmup")
        engine.run_round = tracer.wrap(metered_round, "round")
        try:
            with tracer.span("crawl"):
                summary = run_crawl(spark, wd, docs_df, robots_df, seeds, cfg(rounds))
        finally:
            engine.run_round = run_round
        run.mark("crawl")
        expect = _crawl_reader_expect(sim)
        read, read_times = _read_set(run, _crawl_readers(spark, wd, summary["last_round"]), expect)
        if run.args.trace:
            # the operators.pipeline reader, traced runs only: its cost
            # would push an untraced crawl-wide run past the time budget
            read_times.update(_read_set(run, {"curate_crawl": lambda: curate_crawl(
                spark, wd, os.path.join(workdir, "curated"), n_shards=4)}, expect)[1])
    run.mark("read")

    # -- oracle checks (outside every timed section) --------------------------
    by_round, sim_round = {}, {}
    for row in read_crawl_order(spark, wd):
        by_round.setdefault(row[0], []).append(row)
    for row in sim.crawl_order:
        sim_round.setdefault(row[0], []).append(row)
    for r in range(rounds):
        run.op(f"round {r}", by_round.get(r, []) == sim_round.get(r, []),
               "crawl-order segment differs from the oracle")
    run.op("url_seen", read_url_seen(spark, wd) == sim.url_seen, "url_seen differs")
    want_status = {c: e.status for c, e in sim.frontier.items()}
    run.op("frontier statuses", read_frontier_statuses(spark, wd) == want_status,
           "frontier statuses differ")
    run.mark("check")

    pages = sum(r["scheduled"] for r in summary["rounds"])
    run.op("measured rounds", len(summary["rounds"]) == CRAWL_ROUNDS and pages > 0,
           f"measured rounds {[r['round'] for r in summary['rounds']]}")
    _report(run, startup, register, warmup, steps, pages / len(steps), [read],
            ("pages_per_s", "round_s_p50"))
    run.details["read_s_by_reader"] = read_times
    if run.args.trace:
        _crawl_layers(run, wd, summary, warmup, read_times)


def _crawl_layers(run, wd, summary, warmup, read_times):
    """Per-layer metrics of a traced crawl: times from spans, ratios and
    counts from the committed manifests and snapshots after the run."""
    from pyspark.sql import functions as F

    from crawler_spark.tables import SnapshotCatalog

    spark, tr = run.spark, run.tracer
    inside = tr.descendants(tr.named("crawl")[0])
    rounds = [s for s in inside if s.name == "round"]

    def total(name, spans=inside):
        return sum(s.dur for s in spans if s.name == name)

    for i, r in enumerate(rounds):
        run.op(f"trace round {i}", tr.check_nesting(r), "child spans overlap or leave the round")
    sched = [
        total("ordering.top_per_key", tr.children(r)) + total("ordering.with_global_seq", tr.children(r))
        for r in rounds
    ]

    cat = SnapshotCatalog(wd)
    hist = {m["round"]: m for m in cat.metrics_history() if "scheduled" in m}
    measured = [r["round"] for r in summary["rounds"]]
    files = size = 0
    for _, m in cat.snapshot_chain():
        if m["round"] not in measured:
            continue
        for ops in m.get("lineage", {}).values():
            for op in ops:
                if "dir" in op:
                    n, b = _dir_files(os.path.join(wd, op["dir"]))
                else:  # seen append: the new part-files of the bucketed table
                    d = os.path.join(wd, m["seen"]["dir"])
                    n = len(op["files"])
                    b = sum(os.path.getsize(os.path.join(d, f)) for f in op["files"])
                files += n
                size += b
    pages = sum(hist[r]["scheduled"] for r in measured)
    completed = sum(hist[r]["completed"] for r in measured)
    fresh = sum(hist[r]["fresh"] for r in measured)
    pending = sum(
        cat.read_as_of(spark, "frontier", r - 1).where(
            (F.col("status") == "pending") & (F.col("scheduled_at") <= r * CRAWL_CFG["horizon"])
        ).count()
        for r in measured
    )
    links = cat.read(spark, "links").where(F.col("round").isin(measured)).count()
    words = (
        cat.read(spark, "word_frequencies").where(F.col("round").isin(measured))
        .agg(F.sum("frequency")).collect()[0][0] or 0
    )
    run.layer.update({
        "spark.session_s": run.session_s,
        "spark.warmup_s": warmup.wall,
        "engine.init_state_s": total("engine.init_state", tr.spans),
        "round.wall_s_p50": _median([r.dur for r in rounds]),
        "round.self_s_p50": _median([tr.self_time(r) for r in rounds]),
        "round.jobs": _median([tr.jobs_total(r)[0] for r in rounds]),
        "round.stages": _median([tr.jobs_total(r)[1] for r in rounds]),
        "ordering.with_global_seq_s": total("ordering.with_global_seq"),
        "ordering.top_per_key_build_s": total("ordering.top_per_key"),
        "ordering.admitted_per_pending": pages / pending if pending else 0.0,
        "ordering.schedule_s_p50": _median(sched),
        **{f"tables.append_{t}_s": total(f"tables.append_{t}") for t in SINKS},
        "tables.replace_buckets_s": total("tables.replace_buckets"),
        "tables.seen_append_s": total("tables.seen_append"),
        "tables.read_s": total("tables.read"),
        "tables.commit_s": total("tables.commit"),
        "tables.files_per_round": files / len(measured),
        "tables.bytes_per_page": size / pages if pages else 0.0,
        "tables.dirty_buckets_per_round": _median([hist[r]["dirty_buckets"] for r in measured]),
        "urls.links_per_page": links / completed if completed else 0.0,
        "urls.fresh_per_link": fresh / links if links else 0.0,
        "text.words_per_page": words / completed if completed else 0.0,
        **{f"read.{k}_s": v for k, v in read_times.items()},
    })


# -- frontier ------------------------------------------------------------------


def _frontier_rows(spark, n, seed):
    """Seed-salted synthetic pending frontier (the shape of the repo's
    frontier microbench: ~25% of rows on HOT_HOSTS hosts)."""
    from pyspark.sql import functions as F

    from crawler_spark.functions.urls import host_bucket_col, url_hash_col
    from crawler_spark.plans.round import FRONTIER_COLS

    def h(salt):
        return F.xxhash64("id", F.lit(seed * 16 + salt))

    is_hot = F.pmod(h(1), 4) == 0
    host_id = F.when(is_hot, F.pmod(h(2), HOT_HOSTS)).otherwise(F.pmod(h(3), FRONTIER_HOSTS))
    host = F.concat(F.lit("host"), host_id.cast("string"), F.lit(".test"))
    canonical = F.concat(F.lit("http://"), host, F.lit(f"/s{seed}/p"), F.col("id").cast("string"))
    return spark.range(n).select(
        canonical.alias("url"), canonical.alias("canonical"), host.alias("host"),
        F.pmod(h(5), 4).cast("int").alias("depth"),
        F.pmod(h(4), 10).cast("int").alias("priority"),
        F.lit(None).cast("string").alias("parent"),
        F.col("id").alias("discovered_at"),
        F.lit(0).alias("attempts"), F.lit(0.0).alias("scheduled_at"),
        F.lit("pending").alias("status"),
    ).withColumn("url_hash", url_hash_col(F.col("canonical"))).withColumn(
        "host_bucket", host_bucket_col(F.col("host"), BUCKETS)
    ).select(*FRONTIER_COLS)


def _seen_rows(spark, lo, hi, seed):
    from pyspark.sql import functions as F

    from crawler_spark.functions.urls import url_hash_col

    host = F.pmod(F.xxhash64("id", F.lit(seed * 16 + 7)), FRONTIER_HOSTS).cast("string")
    canonical = F.concat(F.lit("http://host"), host, F.lit(f".test/s{seed}/u"), F.col("id").cast("string"))
    return spark.range(lo, hi).select(
        url_hash_col(canonical).alias("url_hash"), canonical.alias("canonical")
    )


def _frontier_catalog(spark, where, n, seed):
    """A committed catalog holding the frontier and a same-size url_seen
    set, plus a candidate set half of which is already seen."""
    from crawler_spark.tables import SnapshotCatalog

    cand_path = os.path.join(where, "candidates")
    _seen_rows(spark, n // 2, n + n // 2, seed).repartition(16).write.parquet(cand_path)
    cat = SnapshotCatalog(os.path.join(where, "catalog"))
    commit = cat.begin(-1)
    commit.stage_replace("frontier", _frontier_rows(spark, n, seed), partition_by=["host_bucket"])
    commit.stage_seen_init(spark, _seen_rows(spark, 0, n, seed), buckets=BUCKETS)
    commit.commit()
    return cat, cand_path


def _expected_schedule(spark, n, seed):
    """Independent count of what the schedule must admit: per host,
    min(rows, budget), from a plain groupBy over the generated rows."""
    from pyspark.sql import functions as F

    return (
        _frontier_rows(spark, n, seed).groupBy("host").count()
        .agg(F.sum(F.least(F.col("count"), F.lit(HOST_BUDGET)))).collect()[0][0]
    )


def frontier(run, workdir, startup):
    from pyspark.sql import functions as F

    from crawler_spark import analytics
    from crawler_spark.operators.ordering import release_global_seq, top_per_key, with_global_seq
    from crawler_spark.plans.round import order_exprs

    spark, tracer, seed, n = run.spark, run.tracer, run.args.seed, FRONTIER_URLS
    top_per_key = tracer.wrap(top_per_key, "ordering.top_per_key")
    with_global_seq = tracer.wrap(with_global_seq, "ordering.with_global_seq")

    cat, cand_path = _frontier_catalog(spark, workdir, n, seed)
    expected_sched = _expected_schedule(spark, n, seed)
    run.mark("inputs")
    _, register = _register(run, [os.path.join(cat.root, "frontier"), cand_path])
    run.mark("register")

    def rep(label):
        """One schedule, then one dedup; checked after their meters stop."""
        with tracer.span(label):
            with Meter(run.cpu) as sched, tracer.span("schedule"):
                with tracer.span("tables.read"):
                    fr = cat.read(spark, "frontier")
                admitted = top_per_key(
                    fr, key="host", order_exprs=order_exprs(), limit_col=F.lit(HOST_BUDGET),
                    salt_on="canonical", salt_buckets=8, prune_col="priority",
                    prune_max=HOST_BUDGET,
                )
                seq = with_global_seq(admitted, order_exprs(), seq_col="seq")
                cnt = seq.count()
            lo, hi, distinct = seq.agg(
                F.min("seq"), F.max("seq"), F.count_distinct("seq")).collect()[0]
            release_global_seq(seq)
            with Meter(run.cpu) as dedup, tracer.span("dedup"):
                with tracer.span("tables.read"):
                    seen = cat.read_seen(spark)
                cand = spark.read.parquet(cand_path)
                fresh = cand.join(
                    seen.hint("shuffle_hash"),
                    (cand.url_hash == seen.url_hash) & (cand.canonical == seen.canonical),
                    "left_anti",
                ).count()
        why = []
        if cnt != expected_sched:
            why.append(f"scheduled {cnt} != {expected_sched}")
        if cnt and (lo, hi, distinct) != (0, cnt - 1, cnt):
            why.append("seq does not run contiguously from 0")
        if fresh != n - n // 2:
            why.append(f"fresh {fresh} != {n - n // 2}")
        run.op(label, not why, "; ".join(why))
        return cnt, sched, dedup

    # warm-up: untimed schedule + dedup passes over the same catalog, the
    # process's first executions of both plans
    with Meter(run.cpu) as warmup, tracer.span("setup.warmup"):
        for _ in range(WARMUP_REPS):
            rep("warm-up rep")
    run.mark("warmup")
    reps = []
    t_end = time.perf_counter() + run.args.seconds
    with tracer.span("reps"):
        while len(reps) < MIN_REPS or time.perf_counter() < t_end:
            reps.append(rep("rep"))
    run.mark("reps")
    readers = {
        "queue_health": lambda: analytics.queue_health(spark, cat.root),
        "read_as_of": lambda: cat.read_as_of(spark, "url_seen", -1).count(),
    }
    checks = {
        "queue_health": lambda q: q["total_urls"] == n and q["pending"] == n,
        "read_as_of": lambda c: c == n,
    }
    sets = [_read_set(run, readers, checks) for _ in range(FRONTIER_READ_SETS)]
    read_times = {name: _median([per[name] for _, per in sets]) for name in readers}
    run.mark("read")

    scheduled = reps[-1][0]
    steps = [SimpleNamespace(wall=s.wall + d.wall, cpu=s.cpu + d.cpu, steal=s.steal)
             for _, s, d in reps]
    # items: scheduled + candidates per rep, as the BASELINE.json metric counts
    _report(run, startup, register, warmup, steps, scheduled + n, [m for m, _ in sets],
            ("urls_per_s", "rep_s_p50"))
    med_s = _median([s.wall for _, s, _ in reps])
    med_d = _median([d.wall for _, _, d in reps])
    run.details.update({
        "urls_per_s_baseline": (scheduled + n) / (med_s + med_d),
        "scheduled": scheduled, "candidates": n, "read_s_by_reader": read_times,
    })
    if run.args.trace:
        inside = [s for r in tracer.named("rep") for s in tracer.descendants(r)]

        def total(name):
            return sum(s.dur for s in inside if s.name == name)

        run.layer.update({
            "spark.session_s": run.session_s,
            "spark.warmup_s": warmup.wall,
            "ordering.with_global_seq_s": total("ordering.with_global_seq"),
            "ordering.top_per_key_build_s": total("ordering.top_per_key"),
            "ordering.admitted_per_pending": scheduled / n,
            "ordering.schedule_s_p50": med_s,
            "tables.read_s": total("tables.read"),
            "tables.seen_dedup_s_p50": med_d,
            **{f"read.{k}_s": v for k, v in read_times.items()},
        })


WORKLOADS = {"crawl-wide": crawl_wide, "frontier": frontier}
