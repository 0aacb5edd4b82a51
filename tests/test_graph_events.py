"""Semantics tests for the link-graph and event-stream operators on
hand-built fixtures with known answers (the oracle rows pin engine parity;
these pin what the numbers MEAN)."""

from __future__ import annotations

from datetime import datetime, timedelta

from crawler_spark.operators.events import sessionize, transition_counts
from crawler_spark.operators.graph import PR_SCALE, pagerank


def test_pagerank_star_graph(spark):
    # hub 0 receives from 1..4; each spoke also links to the next spoke, so
    # every node has out-edges and the hub must dominate.
    edges = [(i, 0) for i in range(1, 5)] + [(i, i % 4 + 1) for i in range(1, 5)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    ranks = {r["node"]: r["pr"] for r in pagerank(df, n_iter=5).collect()}
    assert set(ranks) == {0, 1, 2, 3, 4}
    assert all(ranks[0] > ranks[i] for i in range(1, 5))
    # spokes are symmetric by construction -> identical integer ranks
    assert len({ranks[i] for i in range(1, 5)}) == 1


def test_pagerank_integer_recurrence_exact(spark):
    # 2-cycle: both nodes keep full rank; recurrence is checkable by hand.
    #   r0 = SCALE; r_i = (15*SCALE)//100 + (85 * r_{i-1}) // 100
    df = spark.createDataFrame([(0, 1), (1, 0)], ["src", "dst"])
    got = {r["node"]: r["pr"] for r in pagerank(df, n_iter=3).collect()}
    r = PR_SCALE
    for _ in range(3):
        r = (15 * PR_SCALE) // 100 + (85 * r) // 100
    assert got == {0: r, 1: r}


def test_pagerank_sink_gets_teleport_only(spark):
    # 0 -> 1: node 0 has no in-edges, so after iteration 1 it holds exactly
    # the teleport mass (dangling mass from 1 is dropped by design).
    df = spark.createDataFrame([(0, 1)], ["src", "dst"])
    got = {r["node"]: r["pr"] for r in pagerank(df, n_iter=2).collect()}
    assert got[0] == (15 * PR_SCALE) // 100


def test_fixed_iteration_loops_truncate_lineage_past_eight(spark):
    """One lineage rule for every fixed-iteration loop: at n_iter=5 the
    plans stay lazy (no localCheckpointed LogicalRDD leaf), at n_iter=9
    they carry one. Plan-only; values under checkpointing are pinned by
    test_pagerank_long_run_auto_checkpoint."""
    from pyspark.sql import functions as F

    from crawler_spark.operators.graph import label_propagation, opic, trustrank

    # range-built (not createDataFrame) so the input itself is no LogicalRDD
    edges = spark.range(11).select(
        F.col("id").alias("src"), ((F.col("id") * 7 + 3) % 11).alias("dst")
    ).where("src != dst")
    seeds = spark.range(2).select(F.col("id").alias("node"))
    builders = {
        "pagerank": lambda n: pagerank(edges, n_iter=n),
        "trustrank": lambda n: trustrank(edges, seeds, n_iter=n),
        "opic": lambda n: opic(edges, n_iter=n),
        "label_propagation": lambda n: label_propagation(edges, n_iter=n),
    }

    def plan(df):
        return df._jdf.queryExecution().analyzed().toString()

    for name, build in builders.items():
        assert "LogicalRDD" not in plan(build(5)), name
        assert "LogicalRDD" in plan(build(9)), name


def test_pagerank_long_run_auto_checkpoint(spark):
    """20 iterations under the lineage rule (localCheckpoint every 3rd
    iteration once n_iter > 8): must complete without lineage explosion AND
    produce exactly the closed-form integer recurrence (a checkpoint must
    never change values). The 2-cycle recurrence at 20 steps is where an
    unchecked 20-deep join lineage becomes pathological (VERDICT r3 #3)."""
    df = spark.createDataFrame([(0, 1), (1, 0)], ["src", "dst"])
    got = {r["node"]: r["pr"] for r in pagerank(df, n_iter=20).collect()}
    r = PR_SCALE
    for _ in range(20):
        r = (15 * PR_SCALE) // 100 + (85 * r) // 100
    assert got == {0: r, 1: r}


def _ts(s: int) -> datetime:
    return datetime(2026, 1, 1, 0, 0, 0) + timedelta(seconds=s)


def test_sessionize_gap_boundary(spark):
    # gap == gap_sec stays in-session; gap_sec + 1 splits.
    rows = [
        (1, 10, _ts(0)),
        (1, 11, _ts(1800)),   # exactly the gap: same session
        (1, 12, _ts(3601)),   # 1801s after previous: new session
        (2, 20, _ts(50)),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "ts"])
    out = {
        (r["user_id"], r["session_idx"]): (r["n_events"], r["duration_s"])
        for r in sessionize(df, gap_sec=1800).collect()
    }
    assert out[(1, 1)] == (2, 1800)
    assert out[(1, 2)] == (1, 0)
    assert out[(2, 1)] == (1, 0)


def test_sessionize_ties_break_by_event_id(spark):
    # two events at the identical timestamp must land in one session and
    # count once each, regardless of physical row order.
    rows = [(1, 2, _ts(0)), (1, 1, _ts(0)), (1, 3, _ts(10))]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "ts"]).repartition(3)
    out = sessionize(df, gap_sec=60).collect()
    assert len(out) == 1 and out[0]["n_events"] == 3


def test_transition_counts(spark):
    rows = [
        (1, 1, _ts(0), "view"),
        (1, 2, _ts(10), "click"),
        (1, 3, _ts(20), "view"),
        (2, 4, _ts(0), "view"),
        (2, 5, _ts(5), "click"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "ts", "event_type"])
    got = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in transition_counts(df).collect()
    }
    assert got == {("view", "click"): 2, ("click", "view"): 1}


def test_triangles_known_graph(spark):
    # K4 on {1,2,3,4} (4 triangles, every node in 3) plus a pendant 4-5
    # (node 5: degree 1, no triangle; node 4's cc drops to 3/6).
    from crawler_spark.operators.graph import clustering_summary, triangles_per_node

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 4)],
        "src long, dst long",
    )
    per = {r.node: (r.degree, r.tri) for r in triangles_per_node(edges).collect()}
    assert per == {1: (3, 3), 2: (3, 3), 3: (3, 3), 4: (4, 3), 5: (1, 0)}
    cc = {r.node: r.cc_micro for r in clustering_summary(edges).collect()}
    assert cc[1] == 1_000_000 and cc[4] == 500_000 and cc[5] == 0


def test_triangles_match_naive_on_random_graph(spark):
    # degree-ordered orientation vs the naive lo<mid<hi three-way join.
    from pyspark.sql import functions as F

    from crawler_spark.operators.graph import triangles_per_node, undirect

    edges = spark.range(400).select(
        (F.col("id") % 30).alias("src"),
        F.pmod(F.xxhash64("id"), F.lit(30)).alias("dst"),
    )
    per = triangles_per_node(edges)
    und = undirect(edges)
    e1 = und.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = und.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    e3 = und.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    tris = e1.join(e2, "b").join(e3, ["a", "c"])
    naive = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("tri"))
    )
    got = {r.node: r.tri for r in per.where(F.col("tri") > 0).collect()}
    want = {r.node: r.tri for r in naive.collect()}
    assert got == want and len(want) > 0


def test_hits_star_graph(spark):
    # 1 -> {2,3,4}: node 1 is the pure hub, 2/3/4 the pure authorities.
    from crawler_spark.operators.graph import HITS_SCALE, hits

    edges = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], "src long, dst long")
    got = {r.node: (r.auth, r.hub) for r in hits(edges, n_iter=2).collect()}
    assert got[1] == (0, HITS_SCALE)
    assert got[2] == got[3] == got[4] == (HITS_SCALE, 0)


def test_hits_deterministic_across_partitionings(spark):
    from pyspark.sql import functions as F

    from crawler_spark.operators.graph import hits

    edges = spark.range(300).select(
        (F.col("id") % 40).alias("src"),
        F.pmod(F.xxhash64("id"), F.lit(40)).alias("dst"),
    )
    a = sorted(map(tuple, hits(edges.repartition(1), n_iter=3).collect()))
    b = sorted(map(tuple, hits(edges.repartition(16, "dst"), n_iter=3).collect()))
    assert a == b


def test_recrawl_change_stats_semantics(spark):
    # page 1: A,A,B,B,A over 5 visits -> 2 changes; page 2: single visit,
    # excluded by min_visits; page 3: never changes -> ratio 0.
    from crawler_spark.operators.recrawl import change_stats, recrawl_priority

    rows = [
        (1, 100, "A"), (1, 200, "A"), (1, 300, "B"), (1, 400, "B"), (1, 500, "A"),
        (2, 100, "X"),
        (3, 100, "C"), (3, 900, "C"),
    ]
    df = spark.createDataFrame(rows, "page_id long, s long, fp string")
    st = {r.page_id: (r.visits, r.changes) for r in
          change_stats(df, ts_col="s", fp_col="fp").collect()}
    assert st == {1: (5, 2), 2: (1, 0), 3: (2, 0)}
    pr = {r.page_id: (r.change_ratio_micro, r.age_s, r.score) for r in
          recrawl_priority(df, ts_col="s", fp_col="fp").collect()}
    assert 2 not in pr
    # page 1: ratio 2/4 = 500000 micro, age 900-500=400 -> score 2e8
    assert pr[1] == (500_000, 400, 200_000_000)
    assert pr[3] == (0, 0, 0)


def test_budget_allocation_sums_to_budget(spark):
    """Hamilton largest-remainder: quotas sum EXACTLY to the budget and
    each host gets floor or floor+1 of its proportional share."""
    from crawler_spark.queries import REGISTRY

    rows = REGISTRY["budget_allocation"].fn(spark, "/root/testdata/sf0.001").collect()
    total_pending = sum(r.pending for r in rows)
    assert sum(r.quota for r in rows) == 1000
    for r in rows:
        base = (1000 * r.pending) // total_pending
        assert r.quota in (base, base + 1), r


def test_hyperball_exact_on_small_ball(spark):
    # With few distinct elements every ball sketch has no register
    # collisions at m=64... but the HLL estimate is biased at tiny n, so
    # check the REGISTERS: state(v) after r rounds must equal the HLL
    # registers of the exact ball set (the defining invariant).
    from pyspark.sql import functions as F

    from crawler_spark.operators.graph import hyperball_registers
    from crawler_spark.operators.sketches import hll_registers

    # path 1->2->3->4 plus 1->3: ball2(1) = {1,2,3,4}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3)], "src long, dst long"
    )
    state = {
        (r.node, r.register): r.rho_max
        for r in hyperball_registers(edges, radius=2).collect()
    }
    for node, ball in {1: [1, 2, 3, 4], 2: [2, 3, 4], 3: [3, 4], 4: [4]}.items():
        df = spark.createDataFrame([(b,) for b in ball], "node long")
        want = {
            (node, r.register): r.rho_max
            for r in hll_registers(df, "node").collect()
        }
        got = {k: v for k, v in state.items() if k[0] == node}
        assert got == want, node


def test_trustrank_unreachable_nodes_get_zero(spark):
    from crawler_spark.operators.graph import trustrank

    # component A: seed 0 -> 1 -> 2 (back to 0); component B: 3 <-> 4
    edges = [(0, 1), (1, 2), (2, 0), (3, 4), (4, 3)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    seeds = spark.createDataFrame([(0,)], ["node"])
    t = {r["node"]: r["trust"] for r in trustrank(df, seeds, n_iter=4).collect()}
    assert t[0] > 0 and t[1] > 0 and t[2] > 0
    assert t[3] == 0 and t[4] == 0


def test_trustrank_all_seeds_equals_pagerank(spark):
    from crawler_spark.operators.graph import trustrank

    edges = [(i, 0) for i in range(1, 5)] + [(i, i % 4 + 1) for i in range(1, 5)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    seeds = df.select(df.src.alias("node")).union(df.select(df.dst)).distinct()
    pr = {r["node"]: r["pr"] for r in pagerank(df, n_iter=4).collect()}
    tr = {r["node"]: r["trust"] for r in trustrank(df, seeds, n_iter=4).collect()}
    # uniform teleport == seeded teleport when every node is a seed:
    # identical integer recurrence, identical values
    assert tr == pr


def test_trustrank_seed_recurrence_exact_on_2cycle(spark):
    from crawler_spark.operators.graph import trustrank

    # 0 <-> 1, only 0 seeded: r0 = (SCALE, 0);
    #   r_i(0) = teleport + 85% of r_{i-1}(1); r_i(1) = 85% of r_{i-1}(0)
    df = spark.createDataFrame([(0, 1), (1, 0)], ["src", "dst"])
    seeds = spark.createDataFrame([(0,)], ["node"])
    got = {r["node"]: r["trust"] for r in trustrank(df, seeds, n_iter=3).collect()}
    teleport = (15 * PR_SCALE) // 100
    r = {0: PR_SCALE, 1: 0}
    for _ in range(3):
        r = {
            0: teleport + (85 * r[1]) // 100,
            1: (85 * r[0]) // 100,
        }
    assert got == r


def test_label_propagation_two_cliques(spark):
    from crawler_spark.operators.graph import community_sizes, label_propagation

    tri = lambda base: [(base, base + 1), (base + 1, base + 2), (base + 2, base)]
    df = spark.createDataFrame(tri(0) + tri(10), ["src", "dst"])
    labels = {r["node"]: r["label"] for r in label_propagation(df, n_iter=3).collect()}
    # each triangle collapses to its smallest member's label
    assert {labels[0], labels[1], labels[2]} == {0}
    assert {labels[10], labels[11], labels[12]} == {10}
    sizes = {r["community"]: r["n_members"] for r in community_sizes(df, n_iter=3).collect()}
    assert sizes == {0: 3, 10: 3}


def test_label_propagation_tie_breaks_to_smallest_label(spark):
    from crawler_spark.operators.graph import label_propagation

    # path 0 - 1 - 2: node 1 sees labels {0, 2} once each -> takes 0
    df = spark.createDataFrame([(0, 1), (1, 2)], ["src", "dst"])
    labels = {r["node"]: r["label"] for r in label_propagation(df, n_iter=1).collect()}
    assert labels[1] == 0
    # endpoints see only their single neighbor's label
    assert labels[0] == 1 and labels[2] == 1


def test_opic_cash_conserved_on_2cycle(spark):
    from crawler_spark.operators.graph import opic

    # 0 <-> 1: each round the full cash S swaps sides and S banks into
    # history, so importance = c + h = (i+1) * S exactly on both nodes
    df = spark.createDataFrame([(0, 1), (1, 0)], ["src", "dst"])
    for n in (1, 3):
        got = {r["node"]: r["importance"] for r in opic(df, n_iter=n).collect()}
        assert got == {0: (n + 1) * PR_SCALE, 1: (n + 1) * PR_SCALE}


def test_opic_dangling_cash_drains(spark):
    from crawler_spark.operators.graph import opic

    # 0 -> 1, node 1 dangling: its cash vanishes when distributed
    df = spark.createDataFrame([(0, 1)], ["src", "dst"])
    got = {
        r["node"]: (r["c"], r["h"], r["importance"])
        for r in opic(df, n_iter=2).collect()
    }
    s = PR_SCALE
    assert got[0] == (0, s, s)  # kept its banked round-0 cash only
    assert got[1] == (0, 2 * s, 2 * s)  # banked own + received, then drained


def test_kcore_peels_pendant_keeps_triangle(spark):
    from crawler_spark.operators.graph import kcore_peel

    edges = [(0, 1), (1, 2), (2, 0), (3, 0)]  # triangle + pendant 3
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["degree"] for r in kcore_peel(df, k=2, rounds=2).collect()}
    assert got == {0: 2, 1: 2, 2: 2}
    assert kcore_peel(df, k=3, rounds=2).count() == 0

def test_salsa_degree_damping(spark):
    # hub 1 fans out to {10,11,12,13}; narrow hub 2 endorses only 10.
    # Under SALSA hub 1's mass is divided by outdeg 4 before it travels,
    # so node 10's lead over the co-cited-only clique {11,12,13} is much
    # larger than under HITS (250k+1M vs 250k, against HITS's 2M vs 1M) —
    # the tightly-knit-community damping SALSA exists for. Hub mass itself
    # follows outdegree (the walk's stationary distribution), same top hub
    # in both.
    from crawler_spark.operators.graph import HITS_SCALE, hits, salsa

    edges = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (1, 13), (2, 10)], "src long, dst long"
    )
    s = {r.node: (r.auth, r.hub) for r in salsa(edges, n_iter=2).collect()}
    h = {r.node: (r.auth, r.hub) for r in hits(edges, n_iter=2).collect()}
    assert s[10][0] == HITS_SCALE and h[10][0] == HITS_SCALE
    assert s[11][0] < h[11][0]  # clique authorities damped relative to 10
    assert s[1][1] == HITS_SCALE and s[1][1] > s[2][1] and h[1][1] > h[2][1]


def test_salsa_deterministic_across_partitionings(spark):
    from pyspark.sql import functions as F

    from crawler_spark.operators.graph import salsa

    edges = spark.range(300).select(
        (F.col("id") % 40).alias("src"),
        F.pmod(F.xxhash64("id"), F.lit(40)).alias("dst"),
    )
    a = sorted(map(tuple, salsa(edges.repartition(1), n_iter=3).collect()))
    b = sorted(map(tuple, salsa(edges.repartition(16, "dst"), n_iter=3).collect()))
    assert a == b


def test_trustrank_edgeless_seed_keeps_teleport_trust(spark):
    from crawler_spark.operators.graph import trustrank

    # node 9 is a vetted seed with NO edges: it must stay in the output
    # carrying exactly its per-round teleport trust, not vanish
    edges = [(0, 1), (1, 0)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    seeds = spark.createDataFrame([(0,), (9,)], ["node"])
    t = {r["node"]: r["trust"] for r in trustrank(df, seeds, n_iter=3).collect()}
    assert 9 in t
    assert t[9] == (15 * 1_000_000_000) // 100  # teleport term only
    assert t[0] > t[9]  # the linked seed also accumulates propagated trust
