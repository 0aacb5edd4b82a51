"""Link-graph analytics over crawl output — integer-arithmetic ranking.

The reference crawler materializes a links table (src, dst, is_internal;
/root/reference/src/crawler/storage/database.py link rows) but never ranks
it; ranking the discovered graph is the canonical next consumer of that
table (frontier prioritization, host reputation, training-corpus weighting),
so it is first-class here.

``pagerank`` is the standard power iteration expressed as DataFrame
join+aggregate rounds — but in SCALED INTEGER arithmetic instead of doubles:

    r0(v)   = PR_SCALE                      (unnormalized per-node convention)
    r_i(v)  = (15*PR_SCALE) DIV 100  +  (85 * sum_{u->v} (r_{i-1}(u) DIV out(u))) DIV 100

Floor division loses a little probability mass per round (documented,
deterministic); in exchange every intermediate is an exact int64, so the
result is bit-identical across engines, partitionings, and aggregation
orders — the DuckDB oracle unrolls the same recurrence and the driver's
value-hash gate checks actual rank VALUES, not just orderings. (A
double-precision PageRank can NEVER be value-hashed across engines: partial
aggregation order flips low bits — see the decimal-sum recipes in
queries.py.)

One loop per recurrence: PageRank is TrustRank with every node a seed, so
both run :func:`_seeded_rank`; OPIC shares its :func:`_spread` step; HITS
is SALSA without the degree division, so both run :func:`_hub_auth`.

Scale design (10^10 edges): each iteration is one equality-join of edges
against the rank table on src (both sides hash-partitioned on the join key —
co-partitioned across iterations since the key never changes) and one
groupBy(dst) sum with map-side partial aggregation. Dangling-node mass is
dropped rather than redistributed (redistribution needs a global scalar per
round — one extra tiny agg — omitted to keep the oracle recurrence local).
Lineage: every fixed-iteration loop follows :func:`_truncated` — plans up
to 8 iterations stay pure-lazy (the registry entries run n_iter <= 5, plan
depth is linear in n_iter), longer runs localCheckpoint every 3rd
iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PR_SCALE = 1_000_000_000  # rank fixed-point scale: 1.0 == 10^9
HITS_SCALE = 1_000_000  # hub/authority fixed point: 1.0 == 10^6


def _nodes(e: DataFrame) -> DataFrame:
    """(node): every id appearing as src or dst of an edge table."""
    return (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )


def _truncated(df: DataFrame, i: int, n_iter: int) -> DataFrame:
    """The lineage rule of every fixed-iteration loop, applied to the state
    after iteration ``i`` (0-based) of ``n_iter``: pure-lazy for short runs
    (n_iter <= 8), otherwise localCheckpoint after every 3rd iteration but
    the last — a 20+-iteration production run must not build 20-deep join
    lineage (the measured hits_scores 124 s -> 5 s lesson)."""
    if n_iter > 8 and (i + 1) % 3 == 0 and i + 1 < n_iter:
        return df.localCheckpoint(eager=False)
    return df


def _contrib(e: DataFrame) -> DataFrame:
    """(src, dst, outdeg) over a distinct edge table: the static side of
    every spread step."""
    return e.join(e.groupBy("src").agg(F.count("*").alias("outdeg")), "src")


def _spread(contrib: DataFrame, state: DataFrame, col: str) -> DataFrame:
    """(dst, m): each node's ``col`` split over its out-edges by floor
    division and summed per destination — the edges-vs-state equality join
    plus map-side-combinable groupBy(dst) sum shared by the seeded rank and
    OPIC."""
    return (
        contrib.join(state, contrib.src == state.node)
        .select("dst", F.expr(f"{col} DIV outdeg").alias("_c"))
        .groupBy("dst")
        .agg(F.sum("_c").alias("m"))
    )


def _seeded_rank(contrib: DataFrame, nodes: DataFrame, n_iter: int) -> DataFrame:
    """(node, pr): the seeded-teleport fixed point over ``nodes`` (node,
    _seed) with _seed in {0, 1}:

        r0(v)  = _seed(v) * PR_SCALE
        r_i(v) = _seed(v) * (15*PR_SCALE) DIV 100
                 + (85 * sum_{u->v} (r_{i-1}(u) DIV out(u))) DIV 100
    """
    teleport = (15 * PR_SCALE) // 100
    seed = F.col("_seed").cast("long")
    ranks = nodes.select("node", (seed * PR_SCALE).alias("pr"))
    for i in range(n_iter):
        sums = _spread(contrib, ranks, "pr")
        ranks = _truncated(
            nodes.join(sums, nodes.node == sums.dst, "left").select(
                "node",
                (seed * teleport + F.expr("(85 * coalesce(m, 0L)) DIV 100"))
                .cast("long")
                .alias("pr"),
            ),
            i,
            n_iter,
        )
    return ranks


def pagerank(edges: DataFrame, n_iter: int = 5) -> DataFrame:
    """Integer power-iteration PageRank; returns (node, pr) with pr int64.

    Nodes are every id appearing as src or dst; self-loops should be
    filtered by the caller. int64 headroom: sum of in-contributions per node
    is bounded by n_nodes * PR_SCALE, so 85 * sum stays under 2^63 for
    n_nodes * PR_SCALE < 10^17 (e.g. 10^8 nodes).
    """
    e = edges.select("src", "dst").distinct()
    return _seeded_rank(_contrib(e), _nodes(e).withColumn("_seed", F.lit(1)), n_iter)


# ----------------------------------------------------- triangle counting

def undirect(edges: DataFrame) -> DataFrame:
    """Distinct undirected edge set {lo, hi} from a directed links table
    (self-loops dropped): the canonical-form input of triangle counting."""
    lo = F.least("src", "dst").alias("lo")
    hi = F.greatest("src", "dst").alias("hi")
    return edges.select(lo, hi).where(F.col("lo") != F.col("hi")).distinct()


def triangles_per_node(edges: DataFrame) -> DataFrame:
    """(node, degree, tri): undirected degree and triangle count per node.

    Algorithm: degree-ordered orientation (Cohen 2009 / "compact-forward").
    Every undirected edge is directed from its LOWER-(degree, node) endpoint
    to its higher one, making the oriented out-degree of every node at most
    O(sqrt(|E|)) regardless of how skewed the real degrees are — a web-graph
    hub with 10^7 in-links would otherwise put 10^14 wedge pairs in one
    join key. Wedges are then the self-join of the oriented list on its
    source, and a triangle is a wedge whose far pair is itself an oriented
    edge — two equality joins and an agg, no node ever holding more than
    its oriented (bounded) neighborhood. Each triangle {a,b,c} is found
    exactly once; per-node counts come from exploding the found triangle's
    three corners. Exact integers end to end: the DuckDB twin counts
    triangles naively (lo<mid<hi self-joins) and must agree value-for-value.
    """
    und = undirect(edges)
    deg = (
        und.select(F.col("lo").alias("node")).unionAll(und.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    dl = deg.select(F.col("node").alias("lo"), F.col("degree").alias("deg_lo"))
    dh = deg.select(F.col("node").alias("hi"), F.col("degree").alias("deg_hi"))
    oriented = (
        und.join(dl, "lo").join(dh, "hi")
        .select(
            F.when(
                (F.col("deg_lo") < F.col("deg_hi"))
                | ((F.col("deg_lo") == F.col("deg_hi")) & (F.col("lo") < F.col("hi"))),
                F.struct(F.col("lo").alias("u"), F.col("hi").alias("v")),
            )
            .otherwise(F.struct(F.col("hi").alias("u"), F.col("lo").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
    )
    w1 = oriented.select(F.col("u").alias("a"), F.col("v").alias("b"))
    w2 = oriented.select(F.col("u").alias("a"), F.col("v").alias("c"))
    wedges = w1.join(w2, "a").where(F.col("b") < F.col("c"))
    closing = oriented.select(
        F.least("u", "v").alias("b"), F.greatest("u", "v").alias("c")
    ).distinct()
    tris = wedges.join(closing, ["b", "c"])
    corner = tris.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    ).groupBy("node").agg(F.count("*").alias("tri"))
    return deg.join(corner, "node", "left").select(
        "node", "degree", F.coalesce(F.col("tri"), F.lit(0)).alias("tri")
    )


def clustering_summary(edges: DataFrame, top_n: int = 20) -> DataFrame:
    """Top-N nodes by (tri, node) with exact local clustering coefficient
    in millionths: cc_micro = (2 * tri * 10^6) div (degree * (degree - 1)).
    Integer division keeps the value hashable across engines."""
    per = triangles_per_node(edges)
    cc = F.when(
        F.col("degree") >= 2,
        F.expr("(2 * tri * 1000000) div (degree * (degree - 1))"),
    ).otherwise(F.lit(0)).cast("long")
    return (
        per.select("node", "degree", "tri", cc.alias("cc_micro"))
        .orderBy(F.desc("tri"), F.asc("node"))
        .limit(top_n)
    )


# ------------------------------------------------------ HITS (hubs/authorities)

def _half_step(
    e: DataFrame, nodes: DataFrame, score: DataFrame, frm: str, to: str, damped: bool
) -> DataFrame:
    """(node, score): one HITS/SALSA half-step. Each ``frm`` endpoint's
    score travels along its edges (SALSA: divided by its ``frm``-side
    degree first), arrivals are summed per ``to`` node, and the dense
    result is max-normalized to HITS_SCALE by integer division.

    The dense table is lazily localCheckpointed: the max-normalizer
    broadcasts a 1-row agg of it, and without truncation that side plan
    would re-evaluate the full upstream lineage once per half-step
    (exponential in n_iter — measured 124 s -> ~5 s at n_iter=3)."""
    if damped:
        deg = e.groupBy(frm).agg(F.count("*").alias("_deg"))
        score = score.join(deg, score.node == deg[frm]).select(
            "node", F.expr("score DIV _deg").alias("score")
        )
    raw = e.join(score, e[frm] == score.node).groupBy(to).agg(F.sum("score").alias("m"))
    dense = nodes.join(raw, nodes.node == raw[to], "left").select(
        "node", F.coalesce(F.col("m"), F.lit(0).cast("long")).alias("raw")
    ).localCheckpoint(eager=False)
    top = dense.agg(F.greatest(F.max("raw"), F.lit(1).cast("long")).alias("top"))
    return dense.crossJoin(F.broadcast(top)).select(
        "node", F.expr(f"(raw * {HITS_SCALE}) DIV top").alias("score")
    )


def _hub_auth(edges: DataFrame, n_iter: int, damped: bool) -> DataFrame:
    """(node, auth, hub): the HITS/SALSA loop — auth from hubs along
    src->dst, then hubs from auth along dst->src, ``n_iter`` times."""
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = _nodes(e)
    hub = nodes.withColumn("score", F.lit(HITS_SCALE).cast("long"))
    for _ in range(n_iter):
        auth = _half_step(e, nodes, hub, "src", "dst", damped)
        hub = _half_step(e, nodes, auth, "dst", "src", damped)
    return auth.select("node", F.col("score").alias("auth")).join(
        hub.select("node", F.col("score").alias("hub")), "node"
    )


def hits(edges: DataFrame, n_iter: int = 3) -> DataFrame:
    """Integer HITS (Kleinberg 1999): returns (node, auth, hub), both int64.

    auth_i(v) = sum of hub_{i-1}(u) over edges u->v; hub_i(v) = sum of
    auth_i(w) over v->w; after every half-step scores renormalize to
    max = HITS_SCALE by integer division — max-normalization instead of the
    textbook L2 because max is exactly computable in int64 and keeps every
    intermediate bit-identical across engines and aggregation orders (same
    reasoning as the fixed-point pagerank above; the DuckDB oracle unrolls
    the identical recurrence). Headroom: raw sums are bounded by
    max_degree * HITS_SCALE and the renormalization multiplies by
    HITS_SCALE, so int64 holds while max_degree < 2^63 / HITS_SCALE^2 ~
    9.2e6.

    Scale shape per iteration: two equality joins of the static
    (checkpointed) edge list against the current score table
    (co-partitioned on the join key across rounds) + two
    map-side-combinable groupBy sums + two tiny broadcast maxes.
    """
    return _hub_auth(edges, n_iter, damped=False)


def salsa(edges: DataFrame, n_iter: int = 3) -> DataFrame:
    """Integer SALSA (Lempel & Moran 2000): returns (node, auth, hub).

    HITS on the DEGREE-NORMALIZED bipartite random walk — each propagation
    divides a node's score by its degree before it travels:
    auth_i(v) = sum over u->v of hub_{i-1}(u) div outdeg(u);
    hub_i(u)  = sum over u->v of auth_i(v) div indeg(v);
    then each half-step max-normalizes to HITS_SCALE exactly like hits().
    The normalization damps the tightly-knit-community effect that lets a
    small dense subgraph capture HITS entirely. Truncating integer
    division per NODE (before the edge join) is part of the value
    contract the DuckDB twin reproduces bit-for-bit. Same plan shape and
    int64 headroom as hits(), plus one degree aggregate per half-step;
    contributions are <= HITS_SCALE.
    """
    return _hub_auth(edges, n_iter, damped=True)


# ----------------------------------------------- HyperBall (neighborhood fn)

def hyperball_registers(edges: DataFrame, radius: int = 2) -> DataFrame:
    """(node, register, rho_max): per-node HLL register state of the
    OUT-ball of the given radius — HyperBall (Boldi & Vigna 2013), the
    algorithm behind every published web-graph neighborhood-function /
    average-distance measurement, expressed as DataFrame rounds.

    State init: each node's sketch holds only itself. Round: every node
    max-merges its successors' sketches into its own —
    state_{t+1}(v) = max(state_t(v), state_t(u) for v->u) — so after r
    rounds node v holds the HLL of ball_out(v, r). The merge is the HLL
    register max (operators/sketches), which is exactly why this scales:
    per-node state is <= m rows FOREVER, no matter how large the ball
    gets (the exact-set version of this computation is the one that dies
    at web scale). Each round is one equality join edges-to-state plus one
    map-side-combinable groupBy max.
    """
    from crawler_spark.operators.sketches import HLL_M, _h_sql, hll_rho

    nodes = _nodes(edges)
    # one hash expression, shared by register and rho — _h_sql is the same
    # portable-hash recipe hll_registers uses, so the register-exactness
    # invariant (state == hll_registers of the exact ball) holds by
    # construction
    h = F.expr(_h_sql("node"))
    state = nodes.select(
        "node",
        F.pmod(h, F.lit(HLL_M)).alias("register"),
        hll_rho(F.expr(f"{_h_sql('node')} div {HLL_M}")).alias("rho_max"),
    )
    e = edges.select("src", "dst").distinct()
    for _ in range(radius):
        prop = (
            e.join(state, e.dst == state.node)
            .select(F.col("src").alias("node"), "register", "rho_max")
        )
        state = (
            state.unionByName(prop)
            .groupBy("node", "register")
            .agg(F.max("rho_max").alias("rho_max"))
        )
    return state


def hyperball_summary(edges: DataFrame, radius: int = 2, top_n: int = 20) -> DataFrame:
    """Top-N nodes by estimated out-ball size: (node, z30, est_hll) — the
    fixed-point HLL estimate (sketches module doc) over the hyperball
    register state, all exact integers."""
    from crawler_spark.operators.sketches import (
        HLL_EST_NUM,
        HLL_FP_SHIFT,
        HLL_M,
    )

    regs = hyperball_registers(edges, radius)
    groups = regs.select("node").distinct()
    grid = groups.crossJoin(
        edges.sparkSession.range(HLL_M).select(F.col("id").alias("register"))
    )
    dense = grid.join(regs, ["node", "register"], "left").select(
        "node", F.coalesce(F.col("rho_max"), F.lit(0)).alias("m_j")
    )
    term = F.when(
        F.col("m_j") <= HLL_FP_SHIFT,
        F.expr(f"shiftleft(1L, CAST({HLL_FP_SHIFT} - m_j AS INT))"),
    ).otherwise(F.lit(0).cast("long"))
    return (
        dense.groupBy("node")
        .agg(F.sum(term).alias("z30"))
        .select(
            "node",
            "z30",
            F.expr(f"CAST({HLL_EST_NUM} AS BIGINT) div z30 div 1000000").alias("est_hll"),
        )
        .orderBy(F.desc("est_hll"), F.asc("node"))
        .limit(top_n)
    )


# ----------------------------------------------------- seeded trust / spam

def trustrank(edges: DataFrame, seeds: DataFrame, n_iter: int = 5) -> DataFrame:
    """Seeded-teleport PageRank — TrustRank (Gyongyi, Garcia-Molina &
    Pedersen, VLDB 2004): the biased power iteration that propagates trust
    from a vetted seed set instead of teleporting uniformly, the standard
    web-spam demotion signal a production crawl applies to its link table
    (the reference materializes that table — storage/database.py link rows —
    but never ranks it; see module doc). Returns (node, trust).

        r0(v)  = PR_SCALE             if v in seeds else 0
        r_i(v) = seed(v)*(15*PR_SCALE) DIV 100
                 + (85 * sum_{u->v} (r_{i-1}(u) DIV out(u))) DIV 100

    The same :func:`_seeded_rank` loop as :func:`pagerank` (which is the
    all-seeds case), so every exactness and scale property carries over.
    Nodes never reached from the seed set get trust exactly 0 — the
    spam-mass reading is pr - trust. ``seeds`` is a 1-column (node)
    DataFrame, joined once to the node set (broadcast when small).
    """
    e = edges.select("src", "dst").distinct()
    seed_nodes = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
    nodes = (
        # seeds belong to the node set by definition (r0(v)=PR_SCALE) — an
        # edgeless seed must still carry its teleport trust, not vanish
        _nodes(e).union(seed_nodes)
        .distinct()
        .join(seed_nodes.withColumn("_seed", F.lit(1)), "node", "left")
        .select("node", F.coalesce(F.col("_seed"), F.lit(0)).alias("_seed"))
    )
    ranks = _seeded_rank(_contrib(e), nodes, n_iter)
    return ranks.select("node", F.col("pr").alias("trust"))


# ----------------------------------------------------- community detection

def label_propagation(edges: DataFrame, n_iter: int = 3) -> DataFrame:
    """Deterministic synchronous label propagation (Raghavan, Albert &
    Kumara 2007) over the undirected link graph — the near-linear community
    detector a crawl analyst runs to segment the discovered web into site
    clusters / link neighborhoods (organic communities vs link-farm blocks).

    The classic algorithm breaks ties randomly and updates asynchronously;
    both are non-deterministic, so this is the SYNC variant with a total
    tie order — new label = the most frequent label among neighbors, ties
    resolved to the SMALLEST label — which makes every round a pure
    function of the previous labeling: the DuckDB oracle unrolls the same
    recurrence and value-checks final labels node-for-node.

    Scale: per round, one equality join of the adjacency list against the
    current (node, label) table on the neighbor key plus one
    groupBy(node, label) count and a per-node argmax window (partitions
    bounded by a node's distinct neighbor-label count <= degree — never a
    global window). Adjacency is static across rounds and co-partitioned
    with the label table on the join key. Label oscillation on bipartite
    structures is bounded by the fixed n_iter (no convergence loop —
    callers wanting convergence add the neardup_clusters-style guard).
    """
    und = undirect(edges)
    adj = und.select(F.col("lo").alias("node"), F.col("hi").alias("nbr")).union(
        und.select(F.col("hi").alias("node"), F.col("lo").alias("nbr"))
    )
    labels = adj.select("node").distinct().select("node", F.col("node").alias("label"))
    w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("label"))
    for i in range(n_iter):
        counts = (
            adj.join(
                labels.select(F.col("node").alias("nbr"), "label"), "nbr"
            )
            .groupBy("node", "label")
            .agg(F.count("*").alias("c"))
        )
        labels = _truncated(
            counts.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("node", "label"),
            i,
            n_iter,
        )
    return labels


def community_sizes(edges: DataFrame, n_iter: int = 3, top_n: int = 20) -> DataFrame:
    """Top-N communities by member count after ``n_iter`` LPA rounds:
    (community, n_members), ordered largest first, ties by community id."""
    return (
        label_propagation(edges, n_iter=n_iter)
        .groupBy(F.col("label").alias("community"))
        .agg(F.count("*").alias("n_members"))
        .orderBy(F.desc("n_members"), F.asc("community"))
        .limit(top_n)
    )


# ----------------------------------------------------- online importance

def opic(edges: DataFrame, n_iter: int = 5) -> DataFrame:
    """OPIC — On-line Page Importance Computation (Abiteboul, Preda &
    Cobena, WWW 2003): the cash/history importance measure a crawler can
    maintain WHILE crawling, without waiting for a full PageRank batch.
    Each node starts with PR_SCALE cash; every (synchronous) round it
    banks its cash into its history and distributes it equally to its
    out-neighbors:

        C_0(v) = PR_SCALE,  H_0(v) = 0
        C_{i+1}(v) = sum_{u->v} C_i(u) DIV out(u)
        H_{i+1}(v) = H_i(v) + C_i(v)
        importance = H_n + C_n

    Same exact-int64 fixed-point convention as :func:`pagerank`: floor
    division makes every intermediate bit-identical across engines and
    partitionings, so the DuckDB oracle unrolls the identical recurrence
    and value-checks importance-for-importance. Cash on dangling nodes
    vanishes when distributed (the paper routes it through a virtual page;
    omitted so the recurrence stays local — documented drain, same policy
    as pagerank's dropped dangling mass).

    Scale: per round, pagerank's :func:`_spread` step plus a node-keyed
    join to roll the history forward; lineage follows :func:`_truncated`.
    """
    e = edges.select("src", "dst").distinct()
    contrib = _contrib(e)
    state = _nodes(e).select(
        "node", F.lit(PR_SCALE).cast("long").alias("c"), F.lit(0).cast("long").alias("h")
    )
    for i in range(n_iter):
        sums = _spread(contrib, state, "c")
        state = _truncated(
            state.join(sums, state.node == sums.dst, "left").select(
                "node",
                F.coalesce(F.col("m"), F.lit(0)).cast("long").alias("c"),
                (F.col("h") + F.col("c")).cast("long").alias("h"),
            ),
            i,
            n_iter,
        )
    return state.select(
        "node", "c", "h", (F.col("c") + F.col("h")).cast("long").alias("importance")
    )


# ----------------------------------------------------- k-core structure

def kcore_peel(
    edges: DataFrame, k: int = 3, rounds: int = 4
) -> DataFrame:
    """Bounded k-core peeling over the undirected link graph: ``rounds``
    synchronous rounds of removing every node whose degree (among
    survivors) is below ``k``. After enough rounds the survivor set IS the
    k-core (Seidman 1983); with bounded rounds it is a deterministic
    over-approximation — exactly what a crawl-quality pass wants as a
    link-farm/core-web signal without an unbounded convergence loop (the
    fixed unroll is also what lets the DuckDB oracle value-check survivor
    degrees node-for-node).

    Returns (node, degree): survivors with their degree restricted to the
    final survivor set.

    Scale: adjacency is static; each round re-joins it against the current
    (shrinking) survivor set on both endpoints and recounts degrees — two
    equality joins + one groupBy per round, all map-side combinable, no
    window. Survivor sets only shrink, so per-round shuffle volume is
    monotonically non-increasing (the neardup_clusters_star property).
    """
    und = undirect(edges)
    adj = und.select(F.col("lo").alias("node"), F.col("hi").alias("nbr")).union(
        und.select(F.col("hi").alias("node"), F.col("lo").alias("nbr"))
    )
    alive = adj.select("node").distinct()
    for _ in range(rounds):
        alive = (
            adj.join(alive, "node")
            .join(alive.select(F.col("node").alias("nbr")), "nbr")
            .groupBy("node")
            .agg(F.count("*").alias("_deg"))
            .where(F.col("_deg") >= k)
            .select("node")
        )
    return (
        adj.join(alive, "node")
        .join(alive.select(F.col("node").alias("nbr")), "nbr")
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )


def resolve_redirects(edges: DataFrame, max_hops: int = 16) -> DataFrame:
    """Resolve every redirect SOURCE to its terminal target by POINTER
    DOUBLING — the O(log L) plan for chain-following, vs the O(L) one-hop
    walk a naive loop (or the DuckDB twin's recursive CTE) performs.

    The reference resolves redirects one fetch at a time inside aiohttp
    (fetcher follows Location hops up to a cap); a frontier at 10^10 URLs
    instead materializes the redirect table (src -> dst, one outgoing edge
    per src) and contracts it in bulk: canonical-URL assignment, dup-URL
    merging, and seen-set accounting all need "where does this URL
    ultimately land". Pointer doubling composes the map with itself each
    round (ptr[x] <- ptr[ptr[x]], hop counts add), so a chain of length L
    resolves in ceil(log2(L)) self-joins — at a redirect cap of 16-32
    (every real crawler caps; Mercator used 5, browsers ~20) that is 5
    equality joins total, each hash-partitioned on the composed key,
    instead of 16-32 sequential shuffles.

    Rows whose chain has not terminated after the doubling rounds — a
    redirect LOOP, or a chain longer than ``2^rounds >= 2*max_hops`` —
    report ``final='(loop)', hops=-1``: exactly the crawler's
    "too many redirects" outcome class (the same bucket real fetchers use
    for both loops and over-cap chains).

    Returns (src, final, hops); hops is the exact chain length for
    resolved rows. All arithmetic int64; node payloads never widen the
    shuffle (ids only).
    """
    import math

    rounds = max(1, math.ceil(math.log2(max(2, max_hops)))) + 1
    ptr = edges.select(
        "src", F.col("dst").alias("cur"), F.lit(1).cast("long").alias("hops")
    )
    for _ in range(rounds):
        nxt = ptr.select(
            F.col("src").alias("_jsrc"),
            F.col("cur").alias("_jcur"),
            F.col("hops").alias("_jhops"),
        )
        # terminal cur (no outgoing edge) finds no match and stays put
        ptr = (
            ptr.join(nxt, ptr["cur"] == nxt["_jsrc"], "left")
            .select(
                "src",
                F.coalesce(F.col("_jcur"), F.col("cur")).alias("cur"),
                (F.col("hops") + F.coalesce(F.col("_jhops"), F.lit(0))).alias("hops"),
            )
            .localCheckpoint(eager=False)  # truncate the doubling lineage
        )
    domain = edges.select(F.col("src").alias("cur")).distinct()
    resolved = ptr.join(domain, "cur", "left_anti").select(
        "src", F.col("cur").alias("final"), "hops"
    )
    looping = ptr.join(domain, "cur", "semi").select(
        "src", F.lit("(loop)").alias("final"), F.lit(-1).cast("long").alias("hops")
    )
    return resolved.unionByName(looping)
