"""Document deduplication operators — exact, MinHash+LSH, SimHash, n-gram Jaccard.

The reference dedups only URLs (md5-hash set + Bloom filter,
/root/reference/src/crawler/url_management/queue.py:59-103,161-177). A
training-data pipeline over the crawled corpus additionally needs *content*
dedup; these operators provide it Spark-first, all expressible as
groupBy/join/window plans (no Python on the hot path) and all value-checkable
against DuckDB oracle SQL via the portable :mod:`crawler_spark.functions.hashing`.

Scale design (100 TB / 10^10 docs):
- every operator keys its shuffles on a 60-bit integer hash, never raw text;
- MinHash+LSH is the scale path for near-dup: cost is O(docs * K) for
  signatures plus a shuffle keyed on (band, band-signature) whose groups are
  true candidate buckets — no all-pairs stage ever materializes;
- the verify stage joins only LSH candidates against per-doc shingle sets
  (both sides hash-partitioned on doc id);
- SimHash candidates use the pigeonhole chunk trick: hamming(a,b) <= d means
  at least one of d+1 bit-chunks is equal, so candidates come from d+1
  equality-joins on chunk values (again: no cross join);
- n-gram Jaccard without LSH (``ngram_jaccard_pairs``) joins on shared
  shingles — exact but quadratic in per-shingle document frequency; it is the
  small-scale oracle twin.

One blocked-pair kernel: every family that blocks on a key (LSH band,
shingle, SimHash chunk, fingerprint, IVF/k-means cell, SRP bucket, citing
page) forms candidates with :func:`blocked_pairs`, one equality self-join
with ``{id}_a < {id}_b``. A block of b rows expands to b(b-1)/2 pairs, so
the kernel owns the one hot-block policy: ``max_block`` drops every key
held by more than that many rows before the join (:func:`drop_hot_blocks`,
"stop-key" pruning: a boilerplate shingle or a links-to-everything hub
carries no pairwise signal). The count is a window on the join key, whose
hash partitioning the sort-merge join reuses, so the cap adds no shuffle.
Candidates are verified by one shared-shingle count, :func:`_shared_counts`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crawler_spark.functions.hashing import (
    LSH_BAND_SIZE,
    MERSENNE_P,
    MINHASH_K,
    hash60,
    minhash_term,
)
from crawler_spark.functions.text import SIMPLE_WORD_RE as TOKEN_RE


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact content dedup: group by text hash, keep the smallest id.

    Returns (text_hash, keep_id, dup_count). Shuffle is keyed on the 60-bit
    hash; the full text never travels.
    """
    return (
        df.select(hash60(F.col(text_col)).alias("text_hash"), F.col(id_col).alias("_id"))
        .groupBy("text_hash")
        .agg(F.min("_id").alias("keep_id"), F.count("*").alias("dup_count"))
    )


def doc_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, wide: bool = False
) -> DataFrame:
    """Distinct word-``n``-gram shingles per document, as reduced 31-bit hashes.

    Returns (doc, sh) where sh = hash60(shingle) % MERSENNE_P, distinct per doc.
    The 31-bit reduction exists for the MinHash universal-hash math (which
    works mod MERSENNE_P in 63-bit space); pure MEMBERSHIP consumers
    (ngram_novelty, source_overlap) pass ``wide=True`` to keep the full
    60-bit hash — at a 10^9-distinct-shingle reference, 31 bits would
    saturate (~20%+ of novel shingles colliding into "seen"), while 60 bits
    keep the collision mass negligible (~n^2/2^61).
    """
    # materialize the token array in its own projection FIRST: referencing
    # the regexp_extract_all expression from inside the transform lambda
    # defeats codegen subexpression elimination and re-tokenizes the text
    # once per reference (measured 18.6s -> 0.75s on 4,800 sf0.1 docs)
    base = df.select(
        F.col(id_col).alias("doc"),
        F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(TOKEN_RE), F.lit(0)
        ).alias("_t"),
    )
    toks = F.col("_t")
    n_sh = F.size(toks) - (n - 1)
    # guard: sequence(1, 0) would generate a DESCENDING [1, 0] in Spark
    idx = F.when(n_sh > 0, F.sequence(F.lit(1), n_sh)).otherwise(
        F.array().cast("array<int>")
    )
    # slice+array_join builds each shingle in one pass (vs n element_at
    # probes); output string is identical (space-joined tokens)
    shingles = F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    h = hash60(F.col("s"))
    return (
        base.select("doc", F.explode(F.array_distinct(shingles)).alias("s"))
        .select("doc", (h if wide else F.pmod(h, F.lit(MERSENNE_P))).alias("sh"))
        .distinct()
    )


def minhash_signature(shingles: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """K-permutation MinHash signature per doc: (doc, mh0..mh{K-1}).

    One shuffle: groupBy(doc) with K min-aggregates (map-side partial aggs).
    ``k`` is the recall knob: 8 keeps the DuckDB oracle cheap; production at
    10^10 docs runs 128+ with the same single-shuffle plan.
    """
    aggs = [minhash_term(i, F.col("sh")).alias(f"_h{i}") for i in range(k)]
    return (
        shingles.select("doc", *aggs)
        .groupBy("doc")
        .agg(*[F.min(f"_h{i}").alias(f"mh{i}") for i in range(k)])
    )


def drop_hot_blocks(rows: DataFrame, key: str | list[str], max_block: int) -> DataFrame:
    """``rows`` without the keys held by more than ``max_block`` rows (the
    stop-key prune; see the module docstring)."""
    keys = [key] if isinstance(key, str) else list(key)
    return (
        rows.withColumn("_bsz", F.count("*").over(Window.partitionBy(*keys)))
        .where(F.col("_bsz") <= max_block)
        .drop("_bsz")
    )


def blocked_pairs(
    rows: DataFrame,
    id_col: str,
    key: str | list[str],
    max_block: int | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Candidate pairs sharing a block key: the one blocked self-join.

    Returns one row per (pair, shared key value) with ``{id_col}_a <
    {id_col}_b``, columns in this order: the key column(s), ``{id_col}_a``
    and ``{c}_a`` for each ``carry`` column, then the same for side b.
    ``max_block`` drops hot keys first (:func:`drop_hot_blocks`).
    """
    keys = [key] if isinstance(key, str) else list(key)
    if max_block is not None:
        rows = drop_hot_blocks(rows, keys, max_block)
    rows = rows.select(*keys, id_col, *carry)
    a, b = rows.alias("a"), rows.alias("b")
    sides = [F.col(f"{s}.{c}").alias(f"{c}_{s}") for s in "ab" for c in (id_col, *carry)]
    # the id order is a filter, not part of the join condition: a caller's
    # verify filter (a cosine, say) pushed into the join is appended AFTER
    # it, so the cheap comparison short-circuits it on half the matches
    return (
        a.join(b, [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(*[F.col(f"a.{k}").alias(k) for k in keys], *sides)
    )


def _band_rows(sig: DataFrame, k: int, band_size: int) -> DataFrame:
    """(doc, band) LSH band-key rows for a signature frame: ``k //
    band_size`` bands of ``band_size`` rows, keyed on the band signature
    string (shared by the batch and incremental pairers)."""
    bands = []
    for b in range(k // band_size):
        cols = [F.col(f"mh{b * band_size + j}") for j in range(band_size)]
        bands.append(F.concat_ws(":", F.lit(str(b)), *[c.cast("string") for c in cols]))
    return sig.select("doc", F.explode(F.array(*bands)).alias("band"))


def lsh_candidate_pairs(
    signatures: DataFrame, k: int = MINHASH_K, band_size: int = LSH_BAND_SIZE
) -> DataFrame:
    """Candidate pairs (doc_a < doc_b) sharing at least one LSH band signature.

    Each band-signature block is one candidate bucket; buckets are deduped
    into ordered pairs. At 10^10 docs a runaway bucket (pathological corpus)
    is bounded by AQE skew split; the per-bucket pair expansion is the
    standard LSH cost model. (k // band_size bands, r = band_size: the
    s-curve threshold is (1/b)^(1/r) — size the bands to the target
    similarity.)
    """
    return (
        blocked_pairs(_band_rows(signatures, k, band_size), "doc", "band")
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    k: int = MINHASH_K,
    band_size: int = LSH_BAND_SIZE,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs via MinHash banding, verified with exact Jaccard.

    Returns (doc_a, doc_b, jaccard_pct) with doc_a < doc_b and
    jaccard >= threshold. jaccard_pct is rounded to an integer percentage so
    the value-hash comparison with the oracle is float-safe. ``k`` /
    ``band_size`` tune the candidate-recall s-curve; the exact-Jaccard
    verify stage makes the OUTPUT identical for any knob setting that
    reaches the same candidates — more signatures only raise recall.
    """
    # one materialization: shingles feed both the signature pass and the
    # Jaccard verification — without it the corpus is scanned and
    # re-tokenized four times (visible as 4 parquet scans in .explain).
    # Callers composing several similarity passes over the same corpus
    # (minhash_recall: LSH + prefix-filter truth) pass a shared pinned
    # ``shingles`` frame so the corpus is tokenized once across BOTH.
    sh = (
        shingles
        if shingles is not None
        else doc_shingles(df, id_col, text_col, n).localCheckpoint(eager=False)
    )
    sig = minhash_signature(sh, k)
    return _pair_jaccard(lsh_candidate_pairs(sig, k, band_size), sh, threshold)


def _shared_counts(cand: DataFrame, shingles: DataFrame) -> DataFrame:
    """``cand``'s columns plus ``inter`` = |S(doc_a) n S(doc_b)|: the one
    shared-shingle verify, a double join on the shingle hash.

    The shingle set is first semi-joined down to docs that appear in some
    candidate pair, so the intersection joins shuffle candidate docs'
    shingles only (AQE broadcasts the doc list when candidates are sparse —
    the common dedup case). Pairs sharing no shingle get no row."""
    # cand is tiny (surviving candidate pairs) but its plan embeds the
    # caller's whole candidate pipeline and fans out to 3 consumers here
    # (cand_docs x2, inter join): pin it or candidate generation recomputes
    cand = cand.localCheckpoint(eager=False)
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc"))
        .union(cand.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    shc = shingles.join(cand_docs, "doc")
    sa = shc.select(F.col("doc").alias("doc_a"), "sh")
    sb = shc.select(F.col("doc").alias("doc_b"), "sh")
    return (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "sh"])
        .groupBy(*cand.columns)
        .agg(F.count("*").alias("inter"))
    )


def _pair_jaccard(pairs: DataFrame, shingles: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, jaccard_pct) for candidate ``pairs`` with Jaccard >=
    ``threshold``; sizes come from the FULL per-doc sets, so the Jaccard
    stays exact. jaccard_pct is an integer percentage, so the value-hash
    comparison with the oracle is float-safe."""
    sizes = shingles.groupBy("doc").agg(F.count("*").alias("sz"))
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        _shared_counts(pairs, shingles)
        .join(sizes.select(F.col("doc").alias("doc_a"), F.col("sz").alias("sz_a")), "doc_a")
        .join(sizes.select(F.col("doc").alias("doc_b"), F.col("sz").alias("sz_b")), "doc_b")
        .where(jac >= F.lit(threshold))
        .select("doc_a", "doc_b", F.round(jac * 100).cast("int").alias("jaccard_pct"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    df_cap: int = 1_000_000,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard over docs sharing >= 1 shingle.

    ``df_cap`` is the kernel's ``max_block``: stop-shingles held by more
    than ``df_cap`` docs are dropped before the pair expansion, which is
    quadratic in document frequency; LSH (minhash_lsh_dedup) is the true
    scale path.
    """
    sh = doc_shingles(df, id_col, text_col, n).localCheckpoint(eager=False)
    pairs = (
        blocked_pairs(sh, "doc", "sh", max_block=df_cap)
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _pair_jaccard(pairs, sh, threshold)  # sizes from the unpruned sets


def _rarest_first(sh: DataFrame, th_num: int, th_den: int) -> DataFrame:
    """(doc, sz, _ord, _pref): each doc's shingles in ascending global
    document frequency, (df, sh) total order, and the prefix of length
    ``sz - ceil(th_num/th_den * sz) + 1`` that the prefix filters probe —
    one hash aggregate per doc, which sorts each doc's own bounded array."""
    dfc = sh.groupBy("sh").agg(F.count("*").alias("_df"))
    return (
        sh.join(dfc, "sh")
        .groupBy("doc")
        .agg(F.sort_array(F.collect_list(F.struct("_df", "sh"))).alias("_arr"))
        .select(
            "doc",
            F.size("_arr").alias("sz"),
            F.expr("transform(_arr, s -> s.sh)").alias("_ord"),
        )
        .withColumn(
            "_pref", F.expr(f"slice(_ord, 1, sz - (({th_num} * sz + {th_den} - 1) div {th_den}) + 1)")
        )
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    th_num: int = 1,
    th_den: int = 2,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """EXACT shingle-Jaccard similarity join via prefix filtering (Chaudhuri
    et al. ICDE'06 / PPJoin, Xiao et al. WWW'08) — the no-false-negative
    scale path that LSH is not.

    Order every doc's shingles by ascending global document frequency
    (rarest first, (df, sh) total order); for threshold t = th_num/th_den a
    pair with Jaccard >= t must share at least one shingle within each
    side's first ``P = L - ceil(t*L) + 1`` shingles (if all P rarest of one
    doc miss the other, the overlap is < t of the union). So candidates
    come from an equality join on PREFIX shingles only — hot shingles land
    in the long tail of every prefix order and never join, which is what
    bounds the pair expansion (the kernel's ``max_block`` cap achieves this
    heuristically; the prefix filter achieves it *provably*). Exact
    Jaccard verification on the full sets then keeps pairs with
    inter/union >= t, all in integer arithmetic.

    Returns (doc_a, doc_b, inter, sz_union, jaccard_bp) with jaccard_bp =
    inter*10000 div union. Threshold is a rational th_num/th_den so the
    prefix length and the final filter stay exact in both engines.

    Scale: two shuffles on shingle hash (df count, prefix join) + one
    per-doc hash AGGREGATE that sorts each doc's own bounded shingle array
    in place (never a corpus-wide sort; it also yields the set sizes, so no
    separate sizes pass) + the hash-keyed verify joins. No all-pairs stage.
    Candidates are pruned INSIDE the prefix join, before the pair-distinct
    shuffle, by two provably no-false-negative filters evaluated per
    matched row (sz/pos ride along on the exploded prefix rows):

      * the size filter — jaccard >= t forces min(|A|,|B|) >= t*max(|A|,|B|)
      * PPJoin's positional filter (Xiao et al. WWW'08 §3.2) — at a match
        on 0-based prefix positions (p_a, p_b) the intersection is at most
        ubound = min(|A| - p_a, |B| - p_b), and jaccard >= t needs
        inter*(den+num) >= num*(|A|+|B|); a true pair always survives via
        its FIRST common prefix shingle (where ubound is the loosest), and
        the pair-distinct needs only one surviving row.

    Without the in-join filters a hot prefix shingle's quadratic match
    block lands in a single join task and degenerates the pair-distinct's
    partial aggregate (measured at sf0.1: 21.1M raw pair rows, a 240 MB
    shuffle, one 2.1 GB-peak aggregate task); the filters cut the pair
    stream before it is ever shuffled. The verify is :func:`_shared_counts`.
    """
    sh = (
        shingles
        if shingles is not None
        else doc_shingles(df, id_col, text_col, n).localCheckpoint(eager=False)
    )
    per_doc = (
        _rarest_first(sh, th_num, th_den)
        .select("doc", "sz", "_pref")
        .localCheckpoint(eager=False)  # both sides of the prefix join
    )
    prefix = per_doc.select(
        "doc", "sz", F.posexplode("_pref").alias("pos", "sh")
    )
    sz_a, sz_b = F.col("a.sz"), F.col("b.sz")
    ubound = F.least(sz_a - F.col("a.pos"), sz_b - F.col("b.pos"))
    # not blocked_pairs: the size and positional filters must run INSIDE
    # the join condition, per matched row, before any pair row is emitted
    # (see docstring) — a prefix shingle's block is never capped, it is cut
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc") < F.col("b.doc"))
            # size filter, evaluated before the match row is emitted
            & (F.least(sz_a, sz_b) * th_den >= F.greatest(sz_a, sz_b) * th_num)
            # PPJoin positional filter (see docstring): prunes the hot
            # shingles' quadratic match blocks inside the join task
            & (ubound * (th_num + th_den) >= th_num * (sz_a + sz_b)),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            sz_a.alias("sz_a"),
            sz_b.alias("sz_b"),
        )
        .distinct()
    )
    inter = _shared_counts(cand, sh)
    return (
        inter.withColumn("sz_union", F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        .where(F.col("inter") * th_den >= F.col("sz_union") * th_num)
        .select(
            "doc_a",
            "doc_b",
            "inter",
            "sz_union",
            F.expr("inter * 10000 div sz_union").alias("jaccard_bp"),
        )
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 60) -> DataFrame:
    """Per-doc SimHash (Charikar 2002) over token frequencies.

    For each bit position b: sum over tokens of freq * (+1 if bit b of
    hash60(token) set else -1); simhash bit b = 1 iff the sum > 0.
    Plan: tokenize -> explode -> (doc, token) counts -> explode bit positions
    -> one groupBy(doc). Returns (doc, simhash:long).

    Default width is 60 bits — the full hash60 width, the widest that stays
    exactly portable to the DuckDB BIGINT oracle (a 16th hex nibble would
    overflow the signed cast) and keeps every shiftleft positive. At 10^10
    docs this kills the random fingerprint collisions a 32-bit hash suffers;
    candidate volume in the pigeonhole join is governed by the per-chunk
    width (bits/(d+1) = 15 here vs 8 at 32 bits — a 2^7x cut per chunk
    class).
    """
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_RE), F.lit(0))
    tf = (
        df.select(F.col(id_col).alias("doc"), F.explode(toks).alias("tok"))
        .groupBy("doc", "tok")
        .agg(F.count("*").alias("freq"))
        .withColumn("th", hash60(F.col("tok")))
    )
    pos = tf.select(
        "doc",
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("b"),
        "freq",
        "th",
    ).select(
        "doc",
        "b",
        F.when(F.expr("(th >> b) & 1") == 1, F.col("freq"))
        .otherwise(-F.col("freq"))
        .alias("w"),
    )
    return (
        pos.groupBy("doc", "b")
        .agg(F.sum("w").alias("s"))
        .groupBy("doc")
        .agg(
            F.sum(
                F.when(F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), b)")).otherwise(F.lit(0))
            ).alias("simhash")
        )
    )


def simhash_pairs(
    sim: DataFrame, max_hamming: int = 3, bits: int = 60
) -> DataFrame:
    """Near-dup pairs with hamming(simhash_a, simhash_b) <= max_hamming.

    Candidates via the pigeonhole trick: split the ``bits``-bit hash into
    ``max_hamming + 1`` chunks; any pair within the hamming budget agrees on
    at least one chunk, so candidates come from equality joins on
    (chunk_index, chunk_value) — never a cross join. Returns
    (doc_a, doc_b, hamming).
    """
    sim = sim.localCheckpoint(eager=False)  # both sides of the self-join
    n_chunks = max_hamming + 1
    widths = [bits // n_chunks + (1 if i < bits % n_chunks else 0) for i in range(n_chunks)]
    offs, acc = [], 0
    for w in widths:
        offs.append(acc)
        acc += w
    chunks = F.array(
        *[
            F.shiftright(F.col("simhash"), offs[i]).bitwiseAND(F.lit((1 << widths[i]) - 1))
            for i in range(n_chunks)
        ]
    )
    keyed = sim.select("doc", "simhash", F.posexplode(chunks).alias("ci", "cv"))
    cand = (
        blocked_pairs(keyed, "doc", ["ci", "cv"], carry=("simhash",))
        .select("doc_a", "doc_b", "simhash_a", "simhash_b")
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def neardup_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs — the KEEP/DROP decision.

    Every pair-producing dedup operator (MinHash, SimHash, embedding)
    surfaces edges; a pipeline then keeps one representative per component.
    cluster id = min doc id reachable, computed by iterative min-label
    propagation over DataFrame joins: each round every node takes the min
    of its own label and its neighbors' labels, then a pointer-jumping
    pass shortcuts ``label <- label(label)`` — so a chain of length L
    converges in O(log L) rounds, not O(L), and the default ``max_iter=20``
    covers components of diameter ~2^20. Each round runs a one-row
    convergence probe and localCheckpoints to truncate the growing lineage.
    Returns (doc, cluster) for every doc that appears in a pair (singletons
    are their own cluster trivially and never ship through the pair stream).

    Raises ``RuntimeError`` if the last probe still reported changes after
    ``max_iter`` rounds — silently returning unconverged labels would hand
    wrong representatives to training_keepset (ADVICE r2).

    Scale note: min-label propagation shuffles |E| rows per round; at
    10^10-edge graphs use :func:`neardup_clusters_star` (same contract,
    oracle-checked against the same recursive-CTE twin), whose per-round
    shuffle volume shrinks with the collapsing edge set.

    Every join in the loop carries a ``shuffle_hash`` hint: both sides are
    node/edge-scaled, and AQE's runtime broadcast conversion (compressed
    shuffle stats under the threshold, in-memory hash table far larger)
    blew the 8 GiB broadcast hard limit on a real 2.6M-doc curation run —
    on the graphs this operator exists for, no side is ever broadcastable.
    """
    edges = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = (
        edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("src").alias("doc"))
        .distinct()
        .withColumn("label", F.col("doc"))
    )
    changed = 0
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels.hint("shuffle_hash"), edges.dst == labels.doc)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        stepped = labels.join(
            neighbor_min.hint("shuffle_hash"), labels.doc == neighbor_min.src, "left"
        ).select(
            labels.doc.alias("doc"),
            F.least(labels.label, F.coalesce(F.col("nmin"), labels.label)).alias("label"),
        )
        # pointer jumping: label <- label(label). A label is itself a doc id
        # in `labels` (min over a connected set), so one self-join halves the
        # remaining pointer depth — O(diameter) becomes O(log diameter).
        jump = stepped.select(F.col("doc").alias("jdoc"), F.col("label").alias("jlabel"))
        new_labels = (
            stepped.join(jump.hint("shuffle_hash"), stepped.label == jump.jdoc, "left")
            .select(
                stepped.doc.alias("doc"),
                F.least(
                    stepped.label, F.coalesce(F.col("jlabel"), stepped.label)
                ).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o").hint("shuffle_hash"), "doc")
            .where("n.label <> o.label")
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"neardup_clusters did not converge in max_iter={max_iter} rounds; "
            "labels would be wrong for the widest component — raise max_iter "
            "(each round doubles the reachable pointer depth)"
        )
    return labels.select("doc", F.col("label").alias("cluster"))


def neardup_clusters_star(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al. 2014) — the 10^10-edge production variant of
    :func:`neardup_clusters`, same contract: (doc, cluster = min reachable
    doc id) for every doc appearing in a pair.

    Why a second algorithm: min-label propagation shuffles the FULL edge set
    every round and keeps a separate label table; star contraction rewrites
    the edge set itself, which SHRINKS geometrically as components collapse
    into stars — per-round shuffle volume drops instead of staying |E|. Both
    converge in O(log n) rounds; on the huge, skewed near-dup graphs of a
    web corpus the shrinking edge set is the difference that matters.

    One round = large-star (every node links its larger neighbors to its
    smallest neighbor-or-self; afterwards every edge points strictly
    downward) then small-star (every node links its smaller neighbors and
    itself to their minimum). Convergence = the down-edge set reached a
    fixed point, detected by a one-row (count, xor-of-hash) signature agg —
    an order-insensitive set fingerprint, no full-set comparison shuffle.
    Each round localCheckpoints to truncate lineage. Raises RuntimeError if
    not converged after ``max_iter`` rounds (same guard as the propagation
    variant; a fixed point is provably reached in O(log^2 n) star rounds).
    """
    down = (
        pairs.select(
            F.greatest(F.col(a_col), F.col(b_col)).alias("u"),
            F.least(F.col(a_col), F.col(b_col)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def signature(e: DataFrame) -> tuple:
        row = e.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(u, v))"), F.lit(0).cast("long")
            ).alias("x"),
        ).collect()[0]
        return (row["n"], row["x"])

    sig = signature(down)
    converged = False
    for _ in range(max_iter):
        # large-star over the symmetric closure: center src, m = min(N ∪ {src});
        # every LARGER neighbor re-attaches to m, so output edges point down.
        sym = down.select("u", "v").union(
            down.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            sym.groupBy(F.col("u").alias("src"))
            .agg(F.min("v").alias("mn"))
            .select("src", F.least("mn", F.col("src")).alias("mn"))
        )
        ls = (
            sym.join(mins.hint("shuffle_hash"), sym.u == mins.src)
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over down edges: center u, mn = min of its smaller
        # neighbors; every other smaller neighbor and u itself attach to mn.
        sm = ls.groupBy(F.col("u").alias("src")).agg(F.min("v").alias("mn"))
        j = ls.join(sm.hint("shuffle_hash"), ls.u == sm.src)
        down_next = (
            j.where(F.col("v") != F.col("mn"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .union(sm.select(F.col("src").alias("u"), F.col("mn").alias("v")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        new_sig = signature(down_next)
        down = down_next
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        raise RuntimeError(
            f"neardup_clusters_star did not converge in max_iter={max_iter} "
            "rounds; raise max_iter"
        )
    # fixed point is a star per component: every non-min node has exactly one
    # down edge to the component min; the min itself only appears as v.
    nodes = (
        pairs.select(F.col(a_col).alias("doc"))
        .union(pairs.select(F.col(b_col).alias("doc")))
        .distinct()
    )
    return nodes.join(down.hint("shuffle_hash"), nodes.doc == down.u, "left").select(
        "doc", F.coalesce(F.col("v"), F.col("doc")).alias("cluster")
    )


def _doc_segment_arrays(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_len: int,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(doc, segs[, *keep]): each doc's consecutive ``seg_len``-token
    windows as one array column — the ONE definition of the segmentation
    unit shared by :func:`segment_dedup` and :func:`template_segments`
    (and mirrored by their DuckDB twins' ``segs`` CTEs), including the
    empty-token guard: ``sequence(0, -1)`` would generate a DESCENDING
    [0, -1] in Spark, so zero-token docs get an explicit empty array."""
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_RE), F.lit(0))
    d = df.select(*keep, F.col(id_col).alias("doc"), toks.alias("t"))
    segs_expr = F.expr(
        f"transform(sequence(0, cast(ceil(size(t) / {seg_len}.0) as int) - 1), "
        f"i -> array_join(slice(t, i * {seg_len} + 1, {seg_len}), ' '))"
    )
    return d.select(
        *keep,
        "doc",
        F.when(F.size("t") > 0, segs_expr)
        .otherwise(F.array().cast("array<string>"))
        .alias("segs"),
    )


def segment_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_len: int = 10,
) -> DataFrame:
    """Corpus-level duplicated-passage removal (the CCNet/RefinedWeb
    line-dedup stage, position-window variant).

    Documents are cut into consecutive ``seg_len``-token segments (a
    deterministic stand-in for line splits on corpora without line
    structure); any segment string occurring more than once across the
    WHOLE corpus — boilerplate, navigation, legal footers — is dropped from
    every document, and the survivors are reassembled in position order.

    Returns (doc, n_segments, n_dropped, clean_text). Documents whose
    segments are all dropped (or that tokenize empty) keep a row with
    clean_text = ''.

    Plan shape: one explode to (doc, pos, segment), segment occurrence
    counts via a hash-keyed aggregate on hash60(segment) (8-byte shuffle
    keys; segment text only travels with its own row), an equality join of
    counts back onto the rows, and one groupBy(doc) rebuild with
    sort_array over (pos, segment) structs. No windows, no UDFs, no
    cross-corpus pairwise stage — the same two-shuffle pass at 10^10 docs.
    """
    base = _doc_segment_arrays(df, id_col, text_col, seg_len)
    n_seg = base.select("doc", F.size("segs").alias("n_segments"))
    rows = base.select(
        "doc", F.posexplode("segs").alias("pos", "seg")
    ).withColumn("h", hash60(F.col("seg")))
    counts = rows.groupBy("h").agg(F.count("*").alias("c"))
    kept = rows.join(counts, "h").where(F.col("c") == 1)
    rebuilt = kept.groupBy("doc").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        n_seg.join(rebuilt, "doc", "left")
        .select(
            "doc",
            "n_segments",
            (F.col("n_segments") - F.coalesce(F.col("n_kept"), F.lit(0))).alias("n_dropped"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def template_segments(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    seg_len: int = 10,
    min_docs: int = 2,
    min_share_bp: int = 2500,
) -> DataFrame:
    """Per-site template-segment detection — the site-level boilerplate
    audit (the cross-page repetition heuristic behind CCNet's line dedup
    and trafilatura's site-template removal): content repeated across many
    pages of ONE host is chrome (headers, footers, nav, legal blocks), not
    prose, even when the extractor labeled it main text.

    A segment (consecutive ``seg_len``-token window — the same unit as
    :func:`segment_dedup`) is a template of group g when it occurs in at
    least ``min_docs`` distinct docs of g AND in at least
    ``min_share_bp``/10000 of g's docs. Contrast with segment_dedup, which
    drops any segment duplicated anywhere in the corpus: this operator
    ATTRIBUTES the repetition to a site and measures how much of the
    site's token mass is chrome — the audit that decides whether a host's
    extraction is salvageable or the boilerplate filters (SURVEY F13/F14)
    need site-specific rules.

    Returns one row per group: (source, n_docs, n_template_segments,
    template_occurrences, total_segments, template_share_bp) with
    template_share_bp = template_occurrences * 10000 div total_segments;
    groups with no template keep a row of zeros.

    Scale: one explode to (group, doc, segment-hash) — 8-byte hashes, the
    segment text never shuffles — then a (group, hash) aggregate, a
    per-group doc count joined back, and one per-group rollup. Groups are
    hosts, so the per-(group,hash) key space is bounded by per-host page
    counts, not the corpus; no pairwise stage at any size.
    """
    base = _doc_segment_arrays(
        df.withColumn("grp", F.col(group_col)), id_col, text_col, seg_len,
        keep=("grp",),
    )
    rows = (
        base.select("grp", "doc", F.explode("segs").alias("seg"))
        .withColumn("h", hash60(F.col("seg")))
        .drop("seg")
    )
    gdocs = base.groupBy("grp").agg(F.countDistinct("doc").alias("n_docs"))
    occ = rows.groupBy("grp", "h").agg(
        F.count("*").alias("n_occ"), F.countDistinct("doc").alias("n_docs_with")
    )
    tpl = (
        occ.join(gdocs, "grp")
        .where(
            (F.col("n_docs_with") >= F.lit(min_docs))
            & (F.col("n_docs_with") * 10000 >= F.lit(min_share_bp) * F.col("n_docs"))
        )
        .groupBy("grp")
        .agg(
            F.count("*").alias("n_template_segments"),
            F.sum("n_occ").cast("long").alias("template_occurrences"),
        )
    )
    totals = rows.groupBy("grp").agg(F.count("*").alias("total_segments"))
    return (
        gdocs.join(totals, "grp", "left")
        .join(tpl, "grp", "left")
        .select(
            F.col("grp").alias(group_col),
            "n_docs",
            F.coalesce("n_template_segments", F.lit(0)).cast("long").alias("n_template_segments"),
            F.coalesce("template_occurrences", F.lit(0)).cast("long").alias("template_occurrences"),
            F.coalesce("total_segments", F.lit(0)).cast("long").alias("total_segments"),
            F.expr(
                "CASE WHEN coalesce(total_segments, 0) = 0 THEN 0 "
                "ELSE coalesce(template_occurrences, 0) * 10000 div total_segments END"
            ).cast("long").alias("template_share_bp"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    w: int = 8,
) -> DataFrame:
    """(doc, fp): winnowed character-k-gram fingerprints (Schleimer,
    Wilkerson & Aiken, SIGMOD 2003 — the MOSS algorithm).

    Hash every k-char gram of the lowercased text, slide a w-hash window,
    keep each window's minimum, distinct the selections. The winnowing
    guarantee: two documents sharing any substring of length >= w + k - 1
    share at least one fingerprint (pinned in tests/test_dedup_recall.py)
    — the local-selection counterpart to MinHash's global sampling, and
    the standard tool for quote/boilerplate/plagiarism detection where
    the match is a contiguous span rather than bag-of-shingles overlap.

    Plan shape: one projection with higher-order array functions
    (transform/slice/array_min — whole-stage-codegen JVM work, no Python),
    then explode + distinct keyed on the 60-bit hash. Density is 2/(w+1)
    fingerprints per gram in expectation, so the exploded volume is a
    fraction of the raw gram stream; downstream joins shuffle only
    (doc, fp) int pairs, never text. Docs shorter than w + k - 1 chars
    have no complete window and are filtered out (no fingerprints).
    """
    # lower() is hoisted into its own projection: referencing it inside the
    # transform lambda defeats codegen CSE and recomputes it per element
    # (same lesson as the round-3 shingling fix, BENCH/BASELINE.md)
    low = df.select(
        F.col(id_col).alias("doc"), F.lower(F.col(text_col)).alias("_t")
    ).where(F.length("_t") >= k + w - 1)
    grams = F.expr(
        f"transform(sequence(1, length(_t) - {k} + 1), "
        f"p -> CAST(conv(substring(md5(substring(_t, p, {k})), 1, 15), 16, 10) AS BIGINT))"
    )
    g = low.select("doc", grams.alias("hs"))
    wins = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("hs") - w),
            lambda s: F.array_min(F.slice(F.col("hs"), s + 1, w)),
        )
    )
    return g.select("doc", F.explode(wins).alias("fp"))


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    w: int = 8,
    df_cap: int = 50,
    min_shared: int = 3,
) -> DataFrame:
    """(doc_a, doc_b, n_shared): pairs sharing >= min_shared winnowed
    fingerprints — contiguous-overlap near-dup candidates.

    ``df_cap`` is the kernel's ``max_block``: stop-fingerprints (site
    chrome, boilerplate spans) held by more than ``df_cap`` docs are
    pruned before the pair expansion.
    """
    # both sides of the self-join (and the cap window) consume the
    # fingerprint stream; checkpoint so the 10M-md5 gram scan runs once
    fps = winnow_fingerprints(df, id_col, text_col, k, w).localCheckpoint(eager=False)
    return (
        blocked_pairs(fps, "doc", "fp", max_block=df_cap)
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def dup_span_removal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Exact duplicate-substring removal (Lee et al. 2022, *Deduplicating
    Training Data Makes Language Models Better* — the ExactSubstr pass).

    Every SLIDING ``n``-token window is hashed; a window whose exact token
    sequence occurs more than once across the whole corpus (including twice
    within one document) marks all ``n`` of its positions as duplicated, and
    those positions are removed. For fixed ``n`` this is the paper's
    suffix-array duplication criterion expressed as a dataflow: a
    corpus-wide n-gram occurrence count instead of a suffix array.

    Unlike :func:`segment_dedup` (disjoint windows: catches only repeats
    aligned to segment boundaries) this is alignment-free — a duplicated run
    is caught at ANY offset, and overlapping duplicated windows merge into
    one removed span.

    Returns (doc, n_tokens, n_removed, clean_text). Documents shorter than
    ``n`` tokens (or empty) keep every token.

    Plan shape (the 10^10-doc form): one explode to sliding-window start
    rows carrying only (doc, pos, hash60(window)) — window text never
    travels; an 8-byte-keyed occurrence count; an equality join back; a
    per-doc covered-position explode (``distinct`` bounds it at one row per
    token); a left-anti join on (doc, pos) against the token rows; one
    groupBy(doc) rebuild. Every shuffle is linear in corpus token count; no
    pairwise stage, no windows over the corpus, no Python.
    """
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_RE), F.lit(0))
    # one tokenize pass: n_tok, the window stream and the rebuild all read
    # this materialization (Catalyst otherwise re-scans + re-tokenizes the
    # corpus once per consumer — the recurring CSE cost in this repo)
    a = df.select(F.col(id_col).alias("doc"), toks.alias("t")).localCheckpoint(
        eager=False
    )
    n_tok = a.select("doc", F.size("t").alias("n_tokens"))
    # hash60 inline inside the lambda so only (doc, pos, h) ever leave the scan
    win = F.expr(
        f"transform(sequence(0, size(t) - {n}), i -> named_struct("
        f"'pos', i, "
        f"'h', CAST(conv(substr(md5(array_join(slice(t, i + 1, {n}), ' ')), 1, 15), 16, 10) AS BIGINT)))"
    )
    starts = (
        a.where(F.size("t") >= n)
        .select("doc", F.explode(win).alias("w"))
        .select("doc", F.col("w.pos").alias("pos"), F.col("w.h").alias("h"))
        # window hashing feeds both the occurrence count and the join-back
        # side; materialize so each window is hashed once, not twice
        .localCheckpoint(eager=False)
    )
    counts = starts.groupBy("h").agg(F.count("*").alias("c"))
    dup_starts = starts.join(counts.where(F.col("c") >= 2), "h").select("doc", "pos")
    covered = dup_starts.select(
        "doc",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))).alias("p"),
    ).distinct()
    tok_rows = a.select("doc", F.posexplode("t").alias("p", "tok"))
    kept = tok_rows.join(covered, ["doc", "p"], "left_anti")
    reb = kept.groupBy("doc").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("p", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return n_tok.join(reb, "doc", "left").select(
        "doc",
        "n_tokens",
        (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))).alias("n_removed"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


def incremental_lsh_keepset(
    new_df: DataFrame,
    old_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    k: int = MINHASH_K,
    band_size: int = LSH_BAND_SIZE,
) -> DataFrame:
    """Incremental near-dup keepset: dedup a NEW crawl increment against an
    already-INDEXED corpus — the continuous-crawl pattern where old x old
    pairs are never re-derived.

    A new document is dropped when LSH candidates + exact-Jaccard verify
    find a near-dup (jaccard >= threshold) either in the old corpus (any
    id) or among LOWER-id new documents (the deterministic first-occurrence
    rule, as in exact_dedup). Returns one row per new document:
    (doc, n_old_dups, n_new_dups, keep). Ids must be unique across both
    inputs (in the crawl they are url_hash-derived). Documents that shingle
    empty have no candidates and are kept.

    Scale shape: the old side's shingles + signatures are computed once
    here but are exactly what a production pipeline PERSISTS between
    increments (signature store), so the recurring cost is the increment's
    own O(new x K) signatures plus band joins whose left side is only the
    increment — the whole point of incremental dedup at 10^10 docs. No
    old x old pair ever forms: the band join is new-vs-(old + lower new).
    """
    sh_new = doc_shingles(new_df, id_col, text_col, n).localCheckpoint(eager=False)
    sh_old = doc_shingles(old_df, id_col, text_col, n).localCheckpoint(eager=False)
    nb = _band_rows(minhash_signature(sh_new, k), k, band_size)
    ob = _band_rows(minhash_signature(sh_old, k), k, band_size)
    # not blocked_pairs: the join is asymmetric — new (left) against old +
    # lower-id new (right); the symmetric kernel over old + new would form
    # every old x old pair, the cost this operator exists to avoid
    rhs = ob.withColumn("side", F.lit("old")).unionByName(
        nb.withColumn("side", F.lit("new"))
    )
    cand = (
        nb.alias("a")
        .join(rhs.alias("b"), "band")
        .where((F.col("b.side") == "old") | (F.col("b.doc") < F.col("a.doc")))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    ver = _pair_jaccard(cand, sh_new.unionByName(sh_old), threshold).select("doc_a", "doc_b")
    old_ids = old_df.select(F.col(id_col).alias("doc_b"), F.lit(1).alias("_is_old"))
    agg = (
        ver.join(old_ids, "doc_b", "left")
        .groupBy("doc_a")
        .agg(
            F.sum(F.coalesce(F.col("_is_old"), F.lit(0))).alias("n_old_dups"),
            F.sum(F.when(F.col("_is_old").isNull(), 1).otherwise(0)).alias(
                "n_new_dups"
            ),
        )
    )
    return (
        new_df.select(F.col(id_col).alias("doc"))
        .join(agg.withColumnRenamed("doc_a", "doc"), "doc", "left")
        .select(
            "doc",
            F.coalesce(F.col("n_old_dups"), F.lit(0)).cast("long").alias("n_old_dups"),
            F.coalesce(F.col("n_new_dups"), F.lit(0)).cast("long").alias("n_new_dups"),
        )
        .withColumn("keep", (F.col("n_old_dups") + F.col("n_new_dups")) == F.lit(0))
    )


def ngram_novelty(
    df: DataFrame,
    ref_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-doc n-gram novelty against a reference corpus: the share of the
    document's DISTINCT word-``n``-gram shingles that the reference never
    contains — the inverse view of benchmark contamination and the cheap
    screen for verbatim memorization / boilerplate recycling (a doc whose
    shingles all exist in the reference adds no new n-gram mass).

    Returns (doc, n_shingles, n_novel, novelty_pct) with novelty_pct in
    exact integer percent (``div``). Documents shorter than ``n`` tokens
    have no shingles and are omitted (same contract as the shingle-based
    dedup family).

    Scale shape: both shingle streams are 8-byte hashes (text never
    travels); the reference side collapses to a DISTINCT shingle set once
    (persistable between increments, like the incremental-LSH signature
    store) and the scored side anti-joins it — one hash-keyed shuffle each,
    no pairwise stage.
    """
    sh = doc_shingles(df, id_col, text_col, n, wide=True).localCheckpoint(
        eager=False
    )
    ref = doc_shingles(ref_df, id_col, text_col, n, wide=True).select("sh").distinct()
    tot = sh.groupBy("doc").agg(F.count("*").alias("n_shingles"))
    nov = sh.join(ref, "sh", "left_anti").groupBy("doc").agg(
        F.count("*").alias("n_novel")
    )
    return (
        tot.join(nov, "doc", "left")
        .select(
            "doc",
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
        )
        .withColumn("novelty_pct", F.expr("(n_novel * 100) div n_shingles"))
    )


def source_overlap(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    n: int = 3,
    group_cap: int = 10,
    top_n: int = 20,
) -> DataFrame:
    """Mirror detection: content overlap between source/host pairs, as
    shared word-``n``-gram shingles (Broder 1997's resemblance machinery,
    lifted from doc pairs to SOURCE pairs — the classic mirror-site and
    syndicated-feed detector; Bharat & Broder WWW 1999 measured ~10% of the
    web to be mirrored this way, and a production crawl demotes the
    duplicated side of every detected pair before spending fetch budget).

    Output: (source_a, source_b, n_shared, containment_ppm) for the top
    ``top_n`` pairs by shared distinct shingles — containment is
    n_shared / min(|A|, |B|) in floor parts-per-million, the "how much of
    the smaller site is mirrored" reading (exact integers, value-hashable).

    Scale: shingles reduce to DISTINCT (group, sh) FIRST — the join volume
    is keyed by source count, not document count. Shingles present in more
    than ``group_cap`` distinct groups are dropped before the pair join
    (:func:`drop_hot_blocks`): a boilerplate shingle shared by 10^5 hosts
    would otherwise contribute ~10^10 pairs; capped, each surviving shingle
    yields at most C(group_cap, 2) pairs. Per-group sizes are computed on
    the CAPPED shingle set so containment stays an exact function of the
    joined data on both engines.
    """
    sh = (
        doc_shingles(df, id_col, text_col, n, wide=True)
        .join(
            df.select(
                F.col(id_col).alias("doc"), F.col(group_col).alias("grp")
            ),
            "doc",
        )
        .select("grp", "sh")
        .distinct()
    )
    # capped once, before the sizes: both the pairs and the containment
    # denominators see the same stop-shingle-free set
    sh = drop_hot_blocks(sh, "sh", group_cap)
    sizes = sh.groupBy("grp").agg(F.count("*").alias("sz"))
    pairs = (
        blocked_pairs(sh, "grp", "sh")
        .groupBy(F.col("grp_a").alias("source_a"), F.col("grp_b").alias("source_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("grp").alias("source_a"), F.col("sz").alias("_sza"))
    sb = sizes.select(F.col("grp").alias("source_b"), F.col("sz").alias("_szb"))
    return (
        pairs.join(sa, "source_a")
        .join(sb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.expr(
                "CAST(n_shared * 1000000 DIV least(_sza, _szb) AS BIGINT)"
            ).alias("containment_ppm"),
        )
        .orderBy(F.desc("n_shared"), F.asc("source_a"), F.asc("source_b"))
        .limit(top_n)
    )


def cluster_representatives(
    clusters: DataFrame,
    quality: DataFrame,
    cluster_col: str = "cluster",
    id_col: str = "doc",
    quality_col: str = "quality",
) -> DataFrame:
    """Keep-best-per-cluster representative selection: given near-dup
    cluster assignments (any of neardup_clusters / neardup_clusters_star)
    and a per-doc quality score, pick ONE representative per cluster — the
    highest-quality member, ties to the smallest doc id. This is the
    FineWeb/RefinedWeb retention rule (keep the best copy, drop the rest)
    as a first-class operator rather than an implicit min-id convention.

    ``quality`` is a (id_col, quality_col) frame; returns
    (cluster, kept_doc, n_members, quality) one row per cluster.

    Scale: one equality join of the cluster table against the quality
    table on doc id, then a per-cluster argmax window whose partitions are
    bounded by cluster size (near-dup clusters are small by construction —
    a mega-cluster is a dedup bug, see neardup_clusters' convergence
    guard), never a global window.
    """
    j = clusters.select(
        F.col(cluster_col).alias("cluster"), F.col(id_col).alias("doc")
    ).join(
        quality.select(F.col(id_col).alias("doc"), F.col(quality_col).alias("q")),
        "doc",
    )
    w = Window.partitionBy("cluster").orderBy(F.desc("q"), F.asc("doc"))
    wc = Window.partitionBy("cluster")
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(wc).cast("long"))
        .where(F.col("_rn") == 1)
        .select(
            "cluster",
            F.col("doc").alias("kept_doc"),
            "n_members",
            F.col("q").alias(quality_col),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    th_num: int = 4,
    th_den: int = 5,
) -> DataFrame:
    """EXACT shingle-containment similarity join (Broder 1997's asymmetric
    resemblance variant): all ORDERED pairs (a, b) with
    ``|S(a) n S(b)| / |S(a)| >= th_num/th_den`` — "a is contained in b".

    Jaccard-family dedup misses the classic web case of a SHORT document
    embedded verbatim in a LONG one (a syndicated article inside a portal
    page, a quoted post inside a thread): the union is dominated by the
    long side, so Jaccard stays low while containment of the short side is
    ~1. The reference dedups URLs only (queue.py:59-103); corpus-level
    containment is what a training pipeline runs to drop subset documents.

    Scale path — the asymmetric prefix filter: order each doc's shingles
    rarest-global-document-frequency-first; if containment(a -> b) >= t then
    the overlap has >= ceil(t*|S(a)|) shingles, so by pigeonhole at least
    one of a's first ``|S(a)| - ceil(t*|S(a)|) + 1`` shingles is shared with
    b. Candidates therefore come from an equality join of a's PREFIX
    shingles against b's FULL shingle set — no false negatives, and the
    prefix side carries only globally-rare shingles, which bounds the
    expansion the way prefix_jaccard_pairs does for the symmetric case
    (hot shingles land in the tail of every prefix order). Verification is
    the same hash-keyed intersection count; everything stays in int64.

    Like prefix_jaccard_pairs, candidates are additionally pruned INSIDE
    the join by positional bounds evaluated per matched row. Both sides
    sort by the SAME global (df, sh) key, so for a true pair the minimal
    common shingle is one physical element appearing at 0-based positions
    (p_a, p_b) in the two ordered sets, every other common element sits
    strictly after it in BOTH orders, and therefore
    ``inter <= min(|S(a)| - p_a, |S(b)| - p_b)``; containment >= t needs
    ``inter >= ceil(t*|S(a)|)``, so a row with
    ``(sz_b - p_b)*th_den < th_num*sz_a`` (or the a-side analog) can be
    dropped — a valid pair always survives via its minimal-common-shingle
    row. The b-side bound strictly subsumes the old post-join size filter
    (``sz_b - p_b <= sz_b``) and prunes hot-shingle matches: hot shingles
    sort LAST in every doc's rarest-first order, so their matches carry
    ``sz_b - p_b`` near zero. Measured at sf0.1: 12.5M -> 9.9M match rows,
    288k -> 246k candidate pairs, 172 -> 143 MB total shuffle — survivors
    are genuine rare-shingle co-occurrences, which sit early in BOTH
    orders and are exactly the informative candidates — and the post-join
    size-filter joins are gone (sizes ride the matched rows).

    Returns (doc_a, doc_b, inter, sz_a, containment_bp, jaccard_bp), one
    row per ordered pair, containment_bp = inter*10000 div sz_a.
    """
    sh = doc_shingles(df, id_col, text_col, n).localCheckpoint(eager=False)
    # both sides of the candidate join read it
    per_doc = _rarest_first(sh, th_num, th_den).localCheckpoint(eager=False)
    prefix = per_doc.select(
        "doc", "sz", F.posexplode("_pref").alias("pos", "sh")
    )
    # the b side is the FULL ordered set with positions (not the raw sh
    # stream): positions feed the in-join bounds documented above
    full = per_doc.select(
        "doc", "sz", F.posexplode("_ord").alias("pos", "sh")
    )
    sz_a, sz_b = F.col("a.sz"), F.col("b.sz")
    # not blocked_pairs: the pairs are ORDERED (prefix of a against all of
    # b, a != b) and the positional bounds run inside the join condition
    cand = (
        prefix.alias("a")
        .join(
            full.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc") != F.col("b.doc"))
            # positional bounds (minimal-common-shingle argument, see
            # docstring); the b-side one subsumes the size filter
            & ((sz_b - F.col("b.pos")) * th_den >= th_num * sz_a)
            & ((sz_a - F.col("a.pos")) * th_den >= th_num * sz_a),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            sz_a.alias("sz_a"),
            sz_b.alias("sz_b"),
        )
        .distinct()
    )
    inter = _shared_counts(cand, sh)
    return (
        inter.where(F.col("inter") * th_den >= F.col("sz_a") * th_num)
        .select(
            "doc_a",
            "doc_b",
            "inter",
            "sz_a",
            F.expr("inter * 10000 div sz_a").alias("containment_bp"),
            F.expr("inter * 10000 div (sz_a + sz_b - inter)").alias("jaccard_bp"),
        )
    )


def bbit_minhash_estimates(
    pairs: DataFrame, shingles: DataFrame, k: int = 64, b: int = 2
) -> DataFrame:
    """b-bit minwise hashing (Li & Konig, WWW 2010): store only the lowest
    ``b`` bits of each of the K minhash values — a (64/b)-fold reduction of
    the signature store (b=2, K=64: 16 bytes per doc instead of 512, the
    difference between a signature table that fits executor memory at
    10^10 docs and one that does not) — and correct the truncation's
    collision floor in the estimator:

        E[match / K] = R + (1 - R) / 2^b
        R_hat        = (match * 2^b - K) / (K * (2^b - 1))

    For each candidate pair this returns the full-width estimate, the
    b-bit estimate, and the raw agreement counts, all in exact integer
    basis points (the negative-estimate corner is clamped to 0 in both
    engines BEFORE the division — Spark's `div` truncates toward zero
    while DuckDB's `//` floors, so a signed intermediate would not
    value-hash). Columns: (doc_a, doc_b, match_full, match_bbit,
    est_full_bp, est_bbit_bp) plus whatever ``pairs`` carried.

    Scale: one K-min signature shuffle (shared shape with
    minhash_signature) + two hash joins keyed on the pair's doc ids; the
    agreement sums are map-only expressions over the joined row.
    """
    m = 1 << b
    sig = minhash_signature(shingles, k).localCheckpoint(eager=False)
    sa = sig.select(
        F.col("doc").alias("doc_a"), *[F.col(f"mh{i}").alias(f"_a{i}") for i in range(k)]
    )
    sb = sig.select(
        F.col("doc").alias("doc_b"), *[F.col(f"mh{i}").alias(f"_b{i}") for i in range(k)]
    )
    joined = pairs.join(sa, "doc_a").join(sb, "doc_b")
    match_full = sum(
        F.when(F.col(f"_a{i}") == F.col(f"_b{i}"), 1).otherwise(0) for i in range(k)
    ).cast("long")
    match_b = sum(
        F.when(
            F.pmod(F.col(f"_a{i}"), F.lit(m)) == F.pmod(F.col(f"_b{i}"), F.lit(m)), 1
        ).otherwise(0)
        for i in range(k)
    ).cast("long")
    out = joined.select(
        *pairs.columns,
        match_full.alias("match_full"),
        match_b.alias("match_bbit"),
    )
    return out.select(
        *out.columns,
        F.expr(f"(match_full * 10000) div {k}").cast("long").alias("est_full_bp"),
        F.expr(
            f"CASE WHEN match_bbit * {m} <= {k} THEN 0 "
            f"ELSE ((match_bbit * {m} - {k}) * 10000) div ({k} * {m - 1}) END"
        ).cast("long").alias("est_bbit_bp"),
    )
