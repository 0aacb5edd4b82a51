"""The blocked-pair kernel (operators/dedup.blocked_pairs) against brute force.

Every near-dup family forms its candidates through this one self-join, so
its contract is pinned directly: one row per (pair, shared key value) with
``{id}_a < {id}_b``, carry columns on both sides, and ``max_block`` dropping
exactly the keys held by more than ``max_block`` rows.
"""

from __future__ import annotations

import random
from collections import Counter, defaultdict
from math import comb

import pytest

from crawler_spark.operators.dedup import blocked_pairs

SCHEMA = "id long, k1 int, k2 string, c long"
HOT = 99  # planted hot value of k1
HOT_B = 12  # rows holding it


def _rows(seed: int) -> list[tuple]:
    """Random rows where an id sits under several keys (a few rows per id),
    plus one planted hot block of HOT_B distinct ids under k1 = HOT."""
    rnd = random.Random(seed)
    rows = []
    for i in range(40):
        for _ in range(rnd.randint(1, 3)):
            rows.append((i, rnd.randint(0, 7), rnd.choice("xyz"), i * 7 + 1))
    for i in rnd.sample(range(40), HOT_B):
        rows.append((i, HOT, rnd.choice("xyz"), i * 7 + 1))
    return rows


def _brute(rows, keys, max_block, carry) -> Counter:
    cols = {"id": 0, "k1": 1, "k2": 2, "c": 3}
    blocks = defaultdict(list)
    for r in rows:
        blocks[tuple(r[cols[k]] for k in keys)].append(r)
    out = Counter()
    for kv, rs in blocks.items():
        if max_block is not None and len(rs) > max_block:
            continue
        for a in rs:
            for b in rs:
                if a[0] < b[0]:
                    out[(*kv, a[0], *[a[cols[c]] for c in carry],
                         b[0], *[b[cols[c]] for c in carry])] += 1
    return out


def _kernel(spark, rows, keys, max_block, carry) -> Counter:
    df = spark.createDataFrame(rows, SCHEMA)
    out = blocked_pairs(df, "id", keys if len(keys) > 1 else keys[0],
                        max_block=max_block, carry=carry)
    cols = [*keys, "id_a", *[f"{c}_a" for c in carry], "id_b", *[f"{c}_b" for c in carry]]
    assert out.columns == cols  # the documented order (callers rename by position)
    return Counter(tuple(r) for r in out.collect())


@pytest.mark.parametrize("seed", [1, 2])
@pytest.mark.parametrize(
    "keys,carry",
    [(["k1"], ()), (["k1"], ("c",)), (["k1", "k2"], ("c",))],
    ids=["single", "carry", "composite"],
)
def test_blocked_pairs_matches_brute_force(spark, seed, keys, carry):
    rows = _rows(seed)
    # the cap below, at and above the planted hot block, and no cap
    for max_block in (None, HOT_B - 1, HOT_B, HOT_B + 1):
        assert _kernel(spark, rows, keys, max_block, carry) == _brute(
            rows, keys, max_block, carry
        ), max_block


def test_hot_block_capped(spark):
    """A planted hot key yields no pairs once it exceeds the cap, and the
    pair count is exactly sum C(b, 2) over the kept blocks — the expansion
    is bounded by the cap, not by the hot block."""
    rows = [(i, HOT, "x", 0) for i in range(200)]  # b = 200: 19,900 pairs
    rows += [(1000 + i, blk, "x", 0) for blk in range(5) for i in range(blk + 2)]
    df = spark.createDataFrame(rows, SCHEMA)
    out = blocked_pairs(df, "id", "k1", max_block=10)
    assert out.where(f"k1 = {HOT}").count() == 0
    assert out.count() == sum(comb(blk + 2, 2) for blk in range(5))
    assert blocked_pairs(df, "id", "k1").count() == comb(200, 2) + out.count()
