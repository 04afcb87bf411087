"""``operators/pairs.blocked_pairs`` alone against a brute-force cross join.

Seeded random integer keys (with NULLs) exercise every block kind —
exact keys, 1-D and 2-D half-plane ``near`` cells, multi-band keys — in
self and store mode.  The brute force is blind to blocking: it compares
every row pair directly, so a lost neighbour offset, a pair emitted
twice, or a NULL key that pairs all fail here.
"""

from __future__ import annotations

import random
from collections import Counter
from itertools import combinations, product

from pyspark.sql import functions as F

from etl_olho_vivo_spark.operators.pairs import blocked_pairs, half_plane


def _gap_at_most(limit):
    return lambda p: p.withColumn(
        "gap", F.abs(F.col("v_a") - F.col("v_b"))
    ).filter(F.col("gap") <= limit)


def _rows(df, *cols):
    return Counter(tuple(r[c] for c in cols) for r in df.collect())


def _maybe(rng, x, p=0.1):
    return None if rng.random() < p else x


def test_half_plane_holds_one_of_each_opposite_pair():
    assert half_plane(1) == [(0,), (1,)]
    assert half_plane(2) == [(0, 0), (0, 1), (1, -1), (1, 0), (1, 1)]
    for d in (1, 2, 3):
        hp = set(half_plane(d))
        assert (0,) * d in hp
        for o in product((-1, 0, 1), repeat=d):
            if any(o):
                assert (o in hp) != (tuple(-x for x in o) in hp), o


def test_one_dimensional_bands_vs_bruteforce(spark):
    """Self mode, one exact key plus a 1-D ``near`` band, verify with a
    measure.  Planted: a same-band pair, an adjacent-band pair, and a
    pair two bands apart that must not pair."""
    rng = random.Random(7)
    rows = [
        (1000, 0, 10, 1), (1001, 0, 10, 2),   # same band
        (1002, 0, 20, 3), (1003, 0, 21, 4),   # adjacent bands
        (1004, 0, 30, 5), (1005, 0, 32, 6),   # two bands apart
    ]
    rows += [
        (i, _maybe(rng, rng.randint(0, 1)), _maybe(rng, rng.randint(0, 8)),
         rng.randint(0, 12))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "id long, k int, band int, v int")
    got = _rows(
        blocked_pairs(
            df, id="id", pair=("a", "b"), keys=("k",), near=("band",),
            carry=("v",), verify=_gap_at_most(6),
        ),
        "a", "b", "k", "gap",
    )
    want = Counter()
    for (i, k, g, v), (j, k2, g2, v2) in combinations(rows, 2):
        if None in (k, k2, g, g2) or k != k2 or abs(g - g2) > 1:
            continue
        if abs(v - v2) <= 6:
            want[(min(i, j), max(i, j), k, abs(v - v2))] += 1
    assert got == want
    assert (1000, 1001, 0, 1) in got and (1002, 1003, 0, 1) in got
    assert not any(a == 1004 and b == 1005 for a, b, *_ in got)


def test_two_dimensional_cells_with_repeated_ids_vs_bruteforce(spark):
    """Self mode over a 2-D grid where one id has several rows (a
    vehicle with several pings): every row pair of distinct ids in the
    same or adjacent cells is emitted exactly once, ids ordered."""
    rng = random.Random(11)
    rows = [
        (rng.randint(0, 30), _maybe(rng, rng.randint(-3, 3)),
         _maybe(rng, rng.randint(-3, 3)), rng.randint(0, 9))
        for _ in range(160)
    ]
    df = spark.createDataFrame(rows, "id long, cy int, cx int, v int")
    got = _rows(
        blocked_pairs(
            df, id="id", pair=("a", "b"), near=("cy", "cx"), carry=("v",),
            verify=_gap_at_most(9),
        ),
        "a", "b", "gap",
    )
    want = Counter()
    for (i, y, x, v), (j, y2, x2, v2) in combinations(rows, 2):
        if i == j or None in (y, x, y2, x2):
            continue
        if abs(y - y2) <= 1 and abs(x - x2) <= 1:
            want[(min(i, j), max(i, j), abs(v - v2))] += 1
    assert got == want


def _bands(seg):
    return F.transform(
        F.sequence(F.lit(0), F.lit(2)),
        lambda b: F.struct(b.alias("band"), F.col(seg)[b].alias("seg")),
    )


def test_multi_band_self_pairs_are_deduplicated(spark):
    """Band keys: a pair agreeing in several bands is emitted once; a
    NULL segment never matches."""
    rng = random.Random(5)
    rows = [(0, [1, 2, 3], 0), (1, [1, 2, 3], 0)]  # agree in all 3 bands
    rows += [
        (i, [_maybe(rng, rng.randint(0, 5)) for _ in range(3)],
         rng.randint(0, 9))
        for i in range(2, 90)
    ]
    df = spark.createDataFrame(rows, "id long, segs array<int>, v int")
    out = blocked_pairs(
        df, id="id", pair=("a", "b"), bands=_bands("segs"), carry=("v",),
        verify=_gap_at_most(4),
    )
    got = _rows(out, "a", "b", "gap")
    want = Counter()
    for (i, s, v), (j, s2, v2) in combinations(rows, 2):
        shared = any(x is not None and x == y for x, y in zip(s, s2))
        if shared and abs(v - v2) <= 4:
            want[(min(i, j), max(i, j), abs(v - v2))] = 1
    assert got == want
    assert got[(0, 1, 0)] == 1


def test_store_mode_vs_bruteforce(spark):
    """Store mode, bands with an attached payload: every (new, old) pair
    sharing a band, once, except a replayed id matching itself."""
    rng = random.Random(3)
    old = [
        (i, [_maybe(rng, rng.randint(0, 4)) for _ in range(3)],
         rng.randint(0, 9))
        for i in range(60)
    ]
    new = [
        (100 + i, [_maybe(rng, rng.randint(0, 4)) for _ in range(3)],
         rng.randint(0, 9))
        for i in range(25)
    ]
    new.append(old[0])  # replayed write: same id, same row
    schema = "id long, segs array<int>, v int"
    out = blocked_pairs(
        spark.createDataFrame(new, schema), spark.createDataFrame(old, schema),
        id="id", pair=("new", "old"), bands=_bands("segs"), attach=("v",),
        verify=_gap_at_most(5),
    )
    got = _rows(out, "new", "old", "gap")
    want = Counter()
    for (i, s, v), (j, s2, v2) in product(new, old):
        shared = any(x is not None and x == y for x, y in zip(s, s2))
        if i != j and shared and abs(v - v2) <= 5:
            want[(i, j, abs(v - v2))] = 1
    assert got == want
    assert not any(a == b for a, b, _ in got)


def test_store_mode_exact_keys_keep_every_row_pair(spark):
    """Store mode on exact keys (no bands): every matching row pair
    survives, directed new → old, with NULL keys never pairing."""
    rng = random.Random(9)
    new = [(i, _maybe(rng, rng.randint(0, 3))) for i in range(30)]
    old = [(i, _maybe(rng, rng.randint(0, 3))) for i in range(20, 60)]
    schema = "id long, k int"
    got = _rows(
        blocked_pairs(
            spark.createDataFrame(new, schema),
            spark.createDataFrame(old, schema),
            id="id", pair=("new", "old"), keys=("k",),
        ),
        "new", "old", "k",
    )
    want = Counter(
        (i, j, k) for (i, k), (j, k2) in product(new, old)
        if k is not None and k == k2 and i != j
    )
    assert got == want
