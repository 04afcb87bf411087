"""Blocked pairing: the one "block → join → verify" operator every pairwise
near-duplicate and proximity query is built on.

``blocked_pairs`` owns the four decisions each pairing needs — key
explode, exactly-once orientation, join policy, verify — so a caller
supplies only its blocking keys and its verify step.  The exactly-once
argument and the join policy are stated once, in README "Scale design".
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from itertools import product

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def half_plane(dims: int) -> list[tuple[int, ...]]:
    """Neighbour offsets in {-1, 0, 1}^dims that are lexicographically
    >= 0: the zero offset plus exactly one of ``o`` / ``-o`` for every
    other neighbour (1-D: 0, +1; 2-D: 5 of the 9 cells)."""
    return [o for o in product((-1, 0, 1), repeat=dims) if o >= (0,) * dims]


def blocked_pairs(
    left: DataFrame,
    right: DataFrame | None = None,
    *,
    id: str,
    pair: tuple[str, str],
    keys: Sequence[str] = (),
    near: Sequence[str] = (),
    bands: Column | None = None,
    carry: Sequence[str] = (),
    attach: Sequence[str] = (),
    verify: Callable[[DataFrame], DataFrame] | None = None,
    dedup_pairs: bool | None = None,
    pin: bool = False,
) -> DataFrame:
    """Pairs of rows that share a block, verified.

    Self mode (``right`` None) emits each unordered pair of distinct
    ``id`` values once, as ``pair[0] < pair[1]``; store mode emits every
    (left, right) pair with ``pair[0] != pair[1]``.  Blocks:

    - ``keys``: equi-join columns on both sides;
    - ``near``: integer grid columns (self mode only); rows pair when
      every grid coordinate differs by at most 1 — the left side is
      exploded to its half-plane neighbour cells;
    - ``bands``: an array<struct> expression exploded on both sides; its
      fields join as keys, so a pair is a candidate when it agrees on
      any band.

    Payload columns reach the verify as ``<col>_a`` (left) / ``<col>_b``
    (right): ``carry`` rides through the block join, ``attach`` is joined
    back by id after the candidate pairs are de-duplicated (for payloads
    too wide to shuffle once per band).  ``verify`` maps the candidate
    frame to its verified rows and may add measure columns.

    Output: ``pair`` ids, then ``keys``, then the measures ``verify``
    added.  Pairs are de-duplicated when bands can emit one pair more
    than once (``dedup_pairs`` overrides, for callers that collapse
    pairs downstream).  ``pin`` fixes the left side's exchange at
    ``spark.sql.shuffle.partitions`` partitions, for pair stages whose
    per-row verify cost a byte-sized coalesce would misjudge.
    """
    store = right is not None
    if store and near:
        raise ValueError("near blocks pair a relation with itself only")
    a_id, b_id = pair
    A, B = F.col(a_id), F.col(b_id)

    def side(df: DataFrame, out_id: str, sfx: str, probe: bool) -> DataFrame:
        s = df.select(
            F.col(id).alias(out_id), *keys, *near,
            *[F.col(c).alias(f"{c}_{sfx}") for c in carry],
            *([F.explode(bands).alias("__bk__")] if bands is not None else []),
        )
        if bands is not None:
            s = s.select(*[c for c in s.columns if c != "__bk__"], "__bk__.*")
        if probe and near:
            flat = [c for c in s.columns if c not in near]
            offsets = F.array(*[
                F.struct(
                    *[F.lit(d).alias(f"d{i}") for i, d in enumerate(o)],
                    F.lit(not any(o)).alias("same"),
                )
                for o in half_plane(len(near))
            ])
            s = s.select(*s.columns, F.explode(offsets).alias("__o__")).select(
                *flat,
                *[(F.col(k) + F.col(f"__o__.d{i}")).alias(k)
                  for i, k in enumerate(near)],
                F.col("__o__.same").alias("__same__"),
            )
        return s

    rhs = right if store else left
    a = side(left, a_id, "a", probe=True)
    b = side(rhs, b_id, "b", probe=False)
    payload_b = {b_id, *(f"{c}_b" for c in carry)}
    on = [c for c in b.columns if c not in payload_b]
    hinted = not store and not left.isStreaming
    if hinted:
        if pin:
            par = int(left.sparkSession.conf.get("spark.sql.shuffle.partitions"))
            a = a.repartition(par, *on)
        a = a.hint("merge")
    if store:
        orient = A != B
    elif near:
        orient = F.when(F.col("__same__"), A < B).otherwise(A != B)
    else:
        orient = A < B
    pairs = a.join(b, on).filter(orient)

    def verified(p: DataFrame) -> tuple[DataFrame, list[str]]:
        out = verify(p) if verify else p
        return out, [c for c in out.columns if c not in p.columns]

    measures: list[str] = []
    if not attach:
        pairs, measures = verified(pairs)
    ids = [F.least(A, B).alias(a_id), F.greatest(A, B).alias(b_id)] \
        if near else [a_id, b_id]
    pairs = pairs.select(*ids, *keys, *measures)
    dedup = bands is not None if dedup_pairs is None else dedup_pairs
    if dedup:
        pairs = pairs.dropDuplicates([a_id, b_id])
    if attach:
        for df, out_id, sfx in ((left, a_id, "a"), (rhs, b_id, "b")):
            payload = df.select(
                F.col(id).alias(out_id),
                *[F.col(c).alias(f"{c}_{sfx}") for c in attach],
            )
            pairs = (pairs.hint("merge") if hinted else pairs).join(
                payload, out_id
            )
        pairs, measures = verified(pairs)
        pairs = pairs.select(a_id, b_id, *keys, *measures)
    return pairs
