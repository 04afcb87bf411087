"""Structural physical-plan inspection over py4j.

Plan-shape tests assert on the tree, not on substrings of its printed
form: a printed plan repeats a reused exchange's subtree, reprints a
cached relation's build plan inside every reader, and mixes the final
adaptive plan with the initial one.  This helper walks the FINAL
physical plan node by node instead:

- ``AdaptiveSparkPlanExec`` is entered through ``executedPlan`` (the
  final plan once the frame has been executed — call ``collect()``
  first) and query stages through their ``plan``;
- ``ReusedExchangeExec`` is a leaf: its subtree was already counted
  where the exchange was first planned;
- ``InMemoryTableScanExec`` is a boundary: the cached relation's own
  plan is walked separately, one cache level deeper, once per distinct
  cached relation.

Usage::

    df.collect()
    shape = plan_shape(df)            # [Counter level 0, level 1, ...]
    shape[0]["SortMergeJoinExec"]
    exchanges(shape[0])               # shuffle exchanges planned
    (join,) = nodes(df, "SortMergeJoinExec")
    join.text                         # that node's own one-line string
"""

from __future__ import annotations

from collections import Counter
from typing import NamedTuple

_MAX_FIELDS = 1000


class Node(NamedTuple):
    level: int  # 0 = the query's own plan, n = inside n nested caches
    kind: str   # physical node class, e.g. "SortMergeJoinExec"
    text: str   # the node's own one-line description (keys, condition)
    depth: int  # distance from the root, counted across cache boundaries
    cache: int | None = None  # cached-relation identity, cache scans only


def _kind(plan) -> str:
    return plan.getClass().getSimpleName()


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def walk(df) -> list[Node]:
    """Every node of ``df``'s final physical plan in pre-order, caches
    included (a cache's plan follows the first scan that reads it)."""
    identity = df.sparkSession._jvm.System.identityHashCode
    out: list[Node] = []
    seen_caches: set[int] = set()

    def visit(plan, level: int, depth: int) -> None:
        kind = _kind(plan)
        if kind == "AdaptiveSparkPlanExec":
            return visit(plan.executedPlan(), level, depth)
        if kind.endswith("QueryStageExec"):
            return visit(plan.plan(), level, depth)
        text = plan.simpleString(_MAX_FIELDS)
        if kind == "InMemoryTableScanExec":
            relation = plan.relation()
            key = identity(relation.cacheBuilder())
            out.append(Node(level, kind, text, depth, key))
            if key not in seen_caches:
                seen_caches.add(key)
                visit(relation.cachedPlan(), level + 1, depth + 1)
            return None
        out.append(Node(level, kind, text, depth))
        if kind == "ReusedExchangeExec":
            return None
        for child in _seq(plan.children()):
            visit(child, level, depth + 1)
        return None

    visit(df._jdf.queryExecution().executedPlan(), 0, 0)
    return out


def below(listing: list[Node], i: int) -> list[Node]:
    """The nodes under ``listing[i]`` in a ``walk`` listing."""
    out = []
    for n in listing[i + 1:]:
        if n.depth <= listing[i].depth:
            break
        out.append(n)
    return out


def plan_shape(df) -> list[Counter]:
    """Node-class counts per cache level (index 0 = the query's plan)."""
    nodes_ = walk(df)
    depth = max((n.level for n in nodes_), default=0)
    shape = [Counter() for _ in range(depth + 1)]
    for n in nodes_:
        shape[n.level][n.kind] += 1
    return shape


def nodes(df, kind: str, level: int | None = 0) -> list[Node]:
    """The ``kind`` nodes at ``level`` (every level when None)."""
    return [
        n for n in walk(df)
        if n.kind == kind and (level is None or n.level == level)
    ]


def exchanges(counts: Counter) -> int:
    """Shuffle exchanges planned at one level (reuses not included)."""
    return counts["ShuffleExchangeExec"]


def joins(counts: Counter) -> dict[str, int]:
    """The join operators at one level, by physical strategy."""
    return {k: v for k, v in counts.items() if k.endswith("JoinExec")}


def summary(df) -> dict:
    """JSON-friendly shape digest: per level, exchanges (shuffle and
    broadcast), joins by strategy, generators and scans."""
    rows = []
    for counts in plan_shape(df):
        rows.append({
            "shuffle_exchanges": exchanges(counts),
            "reused_exchanges": counts["ReusedExchangeExec"],
            "broadcast_exchanges": counts["BroadcastExchangeExec"],
            "joins": joins(counts),
            "generate": counts["GenerateExec"],
            "file_scans": counts["FileSourceScanExec"],
            "cache_scans": counts["InMemoryTableScanExec"],
        })
    return {"levels": rows}
