"""The bounded driver collect behind every small-input fast path, and
the union-find those fast paths label components with.

The engine's plans are distributed; a few of them keep a driver shortcut
for inputs small enough that the distributed plan is pure scheduler
overhead (connected components, the Lloyd k-means loops, the heap-tree
rollup). Two call shapes share ``driver_head``:

- fallback sites call ``driver_head(df)`` under the default cap and run
  their distributed plan unchanged on ``None`` (the 100 TB shape);
- contract sites pass their own invariant cap and raise their
  ``ValueError`` on ``None``: past the cap a caller broke the contract,
  and a loud error beats an unbounded driver materialization.

Callers reach both helpers as module attributes (``bounded.driver_head``)
so a test can wrap them, and ``DRIVER_ROWS`` is read at call time, so
``monkeypatch.setattr(bounded, "DRIVER_ROWS", -1)`` forces every
fallback branch.
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame

if TYPE_CHECKING:
    import pyarrow as pa

# Default cap: at or under this many rows a fast path's input crosses to
# the driver in one Arrow collect (~3 MB of long id pairs, ~27 MB of
# 16-d points: the broadcast-relation size class).
DRIVER_ROWS = 200_000


def driver_head(df: DataFrame, cap: int | None = None) -> pa.Table | None:
    """``df`` as a pyarrow Table when it has at most ``cap`` rows
    (``DRIVER_ROWS`` when ``cap`` is None), else None.

    One ``df.limit(cap + 1).toArrow()`` action is both the size probe
    and the fetch, so at most cap + 1 rows cross to the driver whatever
    the size of ``df``. Over an unordered frame ``limit`` does not fix
    WHICH rows come back. That is harmless here: under the cap every row
    comes back, and over the cap the partial result is thrown away (the
    caller falls back to its distributed plan or raises)."""
    if cap is None:
        cap = DRIVER_ROWS
    head = df.limit(cap + 1).toArrow()
    return head if head.num_rows <= cap else None


def min_label_components(pairs: Iterable[tuple[int, int]]) -> dict[int, int]:
    """Connected components of the undirected graph given by ``pairs``:
    every node maps to the smallest node id of its component. A pair
    (n, n) adds n as a node. Union-find with min-root union and path
    compression; the labels do not depend on pair order, so they equal
    the distributed min-label loop of operators.dedup.connected_components
    on the same edges."""
    parent: dict[int, int] = {}

    def root(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # min-label union
    return {n: root(n) for n in parent}
