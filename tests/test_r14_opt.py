"""Round-14 optimization internals: the driver-side Lloyd fast path
must be bit-identical to the distributed selectExpr loop it bypasses,
and its Spark-round replica must match round(double, 6) exactly."""

from __future__ import annotations

from pyspark.sql import functions as F


def _pts_2d(spark, n=200):
    """Deterministic 2-D cloud with an LCG — includes negative values
    and clusters of unequal size so several iterations actually move."""
    rows = []
    s = 12345
    for i in range(n):
        s = (s * 1103515245 + 12345) % (1 << 31)
        x = (s / float(1 << 31)) * 10 - 5
        s = (s * 1103515245 + 12345) % (1 << 31)
        y = (s / float(1 << 31)) * 6 - 3
        rows.append((i, x, y))
    return spark.createDataFrame(rows, "vec_id long, x double, y double")


def test_lloyd_2d_fast_path_equals_distributed(spark, monkeypatch):
    from bigdatanycdiseasesurveillance_spark.operators import bounded
    from bigdatanycdiseasesurveillance_spark.operators import clustering as C

    pts = _pts_2d(spark)
    fast = {
        r["vec_id"]: r["cluster_id"]
        for r in C.lloyd_kmeans_2d(pts, k=5, iters=8).collect()
    }
    monkeypatch.setattr(bounded, "DRIVER_ROWS", -1)  # force the loop
    slow = {
        r["vec_id"]: r["cluster_id"]
        for r in C.lloyd_kmeans_2d(pts, k=5, iters=8).collect()
    }
    assert fast == slow and len(fast) == 200


def test_lloyd_nd_fast_path_equals_distributed(spark, monkeypatch):
    from bigdatanycdiseasesurveillance_spark.operators import bounded
    from bigdatanycdiseasesurveillance_spark.operators import clustering as C

    base = _pts_2d(spark, n=150)
    pts = base.select(
        F.col("vec_id").alias("pid"),
        F.col("x").alias("e0"),
        F.col("y").alias("e1"),
        (F.col("x") * F.col("y")).alias("e2"),
        (F.col("x") - F.col("y")).alias("e3"),
    )
    dims = ["e0", "e1", "e2", "e3"]
    fa, fc = C.lloyd_kmeans_nd(pts, dims, k=4, iters=4, id_col="pid")
    fast = {r["pid"]: r["cluster_id"] for r in fa.collect()}
    monkeypatch.setattr(bounded, "DRIVER_ROWS", -1)
    sa, sc = C.lloyd_kmeans_nd(pts, dims, k=4, iters=4, id_col="pid")
    slow = {r["pid"]: r["cluster_id"] for r in sa.collect()}
    assert fast == slow and len(fast) == 150
    assert fc == sc  # the rounded final centroids, value-exact
    # dim columns of the local assigned frame are the exact doubles
    fvals = {r["pid"]: tuple(r[d] for d in dims) for r in fa.collect()}
    svals = {r["pid"]: tuple(r[d] for d in dims) for r in sa.collect()}
    assert fvals == svals


def test_round6_spark_matches_spark_round(spark):
    """_round6_spark replicates java.math.BigDecimal.valueOf(x)
    .setScale(6, HALF_UP) — the shortest-decimal-repr rounding Spark's
    codegen runs — including the cases where the exact binary expansion
    would round the other way (0.1234565 is stored below its shortest
    repr)."""
    from bigdatanycdiseasesurveillance_spark.operators.clustering import (
        _round6_spark,
    )

    vals = [
        0.1234565,
        -0.1234565,
        1.0000005,
        2.5e-7,
        -2.5e-7,
        0.0,
        3.14159265358979,
        123456.7891011,
        1e-12,
        -7.7777775,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v double").select(
        F.col("v"), F.round(F.col("v"), 6).alias("r")
    )
    got = {r["v"]: r["r"] for r in df.collect()}
    for v in vals:
        assert _round6_spark(v) == got[v], v


def test_bounded_driver_collects_raise_over_cap(spark, monkeypatch):
    """The r13 driver-side cascades now enforce their boundedness
    invariants (r13 verdict directive #2): an over-cap frame raises a
    ValueError naming the contract instead of collecting unbounded."""
    import pytest

    from bigdatanycdiseasesurveillance_spark.operators import clustering as C

    cells = spark.createDataFrame(
        [(i, 0, 1) for i in range(4)], "cx long, cy long, w long"
    )
    monkeypatch.setattr(C, "BOUNDED_CELLS_CAP", 3)
    with pytest.raises(ValueError, match="bounded-cells cap"):
        C.cellgrid_assign(cells)


def test_driver_head_contract(spark):
    """bounded.driver_head returns the whole frame as a pyarrow Table
    at exactly `cap` rows, None at `cap + 1`, and an empty table for an
    empty frame."""
    from bigdatanycdiseasesurveillance_spark.operators import bounded

    at_cap = bounded.driver_head(spark.range(5), cap=5)
    assert at_cap.num_rows == 5
    assert sorted(at_cap.column("id").to_pylist()) == [0, 1, 2, 3, 4]
    assert bounded.driver_head(spark.range(6), cap=5) is None
    empty = bounded.driver_head(spark.range(0))
    assert empty is not None and empty.num_rows == 0
    assert empty.column_names == ["id"]


def test_tree_rollup_fast_path_equals_distributed(spark, sf_dir, monkeypatch):
    """tree_subtree_rollup's capped driver rollup must match the
    level-synchronous distributed loop row for row (exact integer
    arithmetic, including the missing-parent drop semantics)."""
    from bigdatanycdiseasesurveillance_spark.operators import bounded
    from bigdatanycdiseasesurveillance_spark.queries import graph_q as G

    fast = {
        r["user_id"]: (r["n_subtree"], r["subtree_cents"])
        for r in G.tree_subtree_rollup(spark, sf_dir).collect()
    }
    monkeypatch.setattr(bounded, "DRIVER_ROWS", -1)  # force the loop
    slow = {
        r["user_id"]: (r["n_subtree"], r["subtree_cents"])
        for r in G.tree_subtree_rollup(spark, sf_dir).collect()
    }
    assert fast == slow and len(fast) > 0


def test_lloyd_fast_path_falls_back_on_nulls(spark):
    """A null coordinate must not take the driver path (numpy would
    coerce to NaN and silently change assignment semantics) — the
    distributed loop's null semantics stay authoritative."""
    from bigdatanycdiseasesurveillance_spark.operators import clustering as C

    rows = [(0, 1.0, 1.0), (1, None, 2.0), (2, 3.0, 3.0), (3, 4.0, 4.0)]
    pts = spark.createDataFrame(rows, "vec_id long, x double, y double")
    head = C._lloyd_head(
        pts.select(
            F.col("vec_id").alias("pid"),
            F.col("x").cast("double").alias("x"),
            F.col("y").cast("double").alias("y"),
        ),
        ["x", "y"],
    )
    assert head is None
