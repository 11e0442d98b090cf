"""Round-13 optimization internals: the hybrid connected-components
fast path must be label-identical to the distributed min-label loop it
bypasses."""

from __future__ import annotations

import pytest


def _labels(df):
    return {r["doc_id"]: r["canonical_id"] for r in df.collect()}


# chain + clique + isolated-pair graph exercising multi-hop merges
_PAIRS = (
    [(i, i + 1) for i in range(0, 8)]  # diameter-8 chain 0..8
    + [(20, 21), (21, 22), (20, 22)]  # triangle
    + [(30, 31)]  # isolated pair
)


def test_cc_fast_path_equals_distributed_loop(spark, monkeypatch):
    """The capped-collect union-find must produce exactly the labels of
    the distributed propagate/compress loop on the same edges."""
    from bigdatanycdiseasesurveillance_spark.operators import bounded
    from bigdatanycdiseasesurveillance_spark.operators import dedup as D

    pairs = spark.createDataFrame(_PAIRS, "id_a long, id_b long")
    fast = _labels(D.connected_components(pairs))  # under the cap

    monkeypatch.setattr(bounded, "DRIVER_ROWS", -1)  # force the loop
    slow = _labels(D.connected_components(pairs))
    assert fast == slow
    # canonical = component minimum
    assert fast[8] == 0 and fast[22] == 20 and fast[31] == 30


def test_cc_fast_path_null_id_falls_back(spark, monkeypatch):
    """A null id under the cap must take the distributed loop (its null
    semantics stay authoritative) instead of crashing the driver
    union-find on a None-vs-int comparison."""
    from bigdatanycdiseasesurveillance_spark.operators import bounded
    from bigdatanycdiseasesurveillance_spark.operators import dedup as D

    pairs = spark.createDataFrame(
        [(1, 2), (2, None), (5, 6)], "id_a long, id_b long"
    )
    fast = sorted(map(tuple, D.connected_components(pairs).collect()), key=str)
    monkeypatch.setattr(bounded, "DRIVER_ROWS", -1)  # force the loop
    slow = sorted(map(tuple, D.connected_components(pairs).collect()), key=str)
    assert fast == slow and (5, 5) in fast


def test_cc_fast_path_empty_edges(spark):
    """Zero edges must return an empty, correctly-typed label frame."""
    from bigdatanycdiseasesurveillance_spark.operators import dedup as D

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    out = D.connected_components(pairs)
    assert out.columns == ["doc_id", "canonical_id"]
    assert out.count() == 0
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "bigint",
        "bigint",
    ]


def test_fixed_steps_still_runs_distributed_body(spark):
    """fixed_steps callers keep the pinned distributed body: the
    too-small pin must still fail loudly even under the fast-path cap."""
    from bigdatanycdiseasesurveillance_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="not converged"):
        connected_components(pairs, fixed_steps=1).collect()


def test_run_to_memory_state_partitions_override_and_restore(spark, sf_dir):
    """The r13 dim-bounded state sizing: _run_to_memory(state_partitions=N)
    must bake N into the streaming aggregate's state layout (complete-mode
    output is unchanged) and restore the session conf afterwards — a later
    batch query must plan with the original shuffle partitioning."""
    from pyspark.sql import functions as F

    from bigdatanycdiseasesurveillance_spark.streaming.pipelines import (
        _run_to_memory,
        stream_table,
    )

    src = stream_table(spark, sf_dir, "events")
    agg = src.groupBy("event_type").agg(F.count("*").cast("long").alias("cnt"))
    # read AFTER stream_table: building the source applies the session's
    # runtime confs (incl. shuffle partitions), which is the value the
    # drain must restore
    before = spark.conf.get("spark.sql.shuffle.partitions")
    out = {
        r["event_type"]: r["cnt"]
        for r in _run_to_memory(agg, "complete", state_partitions=3).collect()
    }
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    from bigdatanycdiseasesurveillance_spark.tables import table

    exp = {
        r["event_type"]: r["cnt"]
        for r in table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("cnt"))
        .collect()
    }
    assert out == exp


def test_schema_memo_keyed_per_context_and_pushdown_intact(spark, sf_dir):
    """The r13 parquet-schema memo must serve the same StructType object
    class per (context, path) and must not disturb scan pushdown: an
    equality filter still reaches PushedFilters in the formatted plan."""
    from pyspark.sql import functions as F

    from bigdatanycdiseasesurveillance_spark.tables import (
        _SCHEMA_MEMO,
        raw_parquet_schema,
        table,
    )

    path = f"{sf_dir}/events.parquet"
    s1 = raw_parquet_schema(spark, path)
    s2 = raw_parquet_schema(spark, path)
    assert s1 is s2  # memo hit, no second inference
    # key = (applicationId, path, (mtime_ns, size)) since r14 — a
    # regenerated fixture at the same path re-infers instead of serving
    # a stale schema
    import os as _os

    st = _os.stat(path)
    assert (
        spark.sparkContext.applicationId,
        path,
        (st.st_mtime_ns, st.st_size),
    ) in _SCHEMA_MEMO

    df = table(spark, sf_dir, "events").filter(F.col("event_type") == "view")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PushedFilters" in plan and "event_type" in plan
