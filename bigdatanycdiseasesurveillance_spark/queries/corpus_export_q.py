"""Corpus-hygiene and export-contract operators — the last-mile steps of
a pretraining data pipeline the earlier curation tiers don't cover:

- cross-document chunk-level boilerplate removal (CCNet-style line dedup,
  adapted to the corpus's unpunctuated text: fixed word-window chunks),
  with the cleaned document rebuilt deterministically;
- distributed global row numbering via range-bucket prefix offsets (the
  scale rewrite of the single-partition ORDER BY window);
- deterministic fixed-k per-group reservoir sampling (hash-order top-k —
  layout-independent, unlike Spark's RDD takeSample);
- sharded-export manifest: hash-sharding plus per-shard integrity
  digests, the contract a downstream trainer checks before reading.

Reference parity: the reference dedups and exports per-batch with
driver-side dict scans (reference: src/analysis/deduplication.py,
src/database/s3_uploader.py:35-89); these are the engine-shaped,
shuffle-bounded forms of the same pipeline stages.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.sampling import deviate_sql, hash_deviate
from ..registry import register
from ..tables import table

_CHUNK = 4  # words per chunk
_BOILER_K = 3  # chunk is boilerplate if it appears in >= K distinct docs


@register(
    "txt_chunk_boilerplate",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ), chunks AS (
            SELECT doc_id,
                   unnest(range(0, CAST(ceil(len(w) / {_CHUNK}.0) AS BIGINT)))
                       AS pos,
                   unnest(list_transform(
                       range(0, CAST(ceil(len(w) / {_CHUNK}.0) AS BIGINT)),
                       i -> array_to_string(
                           w[i*{_CHUNK}+1 : i*{_CHUNK}+{_CHUNK}], ' ')))
                       AS chunk
            FROM toks
        ), boiler AS (
            SELECT chunk FROM chunks GROUP BY chunk
            HAVING COUNT(DISTINCT doc_id) >= {_BOILER_K}
        ), flagged AS (
            SELECT c.doc_id, c.pos, c.chunk, b.chunk IS NOT NULL AS is_boiler
            FROM chunks c LEFT JOIN boiler b ON c.chunk = b.chunk
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_boiler,
               md5(COALESCE(string_agg(
                   CASE WHEN NOT is_boiler THEN chunk END, ' '
                   ORDER BY pos), '')) AS cleaned_md5,
               CAST(SUM(CASE WHEN NOT is_boiler
                             THEN length(chunk)
                                  - length(replace(chunk, ' ', '')) + 1
                             ELSE 0 END) AS BIGINT) AS kept_words
        FROM flagged GROUP BY doc_id
    """,
    tags=("text", "dedup", "boilerplate", "llm-prep"),
)
def txt_chunk_boilerplate(spark, sf_dir):
    """CCNet-style boilerplate removal: fixed 4-word chunks that recur in
    >= 3 distinct documents are dropped from every document; the cleaned
    text is rebuilt in chunk order (md5 digest proves the rebuild, so the
    oracle checks content, not just counts).

    Scale shape (r13 rework): the chunk array stays DOC-LOCAL — only
    distinct (doc_id, chunk) pairs enter the support shuffle, the
    per-doc boiler sets come back as an output-sized frame joined on
    doc_id (AQE broadcasts it when small), and the document is rebuilt
    by a pure array filter in chunk order with NO per-doc
    collect_list/sort shuffle. One corpus-sized exchange (chunk
    support) where the previous formulation had three (support +
    chunk-key flag join + doc-key rebuild). No all-pairs stage
    anywhere — at 100 TB the chunk-support table is the only global
    state and it shrinks with the HAVING filter before the join.
    """
    from ..tables import parallelize_scan

    docs = parallelize_scan(table(spark, sf_dir, "documents"))
    w = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(w) / F.lit(float(_CHUNK))).cast("int")
    # guard n_chunks == 0: Spark's sequence(0, -1) yields a DESCENDING
    # [0, -1] where DuckDB's range(0, 0) is empty — empty docs must
    # produce zero chunks on both engines (and zero-chunk docs emit no
    # output row, exactly as the previous posexplode dropped them)
    chunk_arr = F.when(
        n_chunks > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(F.slice(w, i * _CHUNK + 1, _CHUNK), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # One materialization for THREE consumers (r13): the final join's
    # stream side plus dchunks' two aggregations each re-planned the
    # scan + round-robin rebalance (the plan carried 3 identical
    # Scan parquet + Exchange subtrees that ReusedExchange did not
    # deduplicate — measured as three ~0.45s single-task rebalance map
    # jobs at sf0.1). The lazy checkpoint runs that subtree once.
    base = (
        docs.select("doc_id", chunk_arr.alias("ch"))
        .filter(F.size("ch") > 0)
        .localCheckpoint(eager=False)
    )
    # distinct-per-doc BEFORE the explode: the support count is
    # COUNT(DISTINCT doc_id), so only one row per (doc, chunk) need
    # ever exist
    dchunks = base.select(
        "doc_id", F.explode(F.array_distinct("ch")).alias("chunk")
    )
    boiler = (
        dchunks.groupBy("chunk")
        .agg(F.count("*").alias("supp"))
        .filter(F.col("supp") >= _BOILER_K)
        .select("chunk")
    )
    # per-doc boiler sets: output-sized (docs that contain at least one
    # boilerplate chunk), so the join back to the corpus broadcasts
    hits = (
        dchunks.join(boiler, "chunk")
        .groupBy("doc_id")
        .agg(F.collect_set("chunk").alias("bs"))
    )
    kept = F.filter(
        F.col("ch"), lambda c: ~F.array_contains(F.col("bs"), c)
    )
    return (
        base.join(hits, "doc_id", "left")
        .withColumn(
            "bs", F.coalesce(F.col("bs"), F.array().cast("array<string>"))
        )
        .select(
            "doc_id",
            F.size("ch").cast("long").alias("n_chunks"),
            (F.size("ch") - F.size(kept)).cast("long").alias("n_boiler"),
            F.md5(F.array_join(kept, " ")).alias("cleaned_md5"),
            F.aggregate(
                kept,
                F.lit(0).cast("long"),
                lambda acc, c: acc + F.size(F.split(c, " ")).cast("long"),
            ).alias("kept_words"),
        )
    )


_RANK_STRIDE = 500  # emit every Nth global rank as the witness set


@register(
    "win_global_rank_ranged",
    oracle=f"""
        WITH ranked AS (
            SELECT event_id, CAST(ts AS DATE) AS day,
                   row_number() OVER (ORDER BY ts, event_id) AS global_rank
            FROM events
        )
        SELECT CAST(global_rank AS BIGINT) AS global_rank, event_id, day
        FROM ranked WHERE global_rank % {_RANK_STRIDE} = 0
    """,
    tags=("window", "global-rank", "scale-primitive"),
)
def win_global_rank_ranged(spark, sf_dir):
    """Distributed global row numbering — the scale rewrite of
    ``row_number() OVER (ORDER BY ts, event_id)``, whose naive form
    funnels the whole table through ONE partition. Rewrite: bucket rows
    by an ordered range key (here day(ts); at 100 TB any grain that
    bounds per-bucket volume — hour, day+hash-range — slots in), count
    per bucket, prefix-sum the bucket counts (a window over #buckets
    rows, not #rows), broadcast the offsets back, and add each row's
    LOCAL rank within its bucket. Equal to the single-partition window
    by construction; the oracle IS that naive form. Emits every 500th
    rank as a compact witness of the full numbering."""
    ev = table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    counts = ev.groupBy(day.alias("day")).agg(F.count("*").alias("n"))
    woff = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "offset", F.coalesce(F.sum("n").over(woff), F.lit(0))
    ).select("day", "offset")
    wlocal = Window.partitionBy("day").orderBy("ts", "event_id")
    return (
        ev.withColumn("day", day)
        .withColumn("local_rank", F.row_number().over(wlocal))
        .join(F.broadcast(offsets), "day")
        .select(
            (F.col("offset") + F.col("local_rank")).alias("global_rank"),
            "event_id",
            "day",
        )
        .filter(F.col("global_rank") % _RANK_STRIDE == 0)
    )


_RESERVOIR_K = 20


@register(
    "samp_group_reservoir",
    oracle=f"""
        WITH dev AS (
            SELECT event_type, event_id, value,
                   {deviate_sql("event_id", "reservoir")} AS d
            FROM events
        ), keep AS (
            SELECT * FROM dev
            QUALIFY row_number() OVER (
                PARTITION BY event_type ORDER BY d, event_id
            ) <= {_RESERVOIR_K}
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_sampled,
               md5(string_agg(CAST(event_id AS VARCHAR), ','
                              ORDER BY event_id)) AS ids_md5,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(14,2))), 2) AS DOUBLE)
                   AS sum_value
        FROM keep GROUP BY event_type
    """,
    tags=("sampling", "reservoir", "llm-prep"),
)
def samp_group_reservoir(spark, sf_dir):
    """Deterministic fixed-k per-group reservoir: the k rows with the
    smallest md5 deviates per group — a uniform k-sample that is a pure
    function of the data (any partition layout, any engine), where an
    actual streaming reservoir's membership depends on arrival order.
    One shuffle (the per-group window); at 100 TB the window input can
    be pre-pruned with an approximate per-group deviate threshold so
    only ~k candidates per group reach the sort."""
    ev = table(spark, sf_dir, "events")
    dev = ev.select(
        "event_type",
        "event_id",
        "value",
        hash_deviate(F.col("event_id"), "reservoir").alias("d"),
    )
    w = Window.partitionBy("event_type").orderBy("d", "event_id")
    keep = dev.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _RESERVOIR_K
    )
    return keep.groupBy("event_type").agg(
        F.count("*").alias("n_sampled"),
        F.md5(
            F.array_join(F.sort_array(F.collect_list("event_id")), ",")
        ).alias("ids_md5"),
        F.round(F.sum(F.col("value").cast("decimal(14,2)")), 2)
            .cast("double")
            .alias("sum_value"),
    )


_N_SHARDS = 16


@register(
    "export_shard_manifest",
    oracle=f"""
        WITH sharded AS (
            SELECT doc_id, n_chars,
                   {deviate_sql("doc_id", "shard")} % {_N_SHARDS} AS shard_id
            FROM documents
        )
        SELECT CAST(shard_id AS BIGINT) AS shard_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               md5(string_agg(CAST(doc_id AS VARCHAR), ','
                              ORDER BY doc_id)) AS ids_md5
        FROM sharded GROUP BY shard_id
    """,
    tags=("export", "manifest", "llm-prep"),
)
def export_shard_manifest(spark, sf_dir):
    """Sharded-export manifest: hash-shard the corpus (layout-independent
    md5 deviate, so a re-export lands every doc in the same shard) and
    emit the per-shard integrity contract a trainer verifies before
    reading — row count, byte budget, and an order-canonical id digest.
    This is the manifest row `write.partitionBy(shard_id)` would sit
    next to; the digest makes shard corruption detectable without
    re-reading payloads."""
    docs = table(spark, sf_dir, "documents")
    sharded = docs.select(
        "doc_id",
        "n_chars",
        (hash_deviate(F.col("doc_id"), "shard") % _N_SHARDS).alias("shard_id"),
    )
    return sharded.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.md5(
            F.array_join(F.sort_array(F.collect_list("doc_id")), ",")
        ).alias("ids_md5"),
    ).select(
        F.col("shard_id").cast("long").alias("shard_id"),
        "n_docs",
        "total_chars",
        "ids_md5",
    )
