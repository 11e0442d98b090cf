"""Streaming queries registered AFTER the driver-gate prefix (their
rows come in a later round; the prefix slots stay reserved for the
judge-priority queries still missing driver rows)."""

from __future__ import annotations

from ..registry import register
from ..streaming import pipelines as P


@register(
    "stream_static_enrichment",
    oracle="""
        SELECT c.c_mktsegment,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS revenue_cents,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY c.c_mktsegment
    """,
    tags=("streaming", "stream-static-join"),
)
def stream_static_enrichment(spark, sf_dir):
    """Stream-static broadcast join: order stream enriched with the
    customer dim, revenue by market segment (exact cents). The static
    side needs no state store and re-resolves per micro-batch."""
    return P.streaming_enrich_orders(spark, sf_dir)


@register(
    "stream_cms_partials",
    oracle="""
        WITH items AS (
            SELECT CAST(user_id AS VARCHAR) AS item FROM events
        ), depths AS (
            SELECT CAST(unnest(range(4)) AS INTEGER) AS d
        ), b AS (
            SELECT item, d,
                   CAST(('0x' || substr(md5('cms:' || d || ':' || item),
                                        1, 15)) AS BIGINT) % 32 AS bucket
            FROM items CROSS JOIN depths
        )
        SELECT d, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM b GROUP BY 1, 2
    """,
    tags=("streaming", "sketch", "cms", "ST6"),
)
def stream_cms_partials(spark, sf_dir):
    """Streaming count-min sketch: the aggregation state IS the sketch
    (depth x width counters — fixed size at any stream volume), updated
    per micro-batch and drained with availableNow. Must equal the batch
    sketch bit-for-bit; the md5 bucket family makes the whole thing
    DuckDB-replayable."""
    return P.streaming_cms(spark, sf_dir)


# first-8-token lead-in key (see pipelines._prefix_fp)
_PREFIX_FP_SQL = (
    "md5(array_to_string(list_slice(list_filter(string_split(lower(text), ' '),"
    " t -> t <> ''), 1, 8), ' '))"
)


@register(
    "stream_ingest_dedup",
    oracle=f"""
        WITH existing AS (
            SELECT DISTINCT {_PREFIX_FP_SQL} AS fp
            FROM documents WHERE doc_id % 5 <> 0
        ), fresh AS (
            SELECT d.source
            FROM documents d
            WHERE d.doc_id % 5 = 0
              AND {_PREFIX_FP_SQL} NOT IN (SELECT fp FROM existing)
        )
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_new
        FROM fresh GROUP BY 1
    """,
    tags=("streaming", "dedup", "ST6", "incremental"),
)
def stream_ingest_dedup(spark, sf_dir):
    """Ingest-time streaming dedup: the arriving delta streams in,
    8-token lead-in fingerprints anti-join the existing corpus's static
    index per micro-batch, and only unseen-lead-in content reaches the
    rollup — the streaming twin of dedup_incremental_new_vs_old's batch
    shape. availableNow drain equals the batch anti-join exactly."""
    return P.streaming_ingest_dedup(spark, sf_dir)


@register(
    "stream_foreachbatch_upsert",
    oracle="""
        SELECT user_id,
               event_type AS last_type,
               ts AS last_ts,
               ROUND(value, 2) AS last_value
        FROM events
        QUALIFY row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
    tags=("streaming", "foreachBatch", "upsert", "ST4", "S11"),
)
def stream_foreachbatch_upsert(spark, sf_dir):
    """foreachBatch MERGE into the versioned gold table: four real
    micro-batches (maxFilesPerTrigger=1), each rewriting gold as
    last-writer-wins on (ts, event_id) — arrival order never decides a
    winner, so the final table equals this batch oracle for any
    batching. The streaming-sink tier of S11's upsert primitive."""
    return P.streaming_foreachbatch_upsert(spark, sf_dir)


def _e2e_oracle() -> str:
    """Generated from the SAME constants the streaming DAG uses
    (relevance vocab + location aliases/prefixes) so the two can never
    drift apart."""
    from ..domain.location import ALIASES, BOROUGH_ZIP_PREFIXES, _NB_BOROUGH
    from ..operators.relevance import (
        HAZARD_VOCAB,
        PRIMARY_VOCAB,
        SECONDARY_VOCAB,
    )

    def arr(vocab):
        return "[" + ", ".join(f"'{k}'" for k in vocab) + "]"

    zips = "['11102','11211','10027','10003','10463','11354','99999','10550']"
    alias_case = "CASE " + " ".join(
        f"WHEN instr(lower(text), '{a}') > 0 THEN '{_NB_BOROUGH[n]}'"
        for a, n in ALIASES
    ) + " ELSE NULL END"
    pfx_rows = ", ".join(f"('{b}','{p}')" for b, p in BOROUGH_ZIP_PREFIXES)
    return f"""
        WITH m AS (
            SELECT doc_id, text,
                   len(list_filter({arr(PRIMARY_VOCAB)},
                                   k -> contains(lower(text), k))) AS np,
                   len(list_filter({arr(SECONDARY_VOCAB)},
                                   k -> contains(lower(text), k))) AS ns,
                   len(list_filter({arr(HAZARD_VOCAB)},
                                   k -> contains(lower(text), k))) AS nh
            FROM documents
        ), rel AS (
            SELECT doc_id, text,
                   CASE WHEN np >= 3 THEN 'severe'
                        WHEN np >= 2 THEN 'moderate' ELSE 'mild' END AS severity,
                   ({zips})[CAST(doc_id % 8 + 1 AS INTEGER)] AS zip,
                   {alias_case} AS alias_borough
            FROM m
            WHERE length(text) >= 5 AND (np > 0 OR ns >= 2 OR nh > 0)
        ), pfx AS (
            SELECT * FROM (VALUES {pfx_rows}) t(pfx_borough, zip_prefix)
        )
        SELECT COALESCE(p.pfx_borough, r.alias_borough, 'unknown') AS borough,
               r.severity,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM rel r LEFT JOIN pfx p ON substring(r.zip, 1, 3) = p.zip_prefix
        GROUP BY 1, 2
    """


@register(
    "stream_surveillance_e2e",
    oracle=_e2e_oracle(),
    tags=("streaming", "composed", "relevance", "location", "flagship"),
)
def stream_surveillance_e2e(spark, sf_dir):
    """The reference's full consumer chain (relevance -> location ->
    dashboard rollup) as ONE streaming DAG: stateless map-side
    relevance + enrichment, broadcast LocalRelation dims, one tiny
    complete-mode aggregate. availableNow drain equals the chained
    batch oracle exactly."""
    return P.streaming_surveillance_e2e(spark, sf_dir)


@register(
    "stream_variant_ingest",
    oracle="""
        WITH mod AS (
            SELECT event_type,
                   CASE event_id % 4
                     WHEN 0 THEN props
                     WHEN 1 THEN '{"k": {"nested": '
                                 || json_extract_string(props, '$.k') || '}}'
                     WHEN 2 THEN '{"k": "lvl'
                                 || json_extract_string(props, '$.k') || '"}'
                     ELSE '{"k": "'
                          || json_extract_string(props, '$.k') || '"}'
                   END AS mp
            FROM events
        ), ext AS (
            SELECT event_type,
                   TRY_CAST(json_extract_string(mp, '$.k') AS BIGINT)
                       AS k_int,
                   TRY_CAST(json_extract_string(mp, '$.k.nested') AS BIGINT)
                       AS k_nested,
                   TRY_CAST(json_extract_string(mp, '$.absent') AS BIGINT)
                       AS k_absent
            FROM mod
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(COUNT(k_int) AS BIGINT) AS n_int,
               CAST(COALESCE(SUM(k_int), 0) AS BIGINT) AS sum_int,
               CAST(COUNT(k_nested) AS BIGINT) AS n_nested,
               CAST(COALESCE(SUM(k_nested), 0) AS BIGINT) AS sum_nested,
               CAST(COUNT(k_absent) AS BIGINT) AS n_absent
        FROM ext GROUP BY event_type
    """,
    tags=("streaming", "variant", "semistructured", "spark4", "ST4"),
)
def stream_variant_ingest(spark, sf_dir):
    """Streaming VARIANT ingest: heterogeneous JSON parsed once per row
    into VARIANT inside the micro-batch chain, probed with typed
    try_variant_get (coercion matrix: ints and numeric strings coerce,
    objects/non-numeric/absent -> NULL, never an aborted stream), and
    rolled into an incrementally-maintained per-type aggregate;
    availableNow drain equals the batch oracle. The batch twin
    scalar_variant_try_paths pins the per-shape matrix; this entry
    pins that the VARIANT family composes with Structured Streaming."""
    return P.streaming_variant_ingest(spark, sf_dir)
