"""The benchmark's workloads. Each runs in one long-lived ``local[4]``
session, driven by one single-threaded client in a closed loop: the next
request is sent only after the previous one has returned and been checked.

A workload supplies:

- ``generate(out, seed)``: its inputs (perfbench/gen.py);
- ``warmup``: the requests run before the measured window. The first of
  them ends the set-up time; the rest let each request type compile
  once, so the window measures a warm, long-lived session;
- ``schedule()``: the fixed request order of the measured window;
- ``run(ctx, kind)``: one request, returning what ``check`` compares.

The program is only called through its public functions:
``pipeline.run_pipeline``, each registry ``spec.fn`` plus the action on
its result, and the ``streaming.pipelines`` drains behind the stream
specs.
"""

from __future__ import annotations

import datetime
import math
import os
import time

import gen

# -- result normalization shared by the oracle checks -------------------


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        r = round(v, 6)
        return 0.0 if r == 0 else r
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def norm_rows(cols: list[str], rows) -> list[tuple]:
    """Order-insensitive, column-order-insensitive form of a result."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_norm_cell(r[i]) for i in order) for r in rows), key=repr)


def duckdb_answers(tables_dir: str, specs, names) -> dict[str, tuple]:
    """Normalized DuckDB answer of each spec's oracle SQL."""
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(tables_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                f"read_parquet('{os.path.join(tables_dir, f)}')"
            )
    out = {}
    for n in names:
        res = con.execute(specs[n].oracle)
        cols = [d[0] for d in res.description]
        out[n] = (sorted(cols), norm_rows(cols, res.fetchall()))
    con.close()
    return out


def smooth_weighted_order(weights: dict[str, int], n: int) -> list[str]:
    """Deterministic interleaving in which every prefix tracks the
    weights (smooth weighted round-robin)."""
    total = sum(weights.values())
    cur = {k: 0 for k in weights}
    out = []
    for _ in range(n):
        for k, w in weights.items():
            cur[k] += w
        pick = max(cur, key=lambda k: (cur[k], -list(weights).index(k)))
        cur[pick] -= total
        out.append(pick)
    return out


# -- ingest ------------------------------------------------------------


class Ingest:
    """Small incremental bronze batches, then one large backfill, each
    through ``pipeline.run_pipeline``."""

    name = "ingest"
    WARM_THREADS = 3
    SMALL = (2000, 4)  # records, files: one scraper poll
    BACKFILL = (100_000, 64)
    N_SMALL = 5
    WARM = ("warm1", "warm2", "warm3")
    # run one after another once the overlapped warm-ups are done: the
    # first sequential batches after them are up to 1.3x slower (JIT
    # still compiling), and the median moved with how far that had got
    SETTLE = ("settle1", "settle2")

    def __init__(self, small: bool = False) -> None:
        if small:
            self.SMALL, self.BACKFILL, self.N_SMALL = (200, 4), (2000, 8), 2
        # a tiny batch ends the set-up; three small batches more, run
        # side by side, give the JIT most of its work before SETTLE
        self.warmup = ["first", *self.WARM]

    def generate(self, out: str, seed: int) -> dict:
        n_small = len(self.WARM) + len(self.SETTLE) + self.N_SMALL
        batches = ((40, 2),) + (self.SMALL,) * n_small + (self.BACKFILL,)
        return gen.generate(out, seed, batches=batches)

    def setup(self, ctx) -> float:
        from bigdatanycdiseasesurveillance_spark import pipeline
        from pyspark.sql import types as T

        from bigdatanycdiseasesurveillance_spark.domain.schemas import REDDIT_POST

        self.pipeline = pipeline
        # one bronze shape for both sources: Reddit posts plus the
        # flattened 311 complaint fields the location cascade reads
        extra = [("id", T.StringType()), ("timestamp", T.TimestampType()),
                 ("type", T.StringType()), ("zip", T.StringType()),
                 ("status", T.StringType()), ("latitude", T.DoubleType()),
                 ("longitude", T.DoubleType())]
        self.schema = T.StructType(
            REDDIT_POST.fields + [T.StructField(n, t) for n, t in extra])
        self.batches = ctx.manifest["batches"]
        self.current = 0
        return 0.0

    def schedule(self, ctx):
        """``N_SMALL`` small batches, then the backfill: a fixed amount of
        work (~18-25 s on a 4-core Xeon VM), so ``ctx.seconds`` is not
        consulted. Sets the batch ``run`` reads."""
        for n in range(1, self.N_SMALL + 1):
            self.current = len(self.WARM) + len(self.SETTLE) + n
            yield "small"
        yield "backfill"

    def run(self, ctx, kind: str):
        fixed = {"first": 0, "backfill": len(self.batches) - 1}
        fixed.update({w: i + 1 for i, w in enumerate((*self.WARM, *self.SETTLE))})
        idx = fixed.get(kind, self.current)
        b = self.batches[idx]
        src = os.path.join(ctx.data, b["dir"])
        out = os.path.join(ctx.work, "lake", f"b{idx:03d}")
        with ctx.tracer.span("pipeline.run"):
            res = self.pipeline.run_pipeline(
                ctx.spark, src, out, self.schema,
                ts_candidates=["created_utc", "timestamp", "scraped_at"],
                id_candidates=["post_id", "id"],
                primary_vocab=gen.PRIMARY, secondary_vocab=gen.SECONDARY,
                hazard_vocab=gen.HAZARD,
            )
        return b, src, out, res

    def check(self, ctx, kind: str, result) -> str | None:
        b, _, _, res = result
        got = (res.n_bronze, res.n_unique, res.n_relevant)
        want = (b["n_bronze"], b["n_unique"], b["n_relevant"])
        return None if got == want else f"counts {got} != expected {want}"

    def install_spans(self, tracer) -> list:
        """Spans around every module attribute run_pipeline calls."""
        p = self.pipeline
        return [
            tracer.wrap(p, "read_json_any", "sources.read"),
            tracer.wrap(p, "normalize_events", "domain.normalize"),
            tracer.wrap(p, "extract_relevance", "domain.relevance"),
            tracer.wrap(p, "enrich_with_location", "domain.location"),
            tracer.wrap(p, "write_partitioned_parquet", "sinks.write"),
        ]

    def layer_counts(self, ctx, kind: str, result, spans: dict[str, int],
                     events: list[dict]) -> dict:
        """Derived pipeline spans and the data-volume counters."""
        b, src, out, res = result
        run, read, norm, write = (spans.get(n) for n in (
            "pipeline.run", "sources.read", "domain.normalize", "sinks.write"))
        tr = ctx.tracer
        if None not in (run, read, norm):  # bronze.count() sits between them
            tr.add("pipeline.count", tr.spans[read].end, tr.spans[norm].start, run)
        if None not in (run, write):  # gold writes and result counts
            tr.add("pipeline.gold", tr.spans[write].end, tr.spans[run].end, run)
        files_in = [os.path.join(src, f) for f in os.listdir(src)]
        bytes_in = sum(os.path.getsize(f) for f in files_in)
        files_out, bytes_out = 0, 0
        for root, _, files in os.walk(out):
            for f in files:
                if f.startswith("part-"):
                    files_out += 1
                    bytes_out += os.path.getsize(os.path.join(root, f))
        return {
            "sources.files_in": len(files_in), "sources.bytes_in": bytes_in,
            "sinks.files_out": files_out,
            "sinks.bytes_out_per_byte_in": bytes_out / bytes_in,
            "pipeline.rows_bronze": res.n_bronze,
            "pipeline.rows_relevant": res.n_relevant,
            "pipeline.rows_unique": res.n_unique,
        }


# -- serve -------------------------------------------------------------


class Serve:
    """A surveillance dashboard's refresh mix over sf0.1-shaped tables:
    oracle-checked tiles plus live panels that are ``availableNow``
    drains of the streaming specs. A request is ``spec.fn`` (which, for a
    drain, runs the stream to completion) plus ``collect`` of its result,
    as a dashboard tile would collect it.

    One cycle is 25 requests. Sorted by latency (4-core Xeon VM): 5
    daily-count, rolling, anomaly, vector and linear-forecast tiles
    (~0.25-0.6 s), 16 Holt-Winters forecast tiles (~0.6-0.85 s; a pandas
    UDF over the daily series) and 4 stream drains (~1.2-2.5 s). The
    median (position 13) falls in the middle of the Holt-Winters tiles'
    own spread, with 5 faster and 4 slower requests around them. Over
    10 seeds, that tile slowed by ~1.4% per 1% of host CPU steal, the
    cheap tiles by ~4%, so a median on them moved more with the host's
    load than with the program. Every tile response is checked; each
    drain type once, on its warm-up. Warm-ups overlap on four threads:
    they only compile, and the one session conf a drain touches is
    restored to the value it already has (state partitions = cores)."""

    name = "serve"
    WARM_THREADS = 4
    # run one after another once the overlapped warm-ups are done: the
    # first requests after them are up to 2x slower (background JIT, GC)
    SETTLE = ("ts_holt_winters",) * 3
    DRAINS = ("stream_relevance_split", "stream_surveillance_e2e",
              "stream_dedup_counts", "stream_sessionize")
    WEIGHTS = {
        "agg_daily_type_counts": 1,
        "win_rolling_7d": 1,
        "ann_cosine_topk": 1,
        "forecast_linear_trend": 1,
        "win_anomaly_zscore": 1,
        "ts_holt_winters": 16,
        "stream_relevance_split": 1,
        "stream_surveillance_e2e": 1,
        "stream_dedup_counts": 1,
        "stream_sessionize": 1,
    }

    def __init__(self, small: bool = False) -> None:
        self.small = small
        self.warmup = list(self.WEIGHTS)

    def generate(self, out: str, seed: int) -> dict:
        if self.small:
            return gen.generate(out, seed, docs=500, events=10_000, embeddings=200)
        return gen.generate(out, seed, docs=5000, events=100_000, embeddings=2000)

    def setup(self, ctx) -> float:
        """Returns the seconds spent computing oracle answers, which the
        set-up time excludes."""
        from bigdatanycdiseasesurveillance_spark import registry

        self.specs = registry.all_specs()
        self.sf_dir = os.path.join(ctx.data, "tables")
        t0 = time.perf_counter()
        self.answers = duckdb_answers(self.sf_dir, self.specs, self.WEIGHTS)
        self.checked: set[str] = set()
        return time.perf_counter() - t0

    def schedule(self, ctx):
        """Whole cycles of the weighted mix, so every run serves the same
        mix: at least one, and another only while it is predicted (from
        the cycles so far) to end within ``ctx.seconds``."""
        cycle = smooth_weighted_order(self.WEIGHTS, sum(self.WEIGHTS.values()))
        t0 = time.perf_counter()
        done = 0
        while True:
            yield from cycle
            done += 1
            if (time.perf_counter() - t0) * (done + 1) / done > ctx.seconds:
                return

    def run(self, ctx, kind: str):
        with ctx.tracer.span("queries.build"):
            df = self.specs[kind].fn(ctx.spark, self.sf_dir)
        with ctx.tracer.span("queries.action"):
            rows = df.collect()
        return df, rows

    def check(self, ctx, kind: str, result) -> str | None:
        if kind in self.DRAINS and kind in self.checked:
            return None
        self.checked.add(kind)
        df, rows = result
        cols, want = self.answers[kind]
        if sorted(df.columns) != cols:
            return f"{kind}: columns {sorted(df.columns)} != oracle {cols}"
        got = norm_rows(df.columns, rows)
        if got != want:
            return f"{kind}: {len(got)} rows differ from the oracle's {len(want)}"
        return None

    def install_spans(self, tracer) -> list:
        return []

    def layer_counts(self, ctx, kind: str, result, spans: dict[str, int],
                     events: list[dict]) -> dict:
        """Tiles: exchanges in the returned plan, once per type. Drains:
        the drain span and counters from the listener's progress events."""
        if kind not in self.DRAINS:
            if kind not in ctx.exchanges:
                from bigdatanycdiseasesurveillance_spark.plans import inspect

                ctx.exchanges[kind] = inspect.shuffle_count(result[0])
            return {}
        if not events:
            return {}
        off = time.time() - time.perf_counter()
        start = min(e["start"] for e in events) - off
        end = max(e["start"] + e["duration_ms"].get("triggerExecution", 0) / 1e3
                  for e in events) - off
        build = spans["queries.build"]
        ctx.tracer.add("streaming.drain", start, end, build)

        def ms(k):
            return sum(e["duration_ms"].get(k, 0) for e in events)

        return {
            "stream.start_s": max(0.0, start - ctx.tracer.spans[build].start),
            "stream.batches": len(events),
            "stream.add_batch_ms": ms("addBatch"),
            "stream.query_planning_ms": ms("queryPlanning"),
            "stream.wal_commit_ms": ms("walCommit"),
            "stream.commit_offsets_ms": ms("commitOffsets"),
            "stream.state_rows": max(e["state_rows"] for e in events),
            "stream.state_mem_bytes": max(e["state_mem_bytes"] for e in events),
        }


WORKLOADS = {w.name: w for w in (Ingest, Serve)}
