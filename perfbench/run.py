#!/usr/bin/env python3
"""Surveillance benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench_work/`` (removed at exit); every temp file the program
and Spark write is redirected there too. ``--trace 0`` measures the
end-to-end metrics; ``--trace 1`` also records spans, Spark status-store
counters, streaming progress and residue for every other request of each
type, and reports the per-layer metrics and the tracing overhead. The last
stdout line is one JSON object; the lines before it list every metric
with its unit and sample count. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import statistics
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "bigdatanycdiseasesurveillance_spark"
CORES = 4
QUIET_S = 1.0
LAYERS = ("client", "sources", "domain", "pipeline", "sinks", "queries", "streaming")

sys.path.insert(0, HERE)
import probes as tr  # noqa: E402
import workloads  # noqa: E402


def isolate(work: str) -> str:
    """Point every temp-file writer (Python tempfile, the JVM, Spark's
    local dirs and warehouse) inside the run's work directory; returns
    the temp dir the program's own temp files land in."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # every JVM (spark-submit's launcher too): temp files here, no
    # hsperfdata files in the system temp dir
    jvm = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # a fixed-size heap keeps the driver's resident high-water mark from
    # depending on when G1 decides to grow the heap
    java = f"{jvm} -Xms2g"
    os.environ.update(
        JAVA_TOOL_OPTIONS=jvm,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_GRAFT_DRIVER_MEM="2g",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=" ".join([
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "--conf", shlex.quote(f"spark.driver.extraJavaOptions={java}"),
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]),
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return tmp


class Ctx:
    """State of one run, passed to the workload."""

    def __init__(self, spark, work, data, manifest, seconds, trace, tmpdir):
        self.spark, self.work, self.data = spark, work, data
        self.manifest, self.seconds, self.trace, self.tmpdir = manifest, seconds, trace, tmpdir
        self.tracer = tr.Tracer()
        self.counters = tr.SparkCounters(spark)
        self.listener = tr.make_drain_listener()
        spark.streams.addListener(self.listener)
        self.records: list[dict] = []
        self.seen: dict[tuple[str, str], int] = {}
        self.exchanges: dict[str, int] = {}
        self.lock = threading.Lock()


def request(ctx: Ctx, wl, kind: str, phase: str) -> dict:
    """Run, time and check one request. In a traced run, every other
    window request of each type (starting with the first) is traced."""
    with ctx.lock:
        key = (phase, kind)
        n = ctx.seen.get(key, 0)
        ctx.seen[key] = n + 1
        rid = f"{kind}#{sum(ctx.seen.values())}"
    traced = ctx.trace and phase == "window" and n % 2 == 0
    sc = ctx.spark.sparkContext
    rec = {"kind": kind, "phase": phase, "n": n, "traced": traced, "error": None}
    if traced:
        before = tr.residue(ctx.spark, ctx.tmpdir)
        sc.setJobGroup(rid, kind)
    mark = ctx.listener.mark()
    result = None
    t0 = time.perf_counter()
    try:
        with ctx.tracer.request(rid) if traced else nullcontext():
            result = wl.run(ctx, kind)
        rec["wall"] = time.perf_counter() - t0
        rec["error"] = wl.check(ctx, kind, result)
    except Exception:  # noqa: BLE001 - a failed request is counted, not fatal
        rec["wall"] = time.perf_counter() - t0
        rec["error"] = traceback.format_exc(limit=4)
    ctx.counters.wait()  # delivers this request's streaming progress events
    events = ctx.listener.since(mark)
    rec["input_rows"] = sum(e["input_rows"] for e in events)
    if traced:
        runs = sorted({e["run_id"] for e in events})
        rec["spark"] = ctx.counters.read([rid, *runs])
        sc.setLocalProperty("spark.jobGroup.id", None)
        rec["residue"] = tr.residue_diff(before, tr.residue(ctx.spark, ctx.tmpdir))
        rec["id"] = rid
        if result is not None and rec["error"] is None:
            names = {}
            for i, s in enumerate(ctx.tracer.spans):
                if s.request == rid:
                    names.setdefault(s.name, i)
            rec["counts"] = wl.layer_counts(ctx, kind, result, names, events)
    log(f"{phase} {kind} {rec['wall']:.3f}")
    if rec["error"]:
        log(f"{kind} failed: {rec['error']}")
    ctx.records.append(rec)
    return rec


def quantile(xs: list[float], q: float) -> float:
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def end_to_end(wl, ctx: Ctx, setup_s: float, rss: float) -> dict[str, tuple]:
    """name -> (value, unit, samples). Latency samples: fresh small
    batches (ingest), every request of the mix (serve). Throughput:
    backfill records per second (ingest), requests per second of request
    wall (serve)."""
    win = [r for r in ctx.records if r["phase"] == "window" and not r["error"]]
    lat = [r["wall"] for r in win if r["kind"] != "backfill"]
    if wl.name == "ingest":
        bf = [r for r in win if r["kind"] == "backfill"]
        rec_n = ctx.manifest["batches"][-1]["n_bronze"] * len(bf)
        thr, thr_n = rec_n / sum(r["wall"] for r in bf), len(bf)
    else:
        thr, thr_n = len(win) / sum(r["wall"] for r in win), len(win)
    failed = sum(1 for r in ctx.records if r["error"])
    return {
        "setup_s": (setup_s, "s", 1),
        "peak_rss_mb": (rss, "MB", 1),
        "latency_p50_s": (quantile(lat, 0.5), "s", len(lat)),
        "latency_p90_s": (quantile(lat, 0.9), "s", len(lat)),
        "throughput_per_s": (thr, "1/s", thr_n),
        "error_rate": (failed / len(ctx.records), "ratio", len(ctx.records)),
    }


METRIC_ALIASES = {
    "ingest": {"latency_p50_s": "ingest_fresh_p50_s", "latency_p90_s": "ingest_fresh_p90_s",
               "throughput_per_s": "ingest_backfill_rec_s"},
}


def serve_split(wl, ctx: Ctx) -> dict[str, tuple]:
    """The serve mix split into its tiles and its streaming drains."""
    win = [r for r in ctx.records if r["phase"] == "window" and not r["error"]]
    tiles = [r["wall"] for r in win if r["kind"] not in wl.DRAINS]
    drains = [r for r in win if r["kind"] in wl.DRAINS]
    dwall = [r["wall"] for r in drains]
    return {
        "dash_p50_s": (quantile(tiles, 0.5), "s", len(tiles)),
        "dash_p90_s": (quantile(tiles, 0.9), "s", len(tiles)),
        "dash_qps": (len(tiles) / sum(tiles), "1/s", len(tiles)),
        "stream_drain_p50_s": (quantile(dwall, 0.5), "s", len(dwall)),
        "stream_rec_s": (sum(r["input_rows"] for r in drains) / sum(dwall), "rows/s",
                         len(dwall)),
    }


def per_type(wl, ctx: Ctx) -> dict[str, tuple]:
    """Median window latency of each request type."""
    win = [r for r in ctx.records if r["phase"] == "window" and not r["error"]]
    out = {}
    for kind in sorted({r["kind"] for r in win}):
        walls = [r["wall"] for r in win if r["kind"] == kind]
        out[f"{wl.name}.{kind}.p50_s"] = (quantile(walls, 0.5), "s", len(walls))
    return out


def per_layer(wl, ctx: Ctx, session: dict) -> tuple[dict, dict]:
    """(metrics reported in the JSON line, extra detail printed only).
    Every JSON metric exists for every workload; layer-specific timings
    (zero outside their workload) go to the printed detail."""
    traced = [r for r in ctx.records if r.get("id") and not r["error"]]
    n = len(traced)
    wall = sum(r["wall"] for r in traced)
    layers = tr.layer_self_times(ctx.tracer.spans)
    m: dict[str, tuple] = {
        "session.start_s": (session["start_s"], "s", 1),
        "session.warm_s": (session["warm_s"], "s", 1),
        "request.wall_s": (wall / n, "s", n),
    }
    for layer in LAYERS:
        t = sum(layers.get(r["id"], {}).get(layer, 0.0) for r in traced)
        m[f"self_frac.{layer}"] = (t / wall, "ratio", n)
    units = {"jobs": "count", "stages": "count", "tasks": "count",
             "executor_run_s": "s", "executor_cpu_s": "s", "job_wall_s": "s",
             "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
             "spill_bytes": "bytes"}
    for k, u in units.items():
        m[f"spark.{k}"] = (sum(r["spark"][k] for r in traced) / n, u, n)
    run_s = sum(r["spark"]["executor_run_s"] for r in traced)
    m["spark.slot_util"] = (run_s / (wall * CORES), "ratio", n)
    ex = list(ctx.exchanges.values())
    m["plans.exchanges"] = (sum(ex) / len(ex) if ex else 0.0, "count", len(ex))
    count_units = {
        "sources.files_in": "count", "sources.bytes_in": "bytes", "sinks.files_out": "count",
        "sinks.bytes_out_per_byte_in": "ratio", "pipeline.rows_bronze": "count",
        "pipeline.rows_relevant": "count", "pipeline.rows_unique": "count",
        "stream.batches": "count", "stream.state_rows": "count",
        "stream.state_mem_bytes": "bytes",
    }
    for k, u in count_units.items():
        vals = [r["counts"][k] for r in traced if k in r.get("counts", {})]
        m[k] = (sum(vals) / len(vals) if vals else 0.0, u, len(vals))
    rows = [r["input_rows"] for r in traced]
    m["stream.input_rows"] = (sum(rows) / n, "count", n)
    for k in ("tmp_dirs", "tmp_bytes", "catalog_tables", "active_streams"):
        m[f"residue.{k}"] = (sum(r["residue"][k] for r in traced) / n,
                             "bytes" if k == "tmp_bytes" else "count", n)
    m["trace.overhead_frac"] = overhead(ctx)

    # printed detail: span durations per traced request, per-type figures
    detail: dict[str, tuple] = {}
    by_name: dict[str, float] = {}
    for s in ctx.tracer.spans:
        if s.parent is not None:
            by_name[s.name] = by_name.get(s.name, 0.0) + (s.end - s.start)
    for name, t in sorted(by_name.items()):
        detail[f"{name}_s"] = (t / n, "s", n)
    roots = {s.request: s.end - s.start for s in ctx.tracer.spans if s.parent is None}
    gap = max(abs(sum(layers[r].values()) - roots[r]) for r in roots)
    detail["trace.self_time_sum_minus_wall_s"] = (gap, "s", len(roots))
    for k in ("stream.start_s", "stream.add_batch_ms", "stream.query_planning_ms",
              "stream.wal_commit_ms", "stream.commit_offsets_ms"):
        vals = [r["counts"][k] for r in traced if k in r.get("counts", {})]
        if vals:
            detail[k] = (sum(vals) / len(vals), k.rsplit("_", 1)[1], len(vals))
    for kind in sorted({r["kind"] for r in traced}):
        rs = [r for r in traced if r["kind"] == kind]
        walls = [r["wall"] for r in rs]
        pre = f"{wl.name}.{kind}"
        for k in ("jobs", "job_wall_s", "executor_run_s"):
            detail[f"{pre}.{k}"] = (sum(r["spark"][k] for r in rs) / len(rs),
                                    units[k], len(rs))
        if kind in ctx.exchanges:
            detail[f"{pre}.exchanges"] = (ctx.exchanges[kind], "count", 1)
        for layer in LAYERS:
            t = sum(layers[r["id"]].get(layer, 0.0) for r in rs)
            if t:
                detail[f"{pre}.self_frac.{layer}"] = (t / sum(walls), "ratio", len(rs))
    return m, detail


def overhead(ctx: Ctx) -> tuple:
    """Traced over untraced wall for request types run both ways. Each
    type's first window request is left out: it is traced, and it also
    pays what the warm-ups left behind (JIT queue, garbage)."""
    win = [r for r in ctx.records
           if r["phase"] == "window" and not r["error"] and r["n"] > 0]
    traced_sum = untraced_sum = 0.0
    pairs = 0
    for kind in {r["kind"] for r in win}:
        on = [r["wall"] for r in win if r["kind"] == kind and r["traced"]]
        off = [r["wall"] for r in win if r["kind"] == kind and not r["traced"]]
        if on and off:
            traced_sum += statistics.mean(on) * len(on)
            untraced_sum += statistics.mean(off) * len(on)
            pairs += len(on) + len(off)
    frac = traced_sum / untraced_sum - 1 if untraced_sum else 0.0
    return (frac, "ratio", pairs)


def quiesce(spark) -> None:
    """Clear what the warm-ups left behind before the window: collect
    both heaps, then idle while the JIT works through its queue."""
    gc.collect()
    spark._jvm.System.gc()
    time.sleep(QUIET_S)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fmt(name: str, v: tuple) -> str:
    return f"{name:<44} {v[0]:>16.6g} {v[1]:<7} n={v[2]}"


def main(argv: list[str] | None = None) -> int:
    t_proc = tr.process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="tiny inputs, for the benchmark's own smoke test")
    a = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        print("perfbench: BENCHMARK.json not found next to perfbench/", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    wl = workloads.WORKLOADS[a.workload](small=a.small)
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        tmpdir = isolate(work)
        t = time.perf_counter()
        data = os.path.join(work, "data")
        manifest = wl.generate(data, a.seed)
        gen_s = time.perf_counter() - t
        log(f"inputs generated in {gen_s:.1f} s")
        return measure(a, spec, wl, work, data, manifest, tmpdir, t_proc, gen_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def measure(a, spec, wl, work, data, manifest, tmpdir, t_proc, gen_s) -> int:
    sys.path.insert(0, ROOT)
    from pyspark import SparkContext

    from bigdatanycdiseasesurveillance_spark import session

    t = time.perf_counter()
    spark = session.get_spark("perfbench")
    start_s = time.perf_counter() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        spark.sparkContext.parallelize(range(CORES), CORES).map(lambda _: os.getpid()).collect()
        ctx = Ctx(spark, work, data, manifest, a.seconds, bool(a.trace), tmpdir)
        oracle_s = wl.setup(ctx)
        log(f"oracle answers in {oracle_s:.1f} s")
        request(ctx, wl, wl.warmup[0], "warmup")
        t_ready = time.perf_counter()
        # the remaining warm-ups only compile; they are not measured, so
        # they may overlap (each is still checked)
        with ThreadPoolExecutor(wl.WARM_THREADS) as pool:
            for f in [pool.submit(request, ctx, wl, k, "warmup") for k in wl.warmup[1:]]:
                f.result()
        for kind in wl.SETTLE:
            request(ctx, wl, kind, "warmup")
        quiesce(spark)
        # set-up: process start to first request done, without input
        # generation and oracle answers (benchmark work, not program work)
        setup_s = t_ready - t_proc - gen_s - oracle_s
        session_m = {"start_s": start_s, "warm_s": t_ready - t - start_s - oracle_s}
        log(f"set-up {setup_s:.1f} s, warm-up done at +{time.perf_counter() - t_proc:.1f} s")
        restore = wl.install_spans(ctx.tracer) if a.trace else []
        steal0 = tr.cpu_ticks()
        t = time.perf_counter()
        for kind in wl.schedule(ctx):
            request(ctx, wl, kind, "window")
        for undo in restore:
            undo()
        log(f"window {time.perf_counter() - t:.1f} s")
        rss = tr.peak_rss_mb(spark)
        steal = [y - x for x, y in zip(steal0, tr.cpu_ticks())]
    finally:
        spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)

    e2e = end_to_end(wl, ctx, setup_s, rss)
    names = METRIC_ALIASES.get(wl.name, {})
    print(f"# perfbench workload={wl.name} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    print("# end-to-end (tracing off)" if not a.trace else "# end-to-end (traced run; use trace=0 figures)")
    for k, v in e2e.items():
        print(fmt(f"{k} ({names[k]})" if k in names else k, v))
    # not a metric of the program: on a shared host every timing above
    # grows with it (a few % of steal slowed small batches by a third)
    print(fmt("host.steal_frac (window)", (steal[0] / max(steal[1], 1), "ratio", 1)))
    if wl.name == "serve":
        for k, v in serve_split(wl, ctx).items():
            print(fmt(k, v))
    for k, v in per_type(wl, ctx).items():
        print(fmt(k, v))
    if a.trace:
        layer, detail = per_layer(wl, ctx, session_m)
        print("# per-layer (traced requests)")
        for k, v in {**layer, **detail}.items():
            print(fmt(k, v))
        metrics = {m["name"]: layer[m["name"]] for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
    failed = sum(1 for r in ctx.records if r["error"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ctx.records),
        "failed": failed,
        "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
