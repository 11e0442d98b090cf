"""Seeded input generator for the surveillance benchmark.

Writes, under one output directory, everything a workload reads:

- ``tables/``: ``documents``, ``events`` and ``embeddings`` parquet files
  with the schemas of the shipped test data (no workload query reads the
  TPC-H tables, so none are written). Shapes follow
  ``tools/gen_testdata.py``: a 31-token vocabulary that makes documents
  near-duplicate-heavy, a monotonic 30-day event stream, unit-norm
  64-dim embeddings. Unlike that tool the seed is an argument.
- ``bronze/<batch>/``: Reddit- and 311-shaped records as a mix of
  array-JSON and JSONL files, with malformed lines, ~20% exact-duplicate
  texts and NYC subreddits, zips, coordinates and neighbourhood aliases.
  ``expected.json`` holds the counts ``pipeline.run_pipeline`` must
  report for every batch, derived here by re-implementing the
  pipeline's relevance and exact-dedup rules in plain Python.

The same seed gives byte-identical files. The program under test only
ever sees the files.

Usage: python3 perfbench/gen.py --seed 7 --out DIR [--docs 5000 ...]
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import random
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = sorted(
    """batch part spark line column order small sort fast value scan a hash
    slow group agg filter query big key window row table stream merge data
    vector customer the join""".split()
)
LANGS = ["en", "de", "es", "zh", "fr"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
DAY_US = 86_400_000_000
T0 = datetime.datetime(2025, 11, 1)

# Relevance vocabularies passed to run_pipeline; the expected counts
# below apply the same rule (operators.relevance.extract_relevance).
PRIMARY = ("flu", "covid", "measles")
SECONDARY = ("fever", "cough", "rash")
HAZARD = ("outbreak",)
FILLER = (
    "people line today heard neighbors many sick near school clinic waiting "
    "long street noise heat water building train park store night morning "
    "week kids office pharmacy tired staying home bad going around"
).split()
SUBREDDITS = ["astoria", "williamsburg", "bushwick", "harlem", "eastvillage",
              "flushing", "nyc", "asknyc"]
ZIPS = ["11102", "11211", "11206", "10027", "10003", "10463", "11354",
        "10301", "11101", "10012", "11375", "07030"]
ALIASES = ["astoria queens", "wburg", "the burg", "east vil", "harlem ny"]
COMPLAINTS = ["Food Poisoning", "Indoor Air Quality", "Rodent", "Mold",
              "Unsanitary Condition", "Water Quality"]
ALL_TERMS = PRIMARY + SECONDARY + HAZARD
if any(t in w for w in FILLER for t in ALL_TERMS):
    raise AssertionError("a filler word contains a relevance term")


def write_tables(out: str, rng: np.random.Generator, docs: int, events: int,
                 embeddings: int) -> None:
    """Parquet tables with the shipped test-data schemas."""
    os.makedirs(out, exist_ok=True)
    users = max(10, int(events * 0.015))
    span = 30 * DAY_US
    gaps = rng.exponential(1.0, events)
    ts = (np.datetime64("2024-01-01", "us").astype("int64")
          + (np.cumsum(gaps) / gaps.sum() * span).astype("int64"))
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, events), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, events)],
        "value": np.round(rng.uniform(0, 1, events) ** 2 * 560, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, events)],
    }), os.path.join(out, "events.parquet"))

    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, docs)
    texts: list[str] = []
    for i in range(docs):
        if i > 0 and rng.random() < 0.002:  # sparse exact duplicates
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), lengths[i])]))
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, docs, p=LANG_P),
        "source": [f"src{k}" for k in rng.integers(0, 20, docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out, "documents.parquet"))

    vecs = rng.normal(0, 1, (embeddings, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(embeddings), pa.int64()),
        "embedding": pa.array([v.astype("float32") for v in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, embeddings), pa.int32()),
    }), os.path.join(out, "embeddings.parquet"))


def _text(r: random.Random) -> str:
    words = r.choices(FILLER, k=r.randint(4, 11))
    if r.random() < 0.3:
        words.append(r.choice(PRIMARY))
    if r.random() < 0.3:
        words += r.sample(SECONDARY, r.randint(1, 2))
    if r.random() < 0.05:
        words.append(HAZARD[0])
    if r.random() < 0.15:
        words.append(r.choice(ALIASES))
    r.shuffle(words)
    return " ".join(words).capitalize() + ("!" if r.random() < 0.2 else "")


def _iso(seconds: int) -> str:
    return (T0 + datetime.timedelta(seconds=seconds)).isoformat()


def _fingerprint_key(text: str) -> str:
    """functions.text_funcs.fingerprint's normalization, before md5."""
    s = re.sub(r"[^a-z0-9 ]", " ", text.lower()).strip(" ")
    return re.sub(r" +", " ", s)


def _relevant(text: str) -> bool:
    lc = text.lower()
    n_p = sum(k in lc for k in PRIMARY)
    n_s = sum(k in lc for k in SECONDARY)
    n_h = sum(k in lc for k in HAZARD)
    return len(text) >= 5 and (n_p > 0 or n_s >= 2 or n_h > 0)


def expected_counts(records: list[dict]) -> dict[str, int]:
    """n_bronze / n_unique / n_relevant as run_pipeline defines them:
    the lowest id per normalized-text fingerprint is canonical, and a
    relevant row counts only when canonical."""
    canon: dict[str, tuple[str, str]] = {}
    for r in records:
        rid = r.get("post_id") or r["id"]
        key = _fingerprint_key(r["text"])
        if key not in canon or rid < canon[key][0]:
            canon[key] = (rid, r["text"])
    return {
        "n_bronze": len(records),
        "n_unique": len(canon),
        "n_relevant": sum(_relevant(t) for _, t in canon.values()),
    }


def write_bronze(out: str, rng: np.random.Generator, tag: str, n: int,
                 n_files: int) -> dict[str, int]:
    """One bronze batch of about ``n`` valid records over ``n_files``
    files; returns the counts run_pipeline must report for it."""
    os.makedirs(out, exist_ok=True)
    r = random.Random(int(rng.integers(0, 2**63)))
    records: list[dict] = []
    pool: list[str] = []
    for i in range(n):
        if pool and r.random() < 0.2:
            text = r.choice(pool)
        else:
            text = _text(r)
            pool.append(text)
        ts = r.randrange(30 * 86_400)
        if r.random() < 0.6:
            records.append({
                "post_id": f"{tag}r{i:07d}", "subreddit": r.choice(SUBREDDITS),
                "title": "t", "author": f"u{r.randrange(5000)}",
                "created_utc": _iso(ts), "score": r.randrange(500),
                "num_comments": r.randrange(50), "text": text,
                "url": f"https://reddit.example/{tag}{i}", "scraped_at": _iso(ts + 3600),
            })
        else:
            rec = {
                "id": f"{tag}s{i:07d}", "timestamp": _iso(ts),
                "type": r.choice(COMPLAINTS), "text": text,
                "zip": r.choice(ZIPS), "status": "Open", "scraped_at": _iso(ts + 3600),
            }
            if r.random() < 0.5:
                rec["latitude"] = round(r.uniform(40.6, 40.9), 5)
                rec["longitude"] = round(r.uniform(-74.1, -73.8), 5)
            records.append(rec)
    # file f gets every n_files-th record; reddit and 311 records split
    # into their own files as the publisher's per-source folders do
    for f in range(n_files):
        chunk = records[f::n_files]
        for src, part in (("reddit", [r for r in chunk if "post_id" in r]),
                          ("nyc_311", [r for r in chunk if "id" in r])):
            if not part:
                continue
            if f % 2 == 0:
                with open(os.path.join(out, f"{src}_{f:03d}.json"), "w") as fh:
                    fh.write(json.dumps(part))
            else:
                lines = [json.dumps(r) for r in part]
                # malformed lines: a truncated record and a non-record
                lines.insert(len(lines) // 2, json.dumps(part[0])[:25])
                lines.append("not json at all")
                with open(os.path.join(out, f"{src}_{f:03d}.jsonl"), "w") as fh:
                    fh.write("\n".join(lines) + "\n")
    return expected_counts(records)


def generate(out: str, seed: int, *, docs: int = 0, events: int = 0,
             embeddings: int = 0, batches: tuple[tuple[int, int], ...] = ()) -> dict:
    """Write every input of one workload; returns the manifest, which is
    also saved as ``expected.json``."""
    rng = np.random.default_rng(seed)
    manifest: dict = {"seed": seed, "tables": {}, "batches": []}
    if docs:
        write_tables(os.path.join(out, "tables"), rng, docs, events, embeddings)
        manifest["tables"] = {"documents": docs, "events": events,
                              "embeddings": embeddings}
    for b, (n, n_files) in enumerate(batches):
        rel = os.path.join("bronze", f"b{b:03d}")
        counts = write_bronze(os.path.join(out, rel), rng, f"b{b}", n, n_files)
        manifest["batches"].append({"dir": rel, "files": n_files, **counts})
    with open(os.path.join(out, "expected.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--docs", type=int, default=5000)
    ap.add_argument("--events", type=int, default=100_000)
    ap.add_argument("--embeddings", type=int, default=2000)
    ap.add_argument("--batch", action="append", default=[],
                    help="RECORDS:FILES, one bronze batch each; repeatable")
    a = ap.parse_args()
    batches = tuple(tuple(int(x) for x in b.split(":")) for b in a.batch)
    generate(a.out, a.seed, docs=a.docs, events=a.events,
             embeddings=a.embeddings, batches=batches)


if __name__ == "__main__":
    main()
