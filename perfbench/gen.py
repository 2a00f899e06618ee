#!/usr/bin/env python3
"""Seeded input generator for the ODF engine benchmark.

Runs outside the engine (pyarrow only). The same ``--seed`` gives byte-for-byte
the same inputs. Writes parquet files plus ``manifest.json`` into ``--out``.

Usage: python3 perfbench/gen.py --workload odf-incremental --seed 1 --out DIR

Input make-up (also recorded in README.md):
  raw batches     3000 rows each; columns seq, op, ts (naive TIMESTAMP millis,
                  the Normalize cast path), user_id, kind, value, props (JSON)
  op mix          92% append (0), 3% retract (1), 5% correction pairs
                  (correct-from 2 immediately followed by correct-to 3)
  event times     ascending within a 10-minute tick window, 8% late rows
                  (up to 2 h before the window), 10% swapped with a neighbour
                  (out of order)
  props           {"city", "score", "tags"}; 5% lack score, 3% have score null,
                  2% are {}
  dim ledger      one file, 500 user ids minus every 7th (the join drops those)
  backfill        a ledger history of SLICES files x SLICE_ROWS rows, with a
                  `channel` column added from the middle slice on
                  (mergeSchema path) and a naive `seen_at` column
  curation        documents (doc_id, text, lang, source, n_chars) and 64-d
                  unit-norm clustered embeddings (vec_id, embedding, label)
"""
import argparse
import json
import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS_PER_BATCH = 3000
BATCHES_PER_PIPELINE = 16
TICK = timedelta(minutes=10)
EPOCH = datetime(2024, 3, 1, tzinfo=timezone.utc)
DIM_SYSTEM_TIME = datetime(2024, 2, 1, tzinfo=timezone.utc)
KINDS = np.array(["click", "view", "purchase", "share", "noise", "signup"])
CITIES = np.array([f"c{i:02d}" for i in range(40)])
TAGS = ["new", "promo", "mobile", "web", "beta"]
DIM_USERS = 500
SLICES = 32
SLICE_ROWS = 5000
DOCS = 1200
EMBEDDINGS = 1000
# the 30 words of the sf0.1 test data's documents, drawn uniformly as there
WORDS = ("key agg row scan slow fast table value part hash a the line sort window "
         "merge batch spark order data column join small customer query big stream "
         "group filter vector").split()
NEAR_DUP_SHARE = 0.05
LANGS = (["en", "zh", "es", "de", "fr"], [0.41, 0.15, 0.15, 0.14, 0.15])

UTC_MS = pa.timestamp("ms", tz="UTC")
NAIVE_MS = pa.timestamp("ms")


def iso(t):
    return t.astimezone(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"


def ms(t):
    return int(t.timestamp() * 1000)


def op_column(rng, n):
    """92% append, 3% retract, 5% correct-from/correct-to pairs."""
    ops = np.zeros(n, dtype=np.int32)
    draw = rng.random(n)
    ops[draw < 0.03] = 1
    pairs = np.flatnonzero((draw >= 0.03) & (draw < 0.055))
    pairs = pairs[pairs < n - 1]
    ops[pairs] = 2
    ops[pairs + 1] = 3
    return ops


def event_times_ms(rng, n, window_start):
    """Ascending times in the tick window, some late, some out of order."""
    start = ms(window_start)
    t = np.sort(rng.integers(start, start + int(TICK.total_seconds() * 1000), n))
    late = rng.random(n) < 0.08
    t[late] = start - rng.integers(1, 2 * 3600 * 1000, late.sum())
    swap = np.flatnonzero(rng.random(n - 1) < 0.10)
    t[swap], t[swap + 1] = t[swap + 1].copy(), t[swap].copy()
    return t


def props_column(rng, n):
    city = CITIES[rng.integers(0, len(CITIES), n)]
    score = rng.integers(0, 100, n)
    shape = rng.random(n)
    ntags = rng.integers(0, 3, n)
    out = []
    for i in range(n):
        s = shape[i]
        if s < 0.02:
            out.append("{}")
            continue
        tags = json.dumps(TAGS[: ntags[i]])
        if s < 0.07:
            out.append(f'{{"city":"{city[i]}","tags":{tags}}}')
        elif s < 0.10:
            out.append(f'{{"city":"{city[i]}","score":null,"tags":{tags}}}')
        else:
            out.append(f'{{"city":"{city[i]}","score":{score[i]},"tags":{tags}}}')
    return out


def event_payload(rng, n):
    user = rng.integers(0, DIM_USERS, n).astype(np.int64)
    kind = KINDS[rng.choice(len(KINDS), n, p=[0.3, 0.3, 0.1, 0.1, 0.1, 0.1])]
    value = np.round(rng.normal(50.0, 30.0, n), 2)
    # a correct-to row restates the correct-from row's key with a new value
    return user, kind, value


def fix_corrections(ops, user, kind):
    idx = np.flatnonzero(ops == 3)
    user[idx] = user[idx - 1]
    kind[idx] = kind[idx - 1]


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def raw_batch(seed, pipeline, batch):
    rng = np.random.default_rng([seed, 1, pipeline, batch])
    n = ROWS_PER_BATCH
    window = EPOCH + batch * TICK
    ops = op_column(rng, n)
    user, kind, value = event_payload(rng, n)
    fix_corrections(ops, user, kind)
    ts = event_times_ms(rng, n, window)
    table = pa.table({
        "seq": pa.array(np.arange(n, dtype=np.int64)),
        "op": pa.array(ops),
        "ts": pa.array(ts, type=NAIVE_MS),
        "user_id": pa.array(user),
        "kind": pa.array(kind),
        "value": pa.array(value),
        "props": pa.array(props_column(rng, n)),
    })
    # explicit watermarks trail the window end; the max is the later one
    wms = [[iso(window + TICK), iso(window + TICK / 2 - timedelta(seconds=30))],
           [iso(window + TICK + timedelta(seconds=1)), iso(window + TICK - timedelta(seconds=60))]]
    return table, wms


def dim_ledger(seed, path, watermark_event):
    rng = np.random.default_rng([seed, 2])
    users = np.array([u for u in range(DIM_USERS) if u % 7 != 3], dtype=np.int64)
    n = len(users)
    table = pa.table({
        "offset": pa.array(np.arange(n, dtype=np.int64)),
        "op": pa.array(np.zeros(n, dtype=np.int32)),
        "system_time": pa.array(np.full(n, ms(DIM_SYSTEM_TIME)), type=UTC_MS),
        "event_time": pa.array(np.full(n, ms(DIM_SYSTEM_TIME)), type=UTC_MS),
        "user_id": pa.array(users),
        "segment": pa.array(np.array(["gold", "silver", "bronze", "trial"])[rng.integers(0, 4, n)]),
        "region": pa.array(np.array(["eu", "us", "apac"])[rng.integers(0, 3, n)]),
        "weight": pa.array(np.round(rng.uniform(0.5, 2.0, n), 3)),
    })
    write(table, path)
    return {"path": path, "rows": n,
            "watermark": [iso(DIM_SYSTEM_TIME), iso(watermark_event)]}


def gen_odf_ticks(seed, out, pipelines):
    manifest = {"pipelines": pipelines, "batches": BATCHES_PER_PIPELINE,
                "rows_per_batch": ROWS_PER_BATCH, "batch_watermarks": {}}
    for p in range(pipelines):
        wms = []
        for b in range(BATCHES_PER_PIPELINE):
            table, wm = raw_batch(seed, p, b)
            write(table, os.path.join(out, "raw", f"p{p}", f"b{b:03d}.parquet"))
            wms.append(wm)
        manifest["batch_watermarks"][str(p)] = wms
    # the dimension's watermark sits mid-history, so B's min-of-max switches
    # from A's watermark to the dimension's halfway through the batches
    manifest["dim"] = dim_ledger(seed, os.path.join(out, "dim.parquet"),
                                 EPOCH + (BATCHES_PER_PIPELINE // 2) * TICK)
    return manifest


def gen_backfill(seed, out):
    files, start = [], 0
    for s in range(SLICES):
        rng = np.random.default_rng([seed, 3, s])
        n = SLICE_ROWS
        window = EPOCH + s * TICK
        ops = op_column(rng, n)
        user, kind, value = event_payload(rng, n)
        fix_corrections(ops, user, kind)
        ts = event_times_ms(rng, n, window)
        sys_ms = ms(EPOCH + timedelta(days=30) + s * TICK)
        cols = {
            "offset": pa.array(np.arange(start, start + n, dtype=np.int64)),
            "op": pa.array(ops),
            "system_time": pa.array(np.full(n, sys_ms), type=UTC_MS),
            "event_time": pa.array(ts, type=UTC_MS),
            "seen_at": pa.array(ts + rng.integers(0, 60000, n), type=NAIVE_MS),
            "user_id": pa.array(user),
            "kind": pa.array(kind),
            "value": pa.array(value),
            "props": pa.array(props_column(rng, n)),
        }
        if s >= SLICES // 2:
            cols["channel"] = pa.array(np.array(["app", "web", "api"])[rng.integers(0, 3, n)])
        path = os.path.join(out, "history", f"slice{s:03d}.parquet")
        write(pa.table(cols), path)
        files.append({"path": path, "start": start, "end": start + n - 1})
        start += n
    last = EPOCH + SLICES * TICK
    return {
        "history": files,
        "rows": start,
        "history_watermarks": [[iso(last), iso(last - timedelta(minutes=20))],
                               [iso(last + timedelta(seconds=5)), iso(last - timedelta(minutes=5))]],
        "dim": dim_ledger(seed, os.path.join(out, "dim.parquet"), EPOCH + (SLICES // 3) * TICK),
    }


def gen_curation(seed, out):
    """The make-up of the sf0.1 test data's documents and embeddings, at a
    quarter of the documents and half of the embeddings: 10-99 words from
    its 30-word vocabulary, 5% near-duplicates (a copy of another document
    with " dup" appended), random unit-norm 64-d vectors with 10 labels."""
    rng = np.random.default_rng([seed, 4])
    words = np.array(WORDS)
    texts = []
    for _ in range(DOCS):
        if texts and rng.random() < NEAR_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 100)))]))
    docs = pa.table({
        "doc_id": pa.array(np.arange(DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS[0], DOCS, p=LANGS[1])),
        "source": pa.array([f"src{i % 20}" for i in range(DOCS)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    write(docs, os.path.join(out, "documents.parquet"))
    vecs = rng.normal(0.0, 1.0, (EMBEDDINGS, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(EMBEDDINGS, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, EMBEDDINGS).astype(np.int32)),
    })
    write(emb, os.path.join(out, "embeddings.parquet"))
    return {"data_dir": out, "documents": DOCS, "embeddings": EMBEDDINGS}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    out = os.path.abspath(a.out)
    os.makedirs(out, exist_ok=True)
    if a.workload == "odf-incremental":
        m = gen_odf_ticks(a.seed, out, 1)
    elif a.workload == "odf-concurrent":
        m = gen_odf_ticks(a.seed, out, 4)
    elif a.workload == "odf-backfill":
        m = gen_backfill(a.seed, out)
    elif a.workload == "curation-batch":
        m = gen_curation(a.seed, out)
    else:
        raise SystemExit(f"unknown workload {a.workload}")
    m.update({"workload": a.workload, "seed": a.seed, "dir": out})
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(m, f, indent=1)


if __name__ == "__main__":
    main()
