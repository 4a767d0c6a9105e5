"""Seeded input generator for the benchmark.

`sink_microbatch`: arrival files in the fixture `events` schema (event_id
bigint, ts timestamp[us], user_id bigint, event_type string, value double,
props string). `index_maintain`: a corpus in the fixture `documents` and
`embeddings` schemas plus the ops of every upsert pass. Each workload also
gets a `manifest.json` with the truth the correctness gate compares
against. The same seed and parameters give byte-identical files.
Generation runs before the program starts, so it is never timed.

    python3 perfbench/gen.py sink_microbatch OUT --seed 1 --files 60
    python3 perfbench/gen.py index_maintain OUT --seed 1 --passes 4
"""

import argparse
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

START_S = 1704067200  # 2024-01-01T00:00:00Z, the fixture's first day
WINDOW_S = 300        # the 5-minute logdate
# one arrival file covers two logdates, so each micro-batch completes about
# two and a short run holds enough completions
FILE_SECONDS = 600
LATE_S = 600          # how late a late event is: one watermark delay
CATEGORIES = ["view", "click", "purchase", "signup", "error",
              "search", "share", "logout"]
NO_CATEGORY = "no_category"

EVENTS = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])

# the fixture corpus's vocabulary, with the probe's terms (spark, join,
# window) among it
WORDS = ["scan", "column", "window", "order", "sort", "part", "agg", "value",
         "line", "key", "join", "merge", "group", "query", "a", "vector",
         "hash", "slow", "stream", "filter", "fast", "the", "batch", "spark",
         "table", "small", "data", "big", "customer", "row", "dup"]
LANGS = ["en", "fr", "es", "zh", "de"]
SOURCES = 20
DIM = 64
LABELS = 10
# of the deletes in a pass: the share that cancels an insert of the same
# pass, and the share that names a live doc the exact index never kept
CANCEL_SHARE = 0.2
NONKEPT_SHARE = 0.1

DOCUMENTS = pa.schema([
    ("doc_id", pa.int64()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("source", pa.string()),
    ("n_chars", pa.int64()),
])
EMBEDDINGS = pa.schema([
    ("vec_id", pa.int64()),
    ("embedding", pa.list_(pa.float32())),
    ("label", pa.int32()),
])


def logdate(epoch_s):
    b = epoch_s - epoch_s % WINDOW_S
    return datetime.datetime.fromtimestamp(
        b, datetime.timezone.utc).strftime("%Y%m%d%H%M")


def category_weights(skew):
    w = 1.0 / np.arange(1, len(CATEGORIES) + 1) ** skew
    return w / w.sum()


def make_events(rng, first_id, n, lo_s, hi_s, p):
    """`n` events with nominal times uniform in [lo_s, hi_s), in arrival
    (time) order; a `late_share` of them carry a timestamp LATE_S earlier
    and a `missing_share` have no category."""
    nominal = np.sort(rng.integers(lo_s * 1_000_000, hi_s * 1_000_000, n))
    late = rng.random(n) < p["late_share"]
    ts = nominal - late.astype(np.int64) * LATE_S * 1_000_000
    cats = rng.choice(len(CATEGORIES), n, p=category_weights(p["skew"]))
    missing = rng.random(n) < p["missing_share"]
    event_type = [None if m else CATEGORIES[c] for c, m in zip(cats, missing)]
    users = rng.integers(0, 200, n)
    values = np.round(rng.random(n) * 50.0, 2)
    ks = rng.integers(0, 100, n)
    return pa.table([
        pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        pa.array(ts, type=pa.timestamp("us")),
        pa.array(users, type=pa.int64()),
        pa.array(event_type, type=pa.string()),
        pa.array(values, type=pa.float64()),
        pa.array([f'{{"k": {k}}}' for k in ks], type=pa.string()),
    ], schema=EVENTS)


def summarize(table):
    """Per-file truth: rows, rows and missing-category rows per logdate,
    rows and max epoch second per (5-min bucket, category), max ts."""
    ts = table.column("ts").cast(pa.int64()).to_numpy()
    secs = ts // 1_000_000
    cats = table.column("event_type").to_pylist()
    per_ld, missing, buckets = {}, {}, {}
    for s, c in zip(secs.tolist(), cats):
        ld = logdate(s)
        per_ld[ld] = per_ld.get(ld, 0) + 1
        if c is None:
            missing[ld] = missing.get(ld, 0) + 1
        key = f"{s - s % WINDOW_S}|{c if c is not None else NO_CATEGORY}"
        n, mx = buckets.get(key, (0, s))
        buckets[key] = (n + 1, max(mx, s))
    return {
        "rows": table.num_rows,
        "max_ts_us": int(ts.max()),
        "logdates": dict(sorted(per_ld.items())),
        "missing": dict(sorted(missing.items())),
        "buckets": {k: list(v) for k, v in sorted(buckets.items())},
    }


def write(table, path):
    pq.write_table(table, path, compression="snappy")


def gen_sink(out, seed, p):
    """`files` arrival files of `batch_size` events; file k covers event
    time [k, k+1) × FILE_SECONDS from the fixture's first day."""
    rng = np.random.Generator(np.random.PCG64(seed))
    os.makedirs(os.path.join(out, "arrivals"), exist_ok=True)
    write(EVENTS.empty_table(), os.path.join(out, "schema.parquet"))
    files = []
    for k in range(p["files"]):
        lo = START_S + k * FILE_SECONDS
        t = make_events(rng, k * p["batch_size"], p["batch_size"],
                        lo, lo + FILE_SECONDS, p)
        name = f"arrival-{k:05d}.parquet"
        write(t, os.path.join(out, "arrivals", name))
        files.append(dict(name=name, **summarize(t)))
    return files


def poly_hash(s):
    """The program's text fingerprint (`TextFns.polyHash`)."""
    acc = 0
    for c in s:
        acc = (acc * 31 + ord(c)) % 1000000007
    return acc


def make_corpus(rng, n, p):
    """`n` docs in id (arrival) order. An `exact_dup_share` copy an earlier
    doc's text, a `near_dup_share` copy one with one token replaced, and a
    `sem_dup_share` carry an earlier doc's vector plus small noise; the
    rest are fresh. Vectors are unit length, as in the fixture."""
    texts, vecs = [], np.empty((n, DIM), dtype=np.float32)
    centres = rng.normal(size=(LABELS, DIM))
    labels = rng.integers(0, LABELS, n)
    for i in range(n):
        r = rng.random()
        if i and r < p["exact_dup_share"]:
            text = texts[rng.integers(0, i)]
        elif i and r < p["exact_dup_share"] + p["near_dup_share"]:
            toks = texts[rng.integers(0, i)].split(" ")
            toks[rng.integers(0, len(toks))] = WORDS[rng.integers(0, len(WORDS))]
            text = " ".join(toks)
        else:
            text = " ".join(WORDS[w] for w in
                            rng.integers(0, len(WORDS), rng.integers(10, 100)))
        texts.append(text)
        if i and rng.random() < p["sem_dup_share"]:
            v = vecs[rng.integers(0, i)] + rng.normal(scale=0.02, size=DIM)
        else:
            v = 0.3 * centres[labels[i]] + rng.normal(size=DIM)
        vecs[i] = v / np.linalg.norm(v)
    sources = [f"src{s}" for s in rng.integers(0, SOURCES, n)]
    langs = [LANGS[x] for x in rng.integers(0, len(LANGS), n)]
    return texts, sources, langs, vecs, labels


def docs_table(ids, texts, sources, langs=None):
    cols = [pa.array(ids, type=pa.int64()),
            pa.array([texts[i] for i in ids], type=pa.string())]
    if langs is None:
        return pa.table(cols + [pa.array([sources[i] for i in ids], type=pa.string())],
                        names=["doc_id", "text", "source"])
    return pa.table(cols + [
        pa.array([langs[i] for i in ids], type=pa.string()),
        pa.array([sources[i] for i in ids], type=pa.string()),
        pa.array([len(texts[i]) for i in ids], type=pa.int64()),
    ], schema=DOCUMENTS)


def gen_index(out, seed, p):
    """The corpus (`sf/documents.parquet`, `sf/embeddings.parquet`) holds
    every doc a run can see, `vec_id ≡ doc_id`: the stored docs (ids below
    `docs`), then `inserts` docs per upsert pass. `stored.parquet` is the
    stored slice; pass k's ops are `ops/pass-<k>-inserts.parquet` and
    `ops/pass-<k>-deletes.parquet` (`delete_share` × `inserts` keys: some
    cancel an insert of the same pass, some name a live doc the exact index
    never kept, the rest a live doc). The manifest holds the truth after
    each pass: live docs and tokens per source, and the exact index's
    keeper count under keep-first-by-arrival with deletes applied before
    inserts, as `Maintenance.multiArtifactUpsert` orders them."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n = p["docs"] + p["passes"] * p["inserts"]
    texts, sources, langs, vecs, labels = make_corpus(rng, n, p)
    os.makedirs(os.path.join(out, "sf"))
    os.makedirs(os.path.join(out, "ops"))
    ids = list(range(n))
    write(docs_table(ids, texts, sources, langs), os.path.join(out, "sf", "documents.parquet"))
    write(pa.table([pa.array(ids, type=pa.int64()),
                    pa.array(list(vecs), type=pa.list_(pa.float32())),
                    pa.array(labels, type=pa.int32())], schema=EMBEDDINGS),
          os.path.join(out, "sf", "embeddings.parquet"))
    stored = ids[:p["docs"]]
    write(docs_table(stored, texts, sources), os.path.join(out, "stored.parquet"))

    fps = [poly_hash(t) for t in texts]
    live, kept = set(stored), {}
    for i in stored:
        kept.setdefault(fps[i], i)

    def truth():
        per = {}
        for i in live:
            c, t = per.get(sources[i], (0, 0))
            per[sources[i]] = (c + 1, t + len(texts[i].split(" ")))
        return {"live": len(live), "keepers": len(kept),
                "sources": {s: list(v) for s, v in sorted(per.items())}}

    passes = [dict(name="stored", rows=len(stored), **truth())]
    n_del = round(p["delete_share"] * p["inserts"])
    for k in range(p["passes"]):
        lo = p["docs"] + k * p["inserts"]
        ins = ids[lo:lo + p["inserts"]]
        keepers = set(kept.values())
        pool = sorted(live)
        nonkept = [i for i in pool if i not in keepers]
        cancel = rng.choice(ins, round(CANCEL_SHARE * n_del), replace=False).tolist()
        unkept = rng.choice(nonkept, min(len(nonkept), round(NONKEPT_SHARE * n_del)),
                            replace=False).tolist()
        rest = rng.choice(sorted(set(pool) - set(unkept)), n_del - len(cancel) - len(unkept),
                          replace=False).tolist()
        dels = sorted(cancel + unkept + rest)
        name = f"pass-{k:03d}"
        write(docs_table(ins, texts, sources), os.path.join(out, "ops", f"{name}-inserts.parquet"))
        write(pa.table([pa.array(dels, type=pa.int64())], names=["doc_id"]),
              os.path.join(out, "ops", f"{name}-deletes.parquet"))
        gone = set(dels)
        live -= gone
        kept = {fp: i for fp, i in kept.items() if i not in gone}
        for i in ins:
            if i not in gone:
                live.add(i)
                kept.setdefault(fps[i], i)
        passes.append(dict(name=name, rows=len(ins) + len(dels), inserts=len(ins),
                           deletes=len(dels), net_inserts=len(set(ins) - gone), **truth()))
    return passes


SINK = {
    # the reference's hive.batchSize default; one file per micro-batch
    "batch_size": 1000,
    "files": 60,
    "late_share": 0.02,
    "missing_share": 0.025,
    "skew": 1.1,
}
INDEX = {
    "docs": 500,
    "passes": 4,
    "inserts": 250,
    "delete_share": 0.4,
    "exact_dup_share": 0.08,
    "near_dup_share": 0.08,
    "sem_dup_share": 0.08,
}
WORKLOADS = {"sink_microbatch": (SINK, gen_sink), "index_maintain": (INDEX, gen_index)}


def generate(workload, out, seed, **overrides):
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload}")
    defaults, gen = WORKLOADS[workload]
    unknown = {k for k, v in overrides.items() if v is not None} - set(defaults)
    if unknown:
        raise ValueError(f"{workload} takes no {', '.join(sorted(unknown))}")
    p = dict(defaults, **{k: v for k, v in overrides.items() if v is not None})
    os.makedirs(out, exist_ok=True)
    files = gen(out, seed, p)
    manifest = {"workload": workload, "seed": seed, "params": p, "files": files}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    # one line per file (or pass) for the JVM side: name, rows
    with open(os.path.join(out, "files.tsv"), "w") as f:
        for e in files:
            f.write(f"{e['name']}\t{e['rows']}\n")
    return manifest


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workload", choices=sorted(WORKLOADS))
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    for k, v in {**SINK, **INDEX}.items():
        ap.add_argument("--" + k.replace("_", "-"), type=type(v))
    a = vars(ap.parse_args())
    workload, out, seed = a.pop("workload"), a.pop("out"), a.pop("seed")
    try:
        generate(workload, out, seed, **{k: v for k, v in a.items() if v is not None})
    except ValueError as e:
        ap.error(str(e))


if __name__ == "__main__":
    main()
