"""Seeded input generator for the benchmark workloads.

Each workload reads parquet tables with the schema of the repository's
test data (documents, embeddings, events). The same (workload, seed)
always gives byte-identical files; a finished set is cached under the
work directory and reused. `inputs.json` beside the tables records the
row counts and file sizes.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LANGS = np.array(["en", "fr", "es", "zh", "de"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
EPOCH_US = 1704067200 * 10**6  # 2024-01-01T00:00:00
DAY_US = 86400 * 10**6

# Sizes per workload. mr_wordcount is a Zipf corpus whose scan, tokenize,
# shuffle, sort and write do the work; llm_pipeline's tables are the shape
# of the sf0.1 test data, with fewer documents and vectors.
SIZES = {
    "mr_wordcount": {"docs": 12_000, "mean_tokens": 50, "vocab": 60_000, "zipf": 1.05,
                     "files": 8},
    "llm_pipeline": {"docs": 2_000, "mean_tokens": 54, "vocab": 4_000, "zipf": 1.05,
                     "dup_rate": 0.10, "vectors": 1_000, "dim": 64, "clusters": 10,
                     "events": 100_000, "days": 30, "users": 1_500},
}
TABLES = {
    "mr_wordcount": ["documents"],
    "llm_pipeline": ["documents", "embeddings", "events"],
}


def word_of(ranks):
    """Bijective base-26 spelling of each rank: short words for frequent ranks."""
    out = []
    for r in ranks.tolist():
        s = []
        r += 1
        while r > 0:
            r, m = divmod(r - 1, 26)
            s.append(chr(97 + m))
        out.append("".join(reversed(s)))
    return out


def zipf_ranks(rng, n, vocab, a):
    """n draws from Zipf(a) truncated to ranks 0..vocab-1."""
    w = 1.0 / np.arange(1, vocab + 1, dtype=np.float64) ** a
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(n)), vocab - 1)


def documents(rng, cfg):
    n = cfg["docs"]
    # The spelling of each rank is fixed, so how often stopwords and each
    # first letter occur does not move with the seed; the seed draws the
    # tokens.
    vocab = pa.array(word_of(np.arange(cfg["vocab"])))
    lengths = np.clip(rng.poisson(cfg["mean_tokens"], n), 3, None)
    bodies = np.split(zipf_ranks(rng, int(lengths.sum()), cfg["vocab"], cfg["zipf"]),
                      np.cumsum(lengths)[:-1])
    # planted near-duplicates: dup_rate of the documents are each a copy of
    # a different earlier document with about 5% of its tokens replaced,
    # so every planted cluster is one pair
    planted = int(cfg.get("dup_rate", 0) * n)
    pairs = rng.permutation(np.arange(n))[:2 * planted].reshape(planted, 2)
    for src, d in np.sort(pairs, axis=1):
        body = bodies[src].copy()
        edit = rng.random(len(body)) < 0.05
        body[edit] = zipf_ranks(rng, int(edit.sum()), cfg["vocab"], cfg["zipf"])
        bodies[d] = body
    offsets = np.concatenate([[0], np.cumsum([len(b) for b in bodies])]).astype(np.int32)
    tokens = np.concatenate(bodies)
    words = pc.take(vocab, pa.array(tokens))
    text = pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets), words), " ")
    doc_id = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": doc_id,
        "text": text,
        "lang": pa.array(LANGS[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array(np.char.add("src", (doc_id % 20).astype(str))),
        "n_chars": pc.cast(pc.utf8_length(text), pa.int64()),
    }), planted


def embeddings(rng, cfg):
    n, dim, k = cfg["vectors"], cfg["dim"], cfg["clusters"]
    centers = rng.normal(size=(k, dim))
    label = rng.integers(0, k, n)
    v = centers[label] + 0.35 * rng.normal(size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": label.astype(np.int32),
    })


def events(rng, cfg):
    n = cfg["events"]
    ts = np.sort(EPOCH_US + rng.integers(0, cfg["days"] * DAY_US, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, cfg["users"], n).astype(np.int64),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array(np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)),
                                      "}")),
    })


def write(table, path, files):
    """One parquet file, or a directory of `files` parts in doc_id order
    so that the scan has one split per part."""
    if files == 1:
        pq.write_table(table, path, compression="snappy")
        return {"rows": table.num_rows, "bytes": os.path.getsize(path), "files": 1}
    os.makedirs(path)
    step = -(-table.num_rows // files)
    size = 0
    for i in range(files):
        part = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(i * step, step), part, compression="snappy")
        size += os.path.getsize(part)
    return {"rows": table.num_rows, "bytes": size, "files": files}


def generate(workload, seed, out_dir):
    """Write the workload's tables for `seed` into out_dir (cached)."""
    meta_path = os.path.join(out_dir, "inputs.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    cfg = SIZES[workload]
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)  # left by an interrupted run
    os.makedirs(tmp)
    meta = {"workload": workload, "seed": seed, "sizes": cfg, "tables": {}}
    for name in TABLES[workload]:
        # one generator stream per table, so tables are independent
        rng = np.random.default_rng([seed, TABLES[workload].index(name)])
        files = 1
        if name == "documents":
            table, meta["planted_near_duplicates"] = documents(rng, cfg)
            meta["tokens"] = int(pc.sum(pc.list_value_length(
                pc.split_pattern(table["text"], " "))).as_py())
            files = cfg.get("files", 1)
        elif name == "embeddings":
            table = embeddings(rng, cfg)
        else:
            table = events(rng, cfg)
        meta["tables"][name] = write(table, os.path.join(tmp, f"{name}.parquet"), files)
    meta["input_bytes"] = sum(t["bytes"] for t in meta["tables"].values())
    with open(os.path.join(tmp, "inputs.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    os.replace(tmp, out_dir)
    return meta


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]), sort_keys=True))
