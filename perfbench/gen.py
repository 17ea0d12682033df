#!/usr/bin/env python3
"""Seeded input generator for the pipeline benchmark.

Every table the benchmark feeds the engine comes from here, and only from
here: the same (workload, seed) writes byte-identical files, another seed
writes different ones.

  python3 perfbench/gen.py --workload ingest_trickle --seed 7 --out DIR

The ingest workload writes
  DIR/events_in/part-NNNNN.parquet  the topic backlog, one file per trigger
  DIR/warm_in/part-NNNNN.parquet    a warm-up backlog with other events
  DIR/customer.parquet              the FGAC dimension
(its STTM workbook is the bundled demo). The curation workload writes DIR/documents.parquet and DIR/embeddings.parquet
in the testdata schema.

The directory name carries the seed and a digest of the parameters, so two
parameter sets never share a directory (or a store keyed on its basename).
"""
import argparse
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Workload parameters; every record repeats them. BENCHMARK.json lists the
# workloads the suite runs with the one-line reason for each.
WORKLOADS = {
    "ingest_trickle": {
        "kind": "ingest",
        "n_keys": 1500,              # hot user-key set
        "zipf_s": 1.1,               # key skew (rank ** -s)
        "events_per_file": 1000,     # one file = one trigger
        "n_files": 10,               # folds at the 5th and 10th append (Main.FoldBudget 4)
        "n_warm_files": 4,           # warm-up backlog, drained untimed
        "warm_events_per_file": 1000,
        "purchase_share": 0.4,       # rows the EVENTS_VW filter keeps
        "orphan_share": 0.1,         # event keys with no customer row
        "negative_share": 0.15,      # customers with a negative balance
    },
    "curation_batch": {
        "kind": "curation",
        # the shape of the testdata corpus the repo's oracle tests run at
        # sf0.01: 500 documents of 10-99 words, 500 64-d vectors, 10 labels
        "n_docs": 500,
        "near_dup_share": 0.2,       # docs that copy an earlier doc with edits
        "words_min": 10,
        "words_max": 99,
        "n_sources": 8,
        "n_vecs": 500,
        "dim": 64,
        "n_clusters": 10,
        "vec_dup_share": 0.1,        # vectors that nearly repeat another one
    },
}

VOCAB = ("the a and of to in data key value table row column part hash scan "
         "join merge sort group filter window batch stream query order line "
         "customer spark agg index fast slow big small vector shard commit "
         "topic view sink state offset trigger schema field record").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["purchase", "click", "view", "signup", "error"]
TS0_US = 1_704_067_200_000_000          # 2024-01-01T00:00:00Z
FILE_MTIME0 = 1_704_067_200             # fixed file mtimes keep source order


def dataset_dir(root, workload, seed):
    params = json.dumps(WORKLOADS[workload], sort_keys=True)
    digest = hashlib.md5(params.encode()).hexdigest()[:8]
    return os.path.join(root, f"{workload}-s{seed}-p{digest}")


def write_parquet(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True)


def zipf_keys(rng, n_keys, s, size):
    if s <= 0:
        return rng.integers(0, n_keys, size=size, dtype=np.int64)
    w = np.arange(1, n_keys + 1, dtype=np.float64) ** -s
    p = w / w.sum()
    # a seeded permutation spreads the hot ranks over the key space
    perm = rng.permutation(n_keys).astype(np.int64)
    return perm[rng.choice(n_keys, size=size, p=p)]


def json_payload(rng, n):
    """The demo workbook's `props` column: `{"k": v}`."""
    parts = ['{"k": ', pc.cast(pa.array(rng.integers(0, 100, n)), pa.string()), "}"]
    return pc.binary_join_element_wise(*parts, "")


def gen_ingest(p, seed, out):
    rng = np.random.default_rng([seed, 1])
    sizes = ([p["events_per_file"]] * p["n_files"]
             + [p["warm_events_per_file"]] * p["n_warm_files"])
    n = sum(sizes)
    users = zipf_keys(rng, p["n_keys"], p["zipf_s"], n)
    shares = [p["purchase_share"]] + [(1 - p["purchase_share"]) / 4] * 4
    etype = np.array(EVENT_TYPES)[rng.choice(5, size=n, p=shares)]
    ts = TS0_US + np.cumsum(rng.integers(1, 200_000, n, dtype=np.int64))
    value = np.round(rng.uniform(0, 500, n), 2)
    payload = json_payload(rng, n)
    events = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(users),
        "event_type": pa.array(etype),
        "value": pa.array(value),
        "props": payload,
    })
    os.makedirs(os.path.join(out, "events_in"))
    os.makedirs(os.path.join(out, "warm_in"))
    offsets = np.concatenate([[0], np.cumsum(sizes)])
    for f, size in enumerate(sizes):
        sub = "events_in" if f < p["n_files"] else "warm_in"
        path = os.path.join(out, sub, f"part-{f:05d}.parquet")
        write_parquet(events.slice(int(offsets[f]), size), path)
        os.utime(path, (FILE_MTIME0 + f, FILE_MTIME0 + f))

    # customers: every key in the event key space but an orphan share; the
    # key space is capped at the keys events actually use so the dimension
    # stays proportional to the stream
    keys = np.unique(users)
    keep = rng.random(len(keys)) >= p["orphan_share"]
    ck = keys[keep]
    bal = np.round(rng.uniform(0, 9_000, len(ck)), 2)
    neg = rng.random(len(ck)) < p["negative_share"]
    bal[neg] = -np.round(rng.uniform(1, 999, neg.sum()), 2)
    customer = pa.table({
        "c_custkey": pa.array(ck),
        "c_name": pa.array([f"Customer#{k:09d}" for k in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, len(ck)).astype(np.int32)),
        "c_acctbal": pa.array(bal),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, len(ck))]),
    })
    write_parquet(customer, os.path.join(out, "customer.parquet"))


def gen_curation(p, seed, out):
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(VOCAB)
    texts = []
    for i in range(p["n_docs"]):
        if i > 10 and rng.random() < p["near_dup_share"]:
            # near-duplicate: an earlier doc with a couple of word edits
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = str(
                    vocab[rng.integers(0, len(vocab))])
        else:
            n = int(rng.integers(p["words_min"], p["words_max"] + 1))
            words = list(vocab[rng.integers(0, len(vocab), n)])
        texts.append(" ".join(words))
    n_docs = p["n_docs"]
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.where(rng.random(n_docs) < 0.9, "en", "de")),
        "source": pa.array([f"src{int(s)}" for s in
                            rng.integers(0, p["n_sources"], n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    write_parquet(documents, os.path.join(out, "documents.parquet"))

    dim, k, nv = p["dim"], p["n_clusters"], p["n_vecs"]
    centers = rng.normal(0, 1, (k, dim))
    label = rng.integers(0, k, nv)
    vecs = centers[label] + rng.normal(0, 0.6, (nv, dim))
    for i in range(1, nv):
        if rng.random() < p["vec_dup_share"]:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(0, 0.01, dim)
            label[i] = label[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(vecs.astype(np.float32).ravel()), dim)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
    write_parquet(embeddings, os.path.join(out, "embeddings.parquet"))


def generate(root, workload, seed):
    """Write the workload's inputs under `root` (once) and return the dir."""
    out = dataset_dir(root, workload, seed)
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    p = WORKLOADS[workload]
    (gen_ingest if p["kind"] == "ingest" else gen_curation)(p, seed, tmp)
    with open(os.path.join(tmp, "params.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed, **p}, f, sort_keys=True)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    os.rename(tmp, out)
    return out


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True, help="root directory for datasets")
    a = ap.parse_args(argv)
    print(generate(a.out, a.workload, a.seed))


if __name__ == "__main__":
    main(sys.argv[1:])
