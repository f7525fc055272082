"""Seeded input generation for the three workloads.

Everything the program reads is written here, from ``--seed`` alone, before
the JVM starts; the program sees only these files. The same seed and size
give byte-identical files (tests/test_cdcbench.py pins that).

Layout of ``<dir>`` after :func:`generate`:

* ``params.properties`` -- sizes and operator parameters the harness reads;
* coref-stream: ``chunks/chunk-NNNNN.parquet`` (one micro-batch each, schema
  of ``StreamingClustering.MentionEvent``) and ``gold.tsv`` (id, entity);
* coref-batch: ``emb-N.tsv`` in the ``Sources.readEmbeddingsTsv`` format
  (``uid \\t entity \\t v0 ... v_{d-1}``), one file per op input;
* dedup-batch: ``docs-N.parquet`` (doc_id, text, n_chars), ``groups-N.tsv``
  (doc_id, planted group) and ``planted-N.tsv`` (dup, original, kind).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The 31-word vocabulary of scripts/gen_sf1.py, so dedup documents have the
# catalog's shingle statistics.
VOCAB = np.array(sorted(
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table value window write zip".split()))

# Sizes per workload. "full" is the measured shape; "tiny" only proves the
# pipeline end to end (tests). Every op of a workload has the same size.
SIZES = {
    "full": {
        "coref-stream": dict(keys=32, dim=32, entities=30, chunk=64, limit=64,
                             warm_chunks=8, min_ops=30, chunks_per_s=25),
        "coref-batch": dict(inputs=3, keys=4, per_key=1024, dim=32, entities=24,
                            limit=64, min_ops=3, warm_ops=1),
        "dedup-batch": dict(inputs=4, docs=6000, min_ops=4, warm_ops=1),
    },
    "tiny": {
        "coref-stream": dict(keys=2, dim=8, entities=4, chunk=8, limit=8,
                             warm_chunks=2, min_ops=4, chunks_per_s=25),
        "coref-batch": dict(inputs=2, keys=2, per_key=24, dim=8, entities=4,
                            limit=8, min_ops=2, warm_ops=1),
        "dedup-batch": dict(inputs=2, docs=300, min_ops=2, warm_ops=1),
    },
}

# Operator parameters shared by every size.
GREEDY_THRESHOLD = 0.5     # cosine threshold of the greedy clusterer
GRINCH_THRESHOLD = 0.5     # flat-cut threshold of GRINCH (dot on l2-normed)
NOISE = 0.8                # mention noise norm relative to its unit centre
# scripts/gen_sf1.py's planting rates; its first 100 documents are never
# duplicates
DEDUP_EXACT = 0.002        # share of planted exact duplicates
DEDUP_NEAR = 0.02          # share of planted 1-2-token-edit duplicates
JACCARD_NUM, JACCARD_DEN = 1, 2
MAX_BUCKET = 64            # the d7/d8 catalog bucket-occupancy cap


def _unit(x):
    return x / np.linalg.norm(x, axis=-1, keepdims=True)


def _centres(rng, keys, entities, dim):
    """Per key, ``entities`` orthonormal entity centres in a random
    rotation: how close two entities' centres happen to fall does not vary
    with the seed, so the clustering quality does not either."""
    q = np.linalg.qr(rng.normal(size=(keys, dim, entities)))[0]
    return np.transpose(q, (0, 2, 1))


def _mentions(rng, n, dim, centres, weights):
    """n mentions drawn from entity centres (Zipf-like weights) plus noise."""
    ent = rng.choice(len(centres), size=n, p=weights)
    noise = rng.normal(size=(n, dim)) * (NOISE / np.sqrt(dim))
    return ent, _unit(centres[ent] + noise).astype(np.float32)


def _zipf(k):
    w = 1.0 / np.arange(1, k + 1)
    return w / w.sum()


def _write_props(path, props):
    with open(path, "w") as f:
        for k in sorted(props):
            f.write(f"{k}={props[k]}\n")


def gen_coref_stream(rng, d, s, seconds):
    n_chunks = s["warm_chunks"] + max(s["min_ops"], int(seconds * s["chunks_per_s"]))
    keys, dim, chunk = s["keys"], s["dim"], s["chunk"]
    centres = _centres(rng, keys, s["entities"], dim)
    weights = _zipf(s["entities"])
    os.makedirs(f"{d}/chunks")
    gold = []
    schema = pa.schema([("key", pa.int64()), ("id", pa.int64()),
                        ("order", pa.int64()), ("vec", pa.list_(pa.float32()))])
    for c in range(n_chunks):
        # keys round-robin inside a chunk, so every batch touches every key
        key = np.arange(chunk) % keys
        vecs = np.empty((chunk, dim), np.float32)
        for k in range(keys):
            rows = np.where(key == k)[0]
            ent, v = _mentions(rng, len(rows), dim, centres[k], weights)
            vecs[rows] = v
            gold.extend((c * chunk + r, f"k{k}e{e}") for r, e in zip(rows, ent))
        ids = np.arange(c * chunk, (c + 1) * chunk, dtype=np.int64)
        tbl = pa.table({"key": key.astype(np.int64), "id": ids, "order": ids,
                        "vec": pa.array(list(vecs), pa.list_(pa.float32()))},
                       schema=schema)
        pq.write_table(tbl, f"{d}/chunks/chunk-{c:05d}.parquet")
    gold.sort()
    with open(f"{d}/gold.tsv", "w") as f:
        f.writelines(f"{i}\t{e}\n" for i, e in gold)
    return dict(chunks=n_chunks, chunk_rows=chunk, keys=keys,
                warm_chunks=s["warm_chunks"], limit=s["limit"], min_ops=s["min_ops"],
                quality_chunks=s["warm_chunks"] + s["min_ops"])


def gen_coref_batch(rng, d, s):
    keys, dim, per_key = s["keys"], s["dim"], s["per_key"]
    for i in range(s["inputs"]):
        centres = _centres(rng, keys, s["entities"], dim)
        weights = _zipf(s["entities"])
        with open(f"{d}/emb-{i}.tsv", "w") as f:
            for k in range(keys):
                ent, v = _mentions(rng, per_key, dim, centres[k], weights)
                for j in range(per_key):
                    vals = "\t".join(f"{x:.6f}" for x in v[j])
                    f.write(f"{k * per_key + j}\tk{k}e{ent[j]}\t{vals}\n")
    return dict(inputs=s["inputs"], keys=keys, per_key=per_key,
                records=keys * per_key, limit=s["limit"], min_ops=s["min_ops"],
                warm_ops=s["warm_ops"])


def _dedup_docs(rng, n):
    """gen_sf1.py's document shape and duplicate planting."""
    texts, planted = [], []
    for i in range(n):
        r = rng.random()
        if i > 100 and r < DEDUP_EXACT:
            src = int(rng.integers(0, i))
            texts.append(texts[src])
            planted.append((i, src, "exact"))
            continue
        if i > 100 and r < DEDUP_EXACT + DEDUP_NEAR:
            src = int(rng.integers(0, i))
            toks = texts[src].split()
            for _ in range(int(rng.integers(1, 3))):
                toks[rng.integers(0, len(toks))] = str(VOCAB[rng.integers(0, 31)])
            texts.append(" ".join(toks))
            planted.append((i, src, "near"))
            continue
        texts.append(" ".join(VOCAB[rng.integers(0, 31, int(rng.integers(10, 101)))]))
    return texts, planted


def _groups(n, planted):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b, _ in planted:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return [find(i) for i in range(n)]


def gen_dedup_batch(rng, d, s):
    n = s["docs"]
    for i in range(s["inputs"]):
        texts, planted = _dedup_docs(rng, n)
        pq.write_table(pa.table({
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }), f"{d}/docs-{i}.parquet")
        with open(f"{d}/groups-{i}.tsv", "w") as f:
            f.writelines(f"{j}\t{g}\n" for j, g in enumerate(_groups(n, planted)))
        with open(f"{d}/planted-{i}.tsv", "w") as f:
            f.writelines(f"{a}\t{b}\t{k}\n" for a, b, k in planted)
    return dict(inputs=s["inputs"], records=n, min_ops=s["min_ops"],
                warm_ops=s["warm_ops"], max_bucket=MAX_BUCKET, jaccard_num=JACCARD_NUM,
                jaccard_den=JACCARD_DEN)


WORKLOADS = ("coref-stream", "dedup-batch", "coref-batch")


def generate(workload, seed, size, d, seconds):
    """Write the inputs of one run into the empty directory ``d``."""
    os.makedirs(d)
    # one independent stream per workload, so adding a workload never
    # changes another's inputs
    rng = np.random.default_rng([seed, sorted(WORKLOADS).index(workload)])
    s = SIZES[size][workload]
    if workload == "coref-stream":
        props = gen_coref_stream(rng, d, s, seconds)
    elif workload == "dedup-batch":
        props = gen_dedup_batch(rng, d, s)
    else:
        props = gen_coref_batch(rng, d, s)
    props.update(greedy_threshold=GREEDY_THRESHOLD, grinch_threshold=GRINCH_THRESHOLD)
    _write_props(f"{d}/params.properties", props)
    return props
