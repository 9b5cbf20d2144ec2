"""Input generation for the benchmark workloads.

The documents and embeddings tables have the sf0.1 shape (5,000
word-salad documents with planted near-duplicates, 2,000 label-clustered
64-dim embeddings) and, like the sf0.1 test tables, are one fixed table
(`TABLE_SEED`). The workload seed varies everything else the program
receives: the request sequence and the row order of the parquet files it
reads.
"""
import struct

import numpy as np
import pyarrow as pa

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "fr", "es", "de", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
HALF_W = 45  # the x1 layers shape: axis-aligned +-45 degree squares

N_DOCS = 5000       # sf0.1 documents
N_EMB = 2000        # sf0.1 embeddings
SMALL_DIM = 64
TABLE_SEED = 0


def word_salad(rng, n_docs):
    """Documents of 10-100 vocabulary words, ~5% planted near-copies
    (1-2 word substitutions, chains possible) and ~0.16% exact copies."""
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, n_docs)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), n)]) for n in lengths]
    for _ in range(n_docs // 20):
        tgt, src = int(rng.integers(0, n_docs)), int(rng.integers(0, n_docs))
        if src == tgt:
            continue
        w = texts[src].split(" ")
        for _ in range(int(rng.integers(1, 3))):
            w[int(rng.integers(0, len(w)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts[tgt] = " ".join(w)
    for _ in range(max(1, n_docs // 600)):
        tgt, src = int(rng.integers(0, n_docs)), int(rng.integers(0, n_docs))
        if src != tgt:
            texts[tgt] = texts[src]
    return texts


def documents(n_docs=N_DOCS):
    rng = np.random.default_rng([TABLE_SEED, 1])
    texts = word_salad(rng, n_docs)
    return pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def clustered_vectors(rng, n, dim, n_labels=10):
    """L2-normalised float32 vectors around `n_labels` random centres."""
    centers = rng.standard_normal((n_labels, dim), dtype=np.float32)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, n_labels, n)
    vecs = centers[labels] * 2.0 + rng.standard_normal((n, dim), dtype=np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32), labels


def float_lists(vecs):
    """(n, dim) float32 -> parquet list<float> without a Python detour."""
    n, dim = vecs.shape
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(vecs.reshape(-1)))


def embeddings(n=N_EMB, dim=SMALL_DIM):
    rng = np.random.default_rng([TABLE_SEED, 2])
    vecs, labels = clustered_vectors(rng, n, dim)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": float_lists(vecs),
        "label": pa.array(labels, pa.int32())}), vecs


def square_wkb(cx, cy):
    """WKB Polygon (little endian) of the +-HALF_W square around (cx, cy)."""
    ring = [(cx - HALF_W, cy - HALF_W), (cx + HALF_W, cy - HALF_W),
            (cx + HALF_W, cy + HALF_W), (cx - HALF_W, cy + HALF_W),
            (cx - HALF_W, cy - HALF_W)]
    return struct.pack("<BIII", 1, 3, 1, 5) + b"".join(
        struct.pack("<dd", float(x), float(y)) for x, y in ring)


def centers(doc_ids):
    """Square centres of the x1 layers shape, from the row id."""
    ids = np.asarray(doc_ids, dtype=np.int64)
    return ids * 7 % 360 - 180, ids * 3 % 180 - 90


class Corpus:
    """A layers corpus as columns: what the program ingests, and what the
    checker ranks against."""

    def __init__(self, doc_ids, names, types, texts, vecs):
        self.doc_ids = np.asarray(doc_ids, dtype=np.int64)
        self.ids = [str(int(d)) for d in self.doc_ids]
        self.names = list(names)
        self.types = list(types)
        self.texts = list(texts)
        self.vecs = vecs
        self.cx, self.cy = centers(self.doc_ids)

    def __len__(self):
        return len(self.ids)

    def raw_table(self):
        """The raw GeoParquet-shaped layers input (`geometry` as WKB)."""
        return pa.table({
            "id": self.ids,
            "name": self.names,
            "type": self.types,
            "description": self.texts,
            "url": [f"doc://{i}" for i in self.ids],
            "metadata_text": self.texts,
            "embeddings": float_lists(self.vecs),
            "geometry": pa.array([square_wkb(int(x), int(y))
                                  for x, y in zip(self.cx, self.cy)], pa.binary())})


def small_corpus(docs, emb_vecs):
    """documents JOIN embeddings ON doc_id = vec_id (the x1 layers shape)."""
    n = len(emb_vecs)
    return Corpus(docs.column("doc_id").to_numpy()[:n],
                  docs.column("source").to_pylist()[:n],
                  docs.column("lang").to_pylist()[:n],
                  docs.column("text").to_pylist()[:n], emb_vecs)


def shuffled(table, seed):
    """`table` with its rows in a seeded order."""
    return table.take(np.random.default_rng([seed, 5]).permutation(table.num_rows))


def case_variant(rng, s):
    r = rng.integers(0, 3)
    if r == 0:
        return s.upper()
    if r == 1:
        return s[:1].upper() + s[1:]
    return s


def requests(seed, texts, n):
    """`n` seeded request bodies: 2-6 words lifted from a document, half
    with a mixed-case type filter (sometimes carrying an empty string),
    half with a point, skip 0-19, limit 1-10; endpoint split 50/50."""
    rng = np.random.default_rng([seed, 4])
    out = []
    for _ in range(n):
        words = texts[int(rng.integers(0, len(texts)))].split(" ")
        k = int(rng.integers(2, 7))
        start = int(rng.integers(0, max(1, len(words) - k + 1)))
        body = {"request_string": " ".join(words[start:start + k])}
        if rng.random() < 0.5:
            probes = [case_variant(rng, LANGS[int(i)])
                      for i in rng.choice(len(LANGS), int(rng.integers(1, 4)),
                                          replace=False)]
            if rng.random() < 0.3:
                probes.insert(int(rng.integers(0, len(probes) + 1)), "")
            body["type_filter"] = probes
        if rng.random() < 0.5:
            body["input_point"] = {
                "longitude": round(float(rng.uniform(-180, 180)), 3),
                "latitude": round(float(rng.uniform(-90, 90)), 3)}
        body["skip"] = int(rng.integers(0, 20))
        body["limit"] = int(rng.integers(1, 11))
        out.append(("search" if rng.random() < 0.5 else "mcp", body))
    return out

