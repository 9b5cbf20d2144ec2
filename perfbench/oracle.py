"""Output checks, computed independently of the program.

Search pages are compared with a brute-force ranking over the generated
corpus: the request string embedded with the same feature-hashing
encoder, the type probes lowered with empty strings dropped, the point
tested against each axis-aligned square with interval arithmetic (as the
x1 oracle states it), cosine distance, (dist, id) order, offset paging.
The dedup outputs are compared with the repo's DuckDB oracle SQL, and
the clusters with a union-find over the oracle's d2 pairs.
"""
import json
import math

import numpy as np

from gen import HALF_W

FNV_OFFSET = 0xCBF29CE484222325
FNV_PRIME = 0x100000001B3
MASK = (1 << 64) - 1
TIE_EPS = 1e-6  # distances closer than this may come back in either order


def fnv1a64(data):
    h = FNV_OFFSET
    for b in data:
        h = ((h ^ b) * FNV_PRIME) & MASK
    return h


def splitmix(z):
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & MASK
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & MASK
    return z ^ (z >> 31)


def embed(text, dim):
    """Signed feature hashing of whitespace tokens, L2-normalised."""
    v = np.zeros(dim, dtype=np.float32)
    for tok in text.split():
        u = splitmix(fnv1a64(tok.encode("utf-8")))
        v[(u >> 1) % dim] += 1.0 if u & 1 == 0 else -1.0
    norm = math.sqrt(float(np.dot(v.astype(np.float64), v.astype(np.float64))))
    if norm > 0:
        v = (v.astype(np.float64) / norm).astype(np.float32)
    return v


class Ranker:
    def __init__(self, corpus):
        self.corpus = corpus
        vecs = corpus.vecs.astype(np.float64)
        self.vecs = vecs
        self.norms = np.linalg.norm(vecs, axis=1)
        self.types = np.array([t.lower() for t in corpus.types])
        self.id_pos = {i: k for k, i in enumerate(corpus.ids)}

    def distances(self, body):
        probe = embed(body["request_string"], self.vecs.shape[1]).astype(np.float64)
        return 1.0 - (self.vecs @ probe) / (self.norms * np.linalg.norm(probe))

    def candidates(self, body):
        keep = np.ones(len(self.corpus), dtype=bool)
        probes = [p.lower() for p in body.get("type_filter") or [] if p != ""]
        if probes:
            keep &= np.isin(self.types, probes)
        point = body.get("input_point")
        if point is not None:
            keep &= np.abs(point["longitude"] - self.corpus.cx) <= HALF_W
            keep &= np.abs(point["latitude"] - self.corpus.cy) <= HALF_W
        return keep

    def expected(self, body):
        """(ids of the page, distance of every candidate by id)."""
        dist = self.distances(body)
        idx = np.flatnonzero(self.candidates(body))
        order = sorted(idx, key=lambda k: (dist[k], self.corpus.ids[k]))
        skip, limit = body.get("skip", 0), body.get("limit", 5)
        page = [self.corpus.ids[k] for k in order[skip:skip + limit]]
        return page, {self.corpus.ids[k]: dist[k] for k in idx}

    def row(self, doc_id):
        k = self.id_pos[doc_id]
        c = self.corpus
        return {"id": doc_id, "name": c.names[k], "type": c.types[k],
                "description": c.texts[k], "url": f"doc://{doc_id}",
                "metadata_text": c.texts[k]}

    def check_page(self, body, layers):
        """None when `layers` (the response rows) is the right page, else
        the reason it is not. Near-ties may swap places."""
        page, dist = self.expected(body)
        got = [row.get("id") for row in layers]
        if got != page:
            if len(got) != len(page) or len(set(got)) != len(got):
                return f"page {got} != expected {page}"
            for g, e in zip(got, page):
                if g not in dist or abs(dist[g] - dist[e]) > TIE_EPS:
                    return f"page {got} != expected {page}"
        for row in layers:
            want = self.row(row["id"])
            if row != want:
                return f"row {row['id']} fields differ: {row} != {want}"
        return None


def check_reply(ranker, endpoint, body, status, reply):
    """None when the HTTP reply carries the right page, else the reason."""
    if status != 200 or reply is None:
        return f"HTTP {status}"
    if endpoint == "mcp":
        result = reply.get("result") or {}
        if reply.get("error") or result.get("isError"):
            return f"MCP error: {reply.get('error') or result.get('content')}"
        envelope = result.get("structuredContent") or {}
        text = (result.get("content") or [{}])[0].get("text")
        if text is None or json.loads(text) != envelope:
            return "MCP text content differs from structuredContent"
    else:
        envelope = reply
    if envelope.get("error") is not None or envelope.get("layers") is None:
        return f"engine error: {envelope.get('error')}"
    return ranker.check_page(body, envelope["layers"])


def same_rows(got, want, tol=1e-9):
    """Row multisets equal, floats within `tol`."""
    def key(row):
        return tuple(round(v, 6) if isinstance(v, float) else v for v in row)
    if len(got) != len(want):
        return False
    for a, b in zip(sorted(got, key=key), sorted(want, key=key)):
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if not math.isclose(float(x), float(y), rel_tol=tol, abs_tol=tol):
                    return False
            elif x != y:
                return False
    return True


def duckdb_oracle(sql_by_op, data_dir):
    """Run each oracle statement over the generated tables, one DuckDB
    connection per statement, in parallel: {op: (columns, rows)}."""
    import duckdb
    from concurrent.futures import ThreadPoolExecutor

    def run(item):
        op, sql = item
        con = duckdb.connect()
        try:
            con.execute("SET threads = 2")
            for table in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                            f"read_parquet('{data_dir}/{table}.parquet')")
            cur = con.execute(sql)
            return op, ([d[0] for d in cur.description], [tuple(r) for r in cur.fetchall()])
        finally:
            con.close()

    with ThreadPoolExecutor(len(sql_by_op)) as pool:
        return dict(pool.map(run, sorted(sql_by_op.items())))


def keepers(pairs):
    """Connected components of the near-dup pair graph, each member mapped
    to its component's smallest id: [(doc_id, keeper)] for every paired id."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(x, find(x)) for x in sorted(parent)]


def check_pass(results, oracle):
    """Reasons a pass's operator results differ from the oracle's."""
    bad = []
    for op, (cols, rows) in oracle.items():
        got = results.get(op)
        if got is None:
            bad.append(f"{op}: missing")
            continue
        pos = [got["columns"].index(c) for c in cols] if set(cols) <= set(got["columns"]) else None
        if pos is None:
            bad.append(f"{op}: columns {got['columns']} != {cols}")
            continue
        mine = [tuple(r[p] for p in pos) for r in got["rows"]]
        if not same_rows(mine, rows):
            bad.append(f"{op}: {len(mine)} rows differ from the oracle's {len(rows)}")
    return bad
