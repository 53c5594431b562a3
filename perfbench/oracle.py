"""Independent reference computations for the benchmark's checks.

Nothing here imports linkgraph or Spark: every expected value is
recomputed from the raw inputs with DuckDB SQL, NumPy or the standard
library, so a fault in the engine cannot hide in its own check.
"""

from __future__ import annotations

import hashlib
import struct

import duckdb
import numpy as np
import pyarrow as pa

# -- triangles (DuckDB) -----------------------------------------------------

_TRIANGLES_SQL = """
with e as (
    select distinct least(src, dst) as a, greatest(src, dst) as b
    from edges where src <> dst
)
select e1.a, e1.b, e2.b as c
from e e1 join e e2 on e1.b = e2.a
join e e3 on e3.a = e1.a and e3.b = e2.b
"""


def triangle_list(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Every triangle once, as rows (a, b, c) with a < b < c."""
    con = duckdb.connect()
    try:
        con.register("edges", pa.table({"src": src, "dst": dst}))
        tri = con.execute(_TRIANGLES_SQL).fetchnumpy()
    finally:
        con.close()
    return np.stack([tri["a"], tri["b"], tri["c"]], axis=1).astype(np.int64)


def triangle_count(src: np.ndarray, dst: np.ndarray) -> int:
    con = duckdb.connect()
    try:
        con.register("edges", pa.table({"src": src, "dst": dst}))
        return int(con.execute(f"select count(*) from ({_TRIANGLES_SQL})").fetchone()[0])
    finally:
        con.close()


# -- graph indexing -----------------------------------------------------------


def canonical(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(min, max) pairs, self-loops dropped, deduplicated, sorted."""
    a, b = np.minimum(src, dst), np.maximum(src, dst)
    keep = a != b
    pairs = np.unique(np.stack([a[keep], b[keep]], axis=1), axis=0)
    return pairs[:, 0].copy(), pairs[:, 1].copy()


def _index(src: np.ndarray, dst: np.ndarray):
    ids = np.unique(np.concatenate([src, dst]))
    return ids, np.searchsorted(ids, src), np.searchsorted(ids, dst)


# -- PageRank / HITS (NumPy power iteration) ----------------------------------


def pagerank(src, dst, iterations: int, damping: float = 0.85):
    """Undirected PageRank (each edge a link both ways), uniform start.

    Returns (ids, ranks after ``iterations`` supersteps, the max |delta|
    of every superstep)."""
    ids, s, d = _index(src, dst)
    n = len(ids)
    u = np.concatenate([s, d])
    v = np.concatenate([d, s])
    deg = np.bincount(u, minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 / n)
    deltas = []
    for _ in range(iterations):
        new = (1.0 - damping) / n + damping * np.bincount(
            v, weights=rank[u] / deg[u], minlength=n
        )
        deltas.append(float(np.max(np.abs(new - rank))))
        rank = new
    return ids, rank, deltas


def hits(src, dst, iterations: int):
    """Kleinberg HITS on directed links src -> dst, sequential update,
    hub starts at 1. Returns (ids, hub, auth), both L2-normalized."""
    ids, s, d = _index(src, dst)
    n = len(ids)
    hub = np.ones(n)
    auth = np.zeros(n)

    def unit(x):
        norm = np.sqrt(np.sum(x * x))
        return x / norm if norm > 0 else np.zeros_like(x)

    for _ in range(iterations):
        auth = unit(np.bincount(d, weights=hub[s], minlength=n))
        hub = unit(np.bincount(s, weights=auth[d], minlength=n))
    return ids, hub, auth


# -- connected components (union-find) ----------------------------------------


def component_min_labels(src, dst) -> dict[int, int]:
    """vertex id -> minimum vertex id of its component, by union-find
    with path halving; the root of every set is its minimum id."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(src.tolist(), dst.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return {x: find(x) for x in list(parent)}


# -- label propagation (NumPy) -------------------------------------------------


def label_propagation(src, dst, max_iter: int):
    """Synchronous LPA: each vertex takes the most frequent neighbour
    label, ties to the smallest label. Stops when nothing changes, or
    when the state equals the one two rounds back (a period-2 orbit),
    then each vertex keeps the smaller of its two phase labels.

    Returns (ids, labels, iterations run, oscillating)."""
    ids, s, d = _index(src, dst)
    n = len(ids)
    u = np.concatenate([s, d])
    v = np.concatenate([d, s])
    label = ids.copy()
    prev = ids.copy()
    it = 0
    oscillating = False
    for it in range(1, max_iter + 1):
        nbr = label[v]
        order = np.lexsort((nbr, u))
        us, ls = u[order], nbr[order]
        start = np.ones(len(us), dtype=bool)
        start[1:] = (us[1:] != us[:-1]) | (ls[1:] != ls[:-1])
        first = np.flatnonzero(start)
        run_u, run_l = us[first], ls[first]
        run_n = np.diff(np.append(first, len(us)))
        # per vertex: highest count first, then the smallest label
        best = np.lexsort((run_l, -run_n, run_u))
        head = np.ones(len(best), dtype=bool)
        head[1:] = run_u[best][1:] != run_u[best][:-1]
        new = label.copy()
        new[run_u[best][head]] = run_l[best][head]
        changed = int(np.count_nonzero(new != label))
        changed2 = int(np.count_nonzero(new != prev))
        prev, label = label, new
        if changed == 0:
            break
        if changed2 == 0:
            oscillating = True
            label = np.minimum(label, prev)
            break
    return ids, label, it, oscillating


# -- k-truss (support peel) ----------------------------------------------------


class TrussPeel:
    """k-truss by support peeling over a fixed triangle list: an edge
    survives while at least k-2 of its triangles have all three edges
    alive."""

    def __init__(self, src, dst):
        a, b = canonical(src, dst)
        self.a, self.b = a, b
        self.keys = (a << 32) | b
        tri = triangle_list(a, b)
        self.n_triangles = len(tri)
        x, y, z = tri[:, 0], tri[:, 1], tri[:, 2]
        self.tri_edges = np.stack(
            [self._edge_id(x, y), self._edge_id(x, z), self._edge_id(y, z)], axis=1
        )

    def _edge_id(self, a, b):
        return np.searchsorted(self.keys, (a << 32) | b)

    def truss(self, k: int) -> set[tuple[int, int]]:
        m = len(self.keys)
        alive = np.ones(m, dtype=bool)
        tri_alive = np.ones(len(self.tri_edges), dtype=bool)
        while True:
            support = np.bincount(
                self.tri_edges[tri_alive].ravel(), minlength=m
            )
            dead = alive & (support < k - 2)
            if not dead.any():
                break
            alive &= ~dead
            tri_alive &= alive[self.tri_edges].all(axis=1)
        return set(zip(self.a[alive].tolist(), self.b[alive].tolist()))


# -- corpus ingest ---------------------------------------------------------------


def sha256_hex(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    11400714785074694791,
    14029467366897019727,
    1609587929392839161,
    9650029242287828579,
    2870177450012600261,
)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as a signed 64-bit integer (the value Spark's
    ``xxhash64`` column function returns for a string, default seed 42)."""
    n = len(data)
    i = 0
    if n >= 32:
        v = [
            (seed + _P1 + _P2) & _M64,
            (seed + _P2) & _M64,
            seed & _M64,
            (seed - _P1) & _M64,
        ]
        while i + 32 <= n:
            lanes = struct.unpack_from("<4Q", data, i)
            v = [_round(acc, lane) for acc, lane in zip(v, lanes)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for acc in v:
            h ^= _round(0, acc)
            h = (h * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        (lane,) = struct.unpack_from("<Q", data, i)
        h ^= _round(0, lane)
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        (word,) = struct.unpack_from("<I", data, i)
        h ^= (word * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= 1 << 63 else h


def repo_id(repo: str) -> int:
    return abs(xxhash64(repo.encode("utf-8")))


_IMPORT_KEYWORDS = {"python": ("import", "from"), "scala": ("import",), "java": ("import",)}


def imported_modules(content: str, lang: str) -> list[str]:
    """Module names on the import lines of one source file, parsed
    line by line with str.split (no regular expressions)."""
    keywords = _IMPORT_KEYWORDS.get(lang, ("import", "from"))
    out = []
    for line in content.splitlines():
        words = line.split()
        if len(words) < 2 or words[0] not in keywords:
            continue
        name = words[2] if lang == "java" and words[1] == "static" and len(words) > 2 else words[1]
        out.append(name.rstrip(";"))
    return out


def defined_module(repo: str, path: str) -> str:
    """Module a file defines: ``repo<r>.mod<i>`` for src/.../mod<i>.<ext>."""
    stem = path.rsplit("/", 1)[-1].split(".", 1)[0]
    return f"{repo.rsplit('/', 1)[-1]}.{stem}"


def import_edges(repos, paths, langs, contents) -> set[tuple[int, int]]:
    """Canonical repo-repo import edges (ids as the engine's vertex ids)."""
    owner = {defined_module(r, p): r for r, p in zip(repos, paths)}
    ids: dict[str, int] = {}

    def rid(r: str) -> int:
        if r not in ids:
            ids[r] = repo_id(r)
        return ids[r]

    edges = set()
    for repo, lang, content in zip(repos, langs, contents):
        for mod in imported_modules(content, lang):
            dst = owner.get(mod)
            if dst is None or dst == repo:
                continue
            a, b = rid(repo), rid(dst)
            edges.add((min(a, b), max(a, b)))
    return edges
