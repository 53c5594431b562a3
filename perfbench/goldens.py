"""Check the benchmark's independent computations (``oracle``) against
the reference goldens, with no Spark and no linkgraph import:

    python3 perfbench/goldens.py

trussMini: 22 triangles, the 18-edge 4-truss, max-k 4.
smallTwitter: 5 triangles, one component labelled 1, max-k 4.
Also pins the PageRank, HITS and LPA oracles to hand-checkable cases
and the XXH64 port to published test vectors. Exits 1 on a mismatch.
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import oracle  # noqa: E402

TRUSS_MINI = [
    (1, 4), (1, 3), (1, 2), (2, 3), (4, 2), (3, 4), (5, 4), (4, 6), (5, 6),
    (6, 7), (9, 6), (10, 6), (7, 8), (7, 9), (7, 10), (8, 9), (8, 10),
    (10, 9), (1, 7), (1, 8), (2, 9), (3, 6), (3, 10), (4, 7), (4, 9),
    (5, 8), (5, 10),
]
TRUSS_MINI_4 = {
    (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 6), (4, 7), (4, 9), (6, 7),
    (6, 9), (6, 10), (7, 8), (7, 9), (7, 10), (8, 9), (8, 10), (9, 10),
}
SMALL_TWITTER = [
    (1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (4, 6), (4, 7), (5, 6), (5, 7), (6, 7),
]


def arrays(pairs):
    return oracle.canonical(
        np.array([a for a, _ in pairs], dtype=np.int64),
        np.array([b for _, b in pairs], dtype=np.int64),
    )


def max_k(peel: oracle.TrussPeel) -> int:
    k = 2
    while peel.truss(k + 1):
        k += 1
    return k


def main() -> int:
    failures = []

    def expect(name, got, want):
        if got != want:
            failures.append(f"{name}: got {got!r}, want {want!r}")

    src, dst = arrays(TRUSS_MINI)
    peel = oracle.TrussPeel(src, dst)
    expect("trussMini edges", len(src), 27)
    expect("trussMini triangles", oracle.triangle_count(src, dst), 22)
    expect("trussMini 3-truss", len(peel.truss(3)), 27)
    expect("trussMini 4-truss", peel.truss(4), TRUSS_MINI_4)
    expect("trussMini max-k", max_k(peel), 4)

    src, dst = arrays(SMALL_TWITTER)
    peel = oracle.TrussPeel(src, dst)
    expect("smallTwitter triangles", peel.n_triangles, 5)
    expect("smallTwitter 3-truss", len(peel.truss(3)), 9)
    expect("smallTwitter 4-truss", peel.truss(4), {(4, 5), (4, 6), (4, 7), (5, 6), (5, 7), (6, 7)})
    expect("smallTwitter max-k", max_k(peel), 4)
    expect("smallTwitter components", set(oracle.component_min_labels(src, dst).values()), {1})

    ids, ranks, deltas = oracle.pagerank(src, dst, 100)
    expect("pagerank sums to 1", abs(ranks.sum() - 1.0) < 1e-12, True)
    expect("pagerank converged", deltas[-1] < 1e-12, True)
    # vertex 4 (degree 4) outranks every other vertex of smallTwitter
    expect("pagerank top vertex", int(ids[np.argmax(ranks)]), 4)

    # A directed star 0 -> {1, 2, 3}: 0 is the only hub, 1..3 equal authorities.
    ids, hub, auth = oracle.hits(np.array([0, 0, 0]), np.array([1, 2, 3]), 3)
    expect("hits hub", np.allclose(hub, [1, 0, 0, 0]), True)
    expect("hits auth", np.allclose(auth, [0, 3 ** -0.5, 3 ** -0.5, 3 ** -0.5]), True)

    # A path 1-2: both vertices swap labels each round, a period-2 orbit
    # that ends with both on the smaller label.
    ids, labels, it, osc = oracle.label_propagation(np.array([1]), np.array([2]), 10)
    expect("lpa period-2", (labels.tolist(), it, osc), ([1, 1], 2, True))
    # Two triangles joined by one edge settle on one label each.
    src, dst = arrays([(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (4, 6), (5, 6)])
    ids, labels, it, osc = oracle.label_propagation(src, dst, 20)
    expect("lpa two triangles", (labels.tolist(), it, osc), ([1, 1, 1, 3, 3, 3], 4, False))

    # XXH64 reference vectors (seed 0), and Spark's xxhash64('') (seed 42).
    expect("xxh64 empty", oracle.xxhash64(b"", seed=0) & (2**64 - 1), 0xEF46DB3751D8E999)
    expect("xxh64 'a'", oracle.xxhash64(b"a", seed=0) & (2**64 - 1), 0xD24EC4F1A98C6E5B)
    expect("xxh64 'abc'", oracle.xxhash64(b"abc", seed=0) & (2**64 - 1), 0x44BC2CF5AD770999)
    expect("spark xxhash64('')", oracle.xxhash64(b""), -7444071767201028348)

    for f in failures:
        print("FAIL", f)
    print(f"goldens: {'ok' if not failures else f'{len(failures)} failed'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
