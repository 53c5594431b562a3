"""Seeded benchmark inputs, written as parquet tables.

The co-purchase graphs are derived here, with DuckDB, from a synthetic
TPC-H-shaped ``lineitem`` table drawn with NumPy: per scale factor sf,
6,000,000·sf line items over 1,500,000·sf orders and 200,000·sf parts,
order and part keys uniform, quantity uniform in 1..50. That matches
the row, order, part and quantity distributions of the sf0.1 test data
(600,000 rows, 147,236 orders, 20,000 parts), and the derived graphs
match it in size (1,196,611 dense edges and 1,885,894 triangles at
sf0.1 against 1,196,000 and 1,884,488).

The line items come from one fixed stream (``BASE_SEED``), so every
run works on the same graph; the run's seed relabels its vertices with
distinct random ids in [0, 2^31). The work an operator does (triangles,
supersteps, peel rounds) is then the same for every seed, while hash
partitioning, degree-order tie-breaks and the label tie-breaks of LPA
move with it.

The corpus is the engine's own ``synthetic_corpus`` generator (the
stand-in for the corpus table), written to parquet with the run's seed.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 2

# The engine's co-purchase derivation as plain SQL: parts bought in one
# order are linked, canonical src < dst, deduplicated.
_COPURCHASE_SQL = """
copy (
    with ps as (
        select distinct l_orderkey as ok, l_partkey as pk
        from read_parquet('{lineitem}') where l_quantity >= {min_quantity}
    )
    select distinct a.pk as src, b.pk as dst
    from ps a join ps b on a.ok = b.ok and a.pk < b.pk
    order by src, dst
) to '{out}' (format parquet)
"""


def write_lineitem(path: str, sf: float, seed: int) -> None:
    rng = np.random.default_rng(seed)
    n = int(6_000_000 * sf)
    table = pa.table(
        {
            "l_orderkey": rng.integers(0, int(1_500_000 * sf), n, dtype=np.int64),
            "l_partkey": rng.integers(0, int(200_000 * sf), n, dtype=np.int64),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        }
    )
    pq.write_table(table, path)


def copurchase_edges(data_dir: str, sf: float, seeds: list[int], min_quantity: int = 0) -> list[str]:
    """Write the co-purchase edge table once per seed, vertices relabeled
    by that seed; returns the paths. ``min_quantity=48`` gives the
    engine's sparse variant."""
    lineitem = os.path.join(data_dir, "lineitem.parquet")
    derived = os.path.join(data_dir, "derived.parquet")
    write_lineitem(lineitem, sf, BASE_SEED)
    con = duckdb.connect()
    try:
        con.execute(
            _COPURCHASE_SQL.format(lineitem=lineitem, min_quantity=min_quantity, out=derived)
        )
    finally:
        con.close()
    src, dst = read_edges(derived)
    ids, inverse = np.unique(np.concatenate([src, dst]), return_inverse=True)
    paths = []
    for seed in seeds:
        label = np.random.default_rng(seed).choice(1 << 31, size=len(ids), replace=False)
        a, b = label[inverse[: len(src)]], label[inverse[len(src):]]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        order = np.lexsort((hi, lo))
        out = os.path.join(data_dir, f"edges-{seed}.parquet")
        pq.write_table(pa.table({"src": lo[order], "dst": hi[order]}), out)
        paths.append(out)
    return paths


def read_edges(path: str) -> tuple[np.ndarray, np.ndarray]:
    t = pq.read_table(path, columns=["src", "dst"])
    return (
        t.column("src").to_numpy().astype(np.int64),
        t.column("dst").to_numpy().astype(np.int64),
    )


def corpus(spark, data_dir: str, n_files: int, n_repos: int, seed: int) -> str:
    """Write the seeded synthetic corpus to parquet; returns its path."""
    from linkgraph.ingest.corpus import synthetic_corpus

    out = os.path.join(data_dir, f"corpus-{seed}.parquet")
    synthetic_corpus(spark, n_files=n_files, n_repos=n_repos, seed=seed).write.parquet(out)
    return out


def read_corpus(path: str):
    """The corpus table as pandas, read with pyarrow."""
    return pq.read_table(path, columns=["repo", "path", "lang", "content"]).to_pandas()
