"""The two benchmark workloads: seeded inputs, one round of timed
operator calls, and the checks of a round's outputs against the
independent computations in ``oracle``.

A round calls each public operator once through ``Runner.call``, which
times the call including the action that brings its result to the
driver. Operators whose input failed to build count as failed.

Set-up ends with one untimed warm-up round on another input of the same
shape (the same graph relabeled, or a corpus of another seed). A cold
round is mostly the JVM compiling Spark's own code paths and takes
about twice as long as the next ones on both workloads (README.md). The
timed rounds then measure the engine, not the JIT. A different input
keeps the first timed call's data-dependent work (the edge-set staging
of ``mmapshare.stage_array``, content-addressed per context) in the
timed rounds.
"""

from __future__ import annotations

import os

import numpy as np
from linkgraph.checkpoint import Checkpointer
from linkgraph.graph.components import connected_components
from linkgraph.graph.hits import hits
from linkgraph.graph.labelprop import label_propagation
from linkgraph.graph.pagerank import pagerank
from linkgraph.graph.triangles import triangle_count
from linkgraph.graph.truss import max_truss
from linkgraph.ingest.derive import content_sha, import_edges

import inputs
import oracle

PR_DAMPING = 0.85
RANK_ATOL = 1e-9
WARM_SEED_OFFSET = 1_000_000  # the warm-up input's seed is seed + this


def _as_dict(pdf, key, value):
    return dict(zip(pdf[key].tolist(), pdf[value].tolist()))


# -- per-operator calls (each returns what the checks need) ------------------


def call_pagerank(r, edges, **kwargs):
    def run():
        res = pagerank(edges, **kwargs)
        return res.iterations, res.delta, res.ranks.toPandas()

    return r.call("pagerank", run)


def call_cc(r, edges):
    return r.call("cc", lambda: connected_components(edges).toPandas())


def call_lpa(r, edges, **kwargs):
    def run():
        res = label_propagation(edges, **kwargs)
        return res.iterations, res.oscillating, res.labels.toPandas()

    return r.call("lpa", run)


def call_hits(r, edges, **kwargs):
    def run():
        res = hits(edges, **kwargs)
        return res.iterations, res.scores.toPandas()

    return r.call("hits", run)


def call_triangles(r, edges):
    return r.call("triangle_count", lambda: triangle_count(edges))


def call_max_truss(r, edges, **kwargs):
    def run():
        res = max_truss(edges, **kwargs)
        return res.k, res.probes, res.edges.toPandas()

    return r.call("max_truss", run)


# -- checks --------------------------------------------------------------------


def check_pagerank(out, src, dst, tol=0.0, max_iter=None):
    """Ranks against NumPy after the same supersteps; with ``tol`` > 0,
    also the stopping rule: the first superstep whose max |delta| < tol,
    or ``max_iter``."""
    iterations, delta, pdf = out
    ids, ranks, deltas = oracle.pagerank(src, dst, iterations, PR_DAMPING)
    got = _as_dict(pdf, "id", "rank")
    if set(got) != set(ids.tolist()):
        return ["pagerank: vertex set differs from the edge table's"]
    errs = []
    diff = np.max(np.abs(np.array([got[i] for i in ids.tolist()]) - ranks))
    if diff > RANK_ATOL:
        errs.append(f"pagerank: max |rank - numpy| = {diff:.3g} after {iterations} supersteps")
    if abs(pdf["rank"].sum() - 1.0) > 1e-9:
        errs.append(f"pagerank: ranks sum to {pdf['rank'].sum()!r}")
    if tol > 0:
        stop = next((i + 1 for i, d in enumerate(deltas) if d < tol), max_iter)
        if stop != iterations or abs(delta - deltas[-1]) > RANK_ATOL:
            errs.append(f"pagerank: stopped at {iterations} (delta {delta}), numpy rule at {stop}")
    return errs


def check_cc(out, src, dst):
    expected = oracle.component_min_labels(src, dst)
    got = _as_dict(out, "id", "label")
    if len(got) != len(out) or got != expected:
        bad = sum(1 for v, lab in expected.items() if got.get(v) != lab)
        return [f"cc: {bad} of {len(expected)} labels differ from union-find (rows {len(out)})"]
    return []


def check_lpa(out, src, dst, max_iter):
    iterations, oscillating, pdf = out
    ids, labels, it, osc = oracle.label_propagation(src, dst, max_iter)
    errs = []
    if (iterations, oscillating) != (it, osc):
        errs.append(f"lpa: stopped at {(iterations, oscillating)}, numpy at {(it, osc)}")
    got = _as_dict(pdf, "id", "label")
    if got != dict(zip(ids.tolist(), labels.tolist())):
        errs.append("lpa: labels differ from numpy")
    return errs


def check_hits(out, src, dst):
    iterations, pdf = out
    ids, hub, auth = oracle.hits(src, dst, iterations)
    idx = {v: i for i, v in enumerate(ids.tolist())}
    if len(pdf) != len(ids) or set(pdf["id"].tolist()) != set(idx):
        return ["hits: vertex set differs from the edge table's"]
    order = np.array([idx[v] for v in pdf["id"].tolist()])
    errs = []
    for name, ref in (("hub", hub), ("auth", auth)):
        got = pdf[name].to_numpy()
        diff = np.max(np.abs(got - ref[order]))
        if diff > RANK_ATOL:
            errs.append(f"hits: max |{name} - numpy| = {diff:.3g}")
        if abs(np.sqrt(np.sum(got * got)) - 1.0) > 1e-9:
            errs.append(f"hits: {name} vector is not unit-norm")
    return errs


def check_triangles(count, expected):
    return [] if count == expected else [f"triangle_count: {count}, duckdb {expected}"]


def check_truss(out, peel):
    k, _probes, pdf = out
    got = set(zip(pdf["src"].tolist(), pdf["dst"].tolist()))
    errs = []
    if got != peel.truss(k):
        errs.append(f"max_truss: the {k}-truss edge set differs from the peel's")
    if not got or peel.truss(k + 1):
        errs.append(f"max_truss: k={k} is not the largest k with a non-empty truss")
    return errs


# -- workloads -------------------------------------------------------------------


class Workload:
    name = ""  # why each workload exists: BENCHMARK.json and README.md
    ops: tuple[str, ...] = ()
    n_edges = 0  # edges and vertices of the graph the operators run on
    n_vertices = 0
    triangles = None

    def prepare(self, spark, data_dir: str, seed: int) -> None:
        raise NotImplementedError

    def warm_up(self, r) -> None:
        """The untimed warm-up round at the end of set-up, through ``r``."""
        raise NotImplementedError

    def round(self, r, index: int) -> dict:
        raise NotImplementedError

    def check(self, outputs: dict) -> list[str]:
        raise NotImplementedError


class SmallIterative(Workload):
    """The iterative operators and the max-truss search on a graph of a
    few thousand edges, where per-superstep and per-job driver and
    scheduling cost is nearly all the time."""

    name = "small_iterative"
    ops = ("pagerank", "cc", "lpa", "hits", "max_truss")
    SF = 0.1
    MIN_QUANTITY = 48
    LPA_MAX_ITER = 3
    HITS_ITER = 2
    PR_TOL = 1e-6
    PR_MAX_ITER = 3

    def prepare(self, spark, data_dir, seed):
        path, warm = inputs.copurchase_edges(
            data_dir, self.SF, [seed, seed + WARM_SEED_OFFSET], self.MIN_QUANTITY)
        self.src, self.dst = inputs.read_edges(path)
        self.n_edges = len(self.src)
        self.n_vertices = len(np.unique(np.concatenate([self.src, self.dst])))
        self.edges = spark.read.parquet(path)
        self.warm_edges = spark.read.parquet(warm)

    def warm_up(self, r):
        self._round(r, self.warm_edges)

    def round(self, r, index):
        return self._round(r, self.edges)

    def _round(self, r, edges):
        return {
            "pagerank": call_pagerank(r, edges, tol=self.PR_TOL, max_iter=self.PR_MAX_ITER),
            "cc": call_cc(r, edges),
            "lpa": call_lpa(r, edges, max_iter=self.LPA_MAX_ITER),
            "hits": call_hits(r, edges, max_iter=self.HITS_ITER),
            "max_truss": call_max_truss(r, edges),
        }

    def check(self, out):
        peel = oracle.TrussPeel(self.src, self.dst)
        self.triangles = peel.n_triangles
        return (
            check_pagerank(out["pagerank"], self.src, self.dst, self.PR_TOL, self.PR_MAX_ITER)
            + check_cc(out["cc"], self.src, self.dst)
            + check_lpa(out["lpa"], self.src, self.dst, self.LPA_MAX_ITER)
            + check_hits(out["hits"], self.src, self.dst)
            + check_truss(out["max_truss"], peel)
        )


class CorpusPipeline(Workload):
    """Corpus table -> import edges -> the graph operators on the
    hub-skewed repo graph, PageRank checkpointing to parquet."""

    name = "corpus_pipeline"
    ops = ("ingest", "pagerank", "cc", "lpa", "triangle_count")
    N_FILES = 30_000
    N_REPOS = 3_000
    PR_STEPS = 2
    LPA_ITERS = 2

    def prepare(self, spark, data_dir, seed):
        self.spark = spark
        self.corpus_path = inputs.corpus(spark, data_dir, self.N_FILES, self.N_REPOS, seed)
        self.corpus = spark.read.parquet(self.corpus_path)
        self.warm_corpus = spark.read.parquet(
            inputs.corpus(spark, data_dir, self.N_FILES, self.N_REPOS, seed + WARM_SEED_OFFSET))
        # only the timed rounds' checkpoints: the traced run counts them
        self.ckpt_root = os.path.join(data_dir, "checkpoints")
        self.warm_ckpt_root = os.path.join(data_dir, "warm-up-checkpoints")

    def warm_up(self, r):
        self._round(r, self.warm_corpus, os.path.join(self.warm_ckpt_root, "round0"))

    def round(self, r, index):
        out = self._round(r, self.corpus, os.path.join(self.ckpt_root, f"round{index}"))
        self.n_edges = out.pop("n_edges")
        return out

    def _round(self, r, corpus, ckpt_dir):
        def ingest():
            sha = content_sha(corpus).localCheckpoint(eager=True)
            edges = import_edges(sha).localCheckpoint(eager=True)
            return sha, edges, edges.count()

        sha, edges, n_edges = r.call("ingest", ingest)
        ckpt = Checkpointer(self.spark, dir=ckpt_dir, job="pagerank")
        return {
            "n_edges": n_edges,
            "ingest": (sha, edges),
            "pagerank": call_pagerank(r, edges, max_iter=self.PR_STEPS, tol=0.0, checkpointer=ckpt),
            "cc": call_cc(r, edges),
            "lpa": call_lpa(r, edges, max_iter=self.LPA_ITERS),
            "triangle_count": call_triangles(r, edges),
        }

    def check(self, out):
        sha, edges = out["ingest"]
        # the corpus text as written in set-up, read without Spark
        corpus = inputs.read_corpus(self.corpus_path)
        text = dict(zip(zip(corpus["repo"], corpus["path"]), corpus["content"]))
        rows = sha.select("repo", "path", "content", "content_sha").toPandas()
        errs = []
        bad = sum(
            text.get((r, p)) != c or oracle.sha256_hex(c) != h
            for r, p, c, h in zip(rows["repo"], rows["path"], rows["content"], rows["content_sha"])
        )
        if bad or len(rows) != len(text):
            errs.append(f"content_sha: {bad} of {len(rows)} rows differ from the corpus text or hashlib")
        expected = oracle.import_edges(
            corpus["repo"].tolist(), corpus["path"].tolist(), corpus["lang"].tolist(), corpus["content"].tolist()
        )
        pdf = edges.toPandas()
        src, dst = pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64)
        if set(zip(src.tolist(), dst.tolist())) != expected or len(pdf) != len(expected):
            errs.append(f"import_edges: {len(pdf)} edges, separate parse {len(expected)}")
        self.triangles = oracle.triangle_count(src, dst)
        self.n_vertices = len(np.unique(np.concatenate([src, dst])))
        return (
            errs
            + check_pagerank(out["pagerank"], src, dst)
            + check_cc(out["cc"], src, dst)
            + check_lpa(out["lpa"], src, dst, self.LPA_ITERS)
            + check_triangles(out["triangle_count"], self.triangles)
        )


WORKLOADS = {w.name: w for w in (CorpusPipeline, SmallIterative)}
