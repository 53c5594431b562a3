"""linkgraph benchmark: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Set-up starts a session on
``local[<nproc>]`` (every other setting at the engine's default) and
writes the seeded inputs, then runs the workload's untimed warm-up
round; then whole rounds of the workload's timed operator calls run
until ``--seconds`` have passed, three at least; ``wall_s`` is the
fastest round. The first round's outputs are checked against
independent computations (``oracle``). The last line of stdout is one
JSON object: correct, attempted, failed and the metrics. ``--trace 0``
gives the end-to-end metrics; ``--trace 1`` first runs the same
invocation untraced for one timed round in a child process, then runs
traced (job group per call, Spark event log, wrappers) and gives the
per-layer metrics.

Every run works in its own directory under perfbench/out/ (temp files,
spark.local.dir, checkpoints, inputs, event log), removed at the end;
the full record of each run is kept in perfbench/out/results/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
sys.path.insert(0, HERE)

from procs import RssSampler, jit_cpu_s, jit_threads, process_age_s, reap_descendants, tree_cpu_s  # noqa: E402

MIB = 1024.0 * 1024.0
OPS = ("ingest", "triangle_count", "pagerank", "cc", "lpa", "hits", "max_truss")
# Rounds keep getting faster for several rounds after the warm-up while
# the JVM goes on compiling (e.g. 10.8, 10.3, 8.3 s). wall_s is the
# fastest of at least three, the round closest to the steady state.
MIN_ROUNDS = 3


class Runner:
    """Times each operator call; in a traced run, tags it with a job group."""

    def __init__(self, spark, traced: bool, wrappers=None):
        self.sc = spark.sparkContext
        self.traced = traced
        self.wrappers = wrappers
        self.calls: list[tuple[str, str, float, float]] = []  # op, group, start, end
        self.attempted = 0
        self.failed = 0

    def call(self, op: str, fn):
        group = f"perfbench:{op}:{len(self.calls)}"
        if self.traced:
            self.sc.setJobGroup(group, op)
            self.wrappers.op = op
        self.attempted += 1
        t0 = time.time()
        try:
            out = fn()
        except Exception:
            self.failed += 1
            raise
        finally:
            t1 = time.time()
            if self.traced:
                self.sc.setLocalProperty("spark.jobGroup.id", "perfbench:check")
                self.wrappers.op = None
        self.calls.append((op, group, t0, t1))
        return out

    def op_seconds(self, op: str) -> list[float]:
        return [t1 - t0 for o, _, t0, t1 in self.calls if o == op]


class Untimed:
    """Stands in for ``Runner`` in set-up's warm-up calls: times nothing."""

    def call(self, op: str, fn):
        return fn()


def session_conf(run_dir: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if traced:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def isolate(run_dir: str) -> None:
    """Point every temp and scratch location of this process, the JVM
    and the Python workers into ``run_dir``."""
    for sub in ("tmp", "local", "data", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # every JVM, the spark-submit launcher too: no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData"
    tempfile.tempdir = None  # re-read TMPDIR
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)


def untraced_wall(args) -> float:
    """Wall time of the first timed round of the same invocation, run
    untraced in a child process that stops after that round."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", "0", "--trace", "0", "--min-rounds", "1"]
    done = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
    return json.loads(done.stdout.strip().splitlines()[-1])["metrics"]["wall_s"]["value"]


def checkpoint_bytes_on_disk(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(".parquet"))
    return total


def manifests_on_disk(root: str) -> int:
    return sum("manifest.json" in files for _, _, files in os.walk(root))


class Measurement:
    """What one run measured: set-up time, the timed calls, the rounds'
    outputs, resource peaks and the check results."""

    def __init__(self, args, workload, run_dir: str, setup_offset_s: float = 0.0):
        from linkgraph.session import build_session

        self.errors: list[str] = []
        self.rounds: list[dict] = []
        self.walls: list[float] = []
        self.tracked: dict[str, int] = {}
        self.wrappers = None
        traced = bool(args.trace)
        nproc = len(os.sched_getaffinity(0))
        spark = None
        try:
            spark = build_session(
                "perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc,
                extra_conf=session_conf(run_dir, traced),
            )
            workload.prepare(spark, os.path.join(run_dir, "data"), args.seed)
            t_warm = time.monotonic()
            try:
                workload.warm_up(Untimed())
            except Exception:
                # the timed round makes the same calls and counts the failure
                traceback.print_exc()
            self.warmup_s = time.monotonic() - t_warm
            self.setup_s = process_age_s() - setup_offset_s
            if traced:
                from tracing import Wrappers

                self.wrappers = Wrappers()
            self.runner = Runner(spark, traced, self.wrappers)
            # memory peaks of the timed rounds only: not of set-up's input
            # generation, nor of the checks below
            with RssSampler() as self.rss:
                self._measure(workload, args.seconds, args.min_rounds)
            t_check = time.monotonic()
            if self.rounds:
                self.errors += workload.check(self.rounds[0])
            self.check_s = time.monotonic() - t_check
            if traced:
                tracker = spark.sparkContext.statusTracker()
                self.tracked = {g: len(tracker.getJobIdsForGroup(g)) for _, g, _, _ in self.runner.calls}
        finally:
            if self.wrappers is not None:
                self.wrappers.uninstall()
            if spark is not None:
                stop_spark(spark)
            reap_descendants()

    def _measure(self, workload, seconds: float, min_rounds: int) -> None:
        """Whole rounds until ``seconds`` have passed and at least
        ``min_rounds`` have run."""
        runner = self.runner
        t_measure = time.monotonic()
        cpu0, jit0 = tree_cpu_s(), jit_threads()
        while True:
            n_calls, n_attempted = len(runner.calls), runner.attempted
            try:
                self.rounds.append(workload.round(runner, len(self.rounds)))
            except Exception:
                traceback.print_exc()
                # the rest of the round could not be attempted
                missed = len(workload.ops) - (runner.attempted - n_attempted)
                runner.attempted += missed
                runner.failed += missed
                break
            self.walls.append(sum(t1 - t0 for _, _, t0, t1 in runner.calls[n_calls:]))
            if time.monotonic() - t_measure >= seconds and len(self.walls) >= min_rounds:
                break
        self.cpu_s = (tree_cpu_s() - cpu0) / max(1, len(self.walls))
        self.jit_cpu_s = jit_cpu_s(jit0) / max(1, len(self.walls))


def run(args, report) -> dict:
    from workloads import WORKLOADS

    workload = WORKLOADS[args.workload]()
    traced = bool(args.trace)
    t0 = time.monotonic()
    overhead_wall = untraced_wall(args) if traced else None
    child_s = time.monotonic() - t0
    run_dir = os.path.join(OUT, f"run-{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    if os.path.exists(run_dir):
        shutil.rmtree(run_dir)
    isolate(run_dir)
    try:
        m = Measurement(args, workload, run_dir, setup_offset_s=child_s)
        runner, errors = m.runner, m.errors
        per_op = {op: runner.op_seconds(op) for op in OPS if runner.op_seconds(op)}
        med = {op: statistics.median(v) for op, v in per_op.items()}
        solver = solver_counts(m.rounds[0] if m.rounds else {})
        e2e = {
            "setup_s": (m.setup_s, "s"),
            "wall_s": (min(m.walls) if m.walls else 0.0, "s"),
            "peak_python_rss_mib": (m.rss.peak_python_bytes / MIB, "MiB"),
        }
        # Operator times, throughputs and full memory peaks (0 where the
        # workload does not run the operator): per-layer metrics.
        op_metrics = {f"{op}.wall_s": (med.get(op, 0.0), "s") for op in OPS}
        op_metrics["cpu_s"] = (m.cpu_s, "s")
        op_metrics["jit_cpu_s"] = (m.jit_cpu_s, "s")
        op_metrics["peak_rss_mib"] = (m.rss.peak_bytes / MIB, "MiB")
        op_metrics["peak_jvm_rss_mib"] = (m.rss.peak_jvm_bytes / MIB, "MiB")
        op_metrics["triangle_edges_per_s"] = (
            workload.n_edges / med["triangle_count"] if "triangle_count" in med else 0.0, "edges/s")
        op_metrics["pagerank_edges_per_s_per_superstep"] = (
            workload.n_edges * solver["pagerank.supersteps"] / med["pagerank"] if "pagerank" in med else 0.0,
            "edges/s")
        if traced:
            metrics = {**op_metrics, **layer_report(run_dir, m, solver)}
            metrics["trace.overhead_s"] = ((m.walls[0] if m.walls else 0.0) - overhead_wall, "s")
        else:
            metrics = e2e
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for name, (value, unit) in {**e2e, **op_metrics}.items():
        if value:
            print(f"{name:>36s} {value:14.4f} {unit}", file=report)
    result = {
        "correct": not errors,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)), "rounds": len(m.rounds), "round_wall_s": m.walls,
        "op_seconds": per_op, "warmup_s": m.warmup_s, "check_s": m.check_s, "n_edges": workload.n_edges,
        "n_vertices": workload.n_vertices, "triangles": workload.triangles, "solver": solver,
        "errors": errors, "metrics": {k: v for k, (v, _) in {**e2e, **op_metrics}.items()},
        "result": result,
    }
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    with open(os.path.join(OUT, "results", f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    return result


def solver_counts(first: dict) -> dict:
    """Iteration counts of the first round's calls (0 where not run)."""
    pr, lpa, hits, truss = (first.get(op) for op in ("pagerank", "lpa", "hits", "max_truss"))
    return {
        "pagerank.supersteps": pr[0] if pr else 0,
        "lpa.supersteps": lpa[0] if lpa else 0,
        "hits.supersteps": hits[0] if hits else 0,
        "max_truss.probes": len(truss[1]) if truss else 0,
        "max_truss.peel_rounds": sum(p["rounds"] for p in truss[1]) if truss else 0,
    }


def unit_of(name: str) -> str:
    return "s" if name.endswith("_s") else "MiB" if name.endswith("_mib") else "count"


def layer_report(run_dir: str, m: Measurement, solver: dict) -> dict:
    """Per-layer metrics from the event log and the wrappers, with the
    cross-checks of totals reached by independent paths."""
    from tracing import LAYER_SUFFIXES, event_log_file, layer_metrics

    runner, wrappers, errors = m.runner, m.wrappers, m.errors
    layers = layer_metrics(event_log_file(os.path.join(run_dir, "eventlog")), runner.calls)
    by_group = layers.pop("_jobs_by_group")
    for group, n in m.tracked.items():
        if by_group.get(group, 0) != n:
            errors.append(f"trace: {group} has {by_group.get(group, 0)} jobs in the event log, {n} in the status tracker")
    metrics: dict = {}
    for op in OPS:
        for suffix in LAYER_SUFFIXES:
            metrics[f"{op}.{suffix}"] = (layers.get(op, {}).get(suffix, 0.0), unit_of(suffix))
    solver = dict(solver)
    solver["cc.rounds"] = wrappers.saves.get("cc", 0) / max(1, len(runner.op_seconds("cc")))
    for name, v in solver.items():
        metrics[name] = (v, "count")
    for name in ("checkpoint.saves", "checkpoint.save_s", "checkpoint.written_mib",
                 "mmapshare.stage_calls", "mmapshare.staged_mib", "mmapshare.stage_s"):
        metrics[name] = (wrappers.totals.get(name, 0.0), unit_of(name))
    ckpt_root = os.path.join(run_dir, "data", "checkpoints")
    if os.path.isdir(ckpt_root):
        on_disk = checkpoint_bytes_on_disk(ckpt_root) / MIB
        if abs(on_disk - wrappers.totals["checkpoint.written_mib"]) > 1e-9:
            errors.append(f"trace: checkpoint.written_mib {wrappers.totals['checkpoint.written_mib']} != {on_disk} on disk")
        manifests = manifests_on_disk(ckpt_root)
        supersteps = [r["pagerank"][0] for r in m.rounds]
        if manifests != sum(supersteps):
            errors.append(f"trace: {manifests} superstep manifests on disk, pagerank ran {supersteps}")
    return metrics


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--min-rounds", type=int, default=MIN_ROUNDS, help=argparse.SUPPRESS)
    args = p.parse_args()
    # The JVM and Python workers inherit fd 1 and write progress bars to
    # it: send fd 1 to stderr and keep stdout for the report alone.
    report = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.path.insert(0, ROOT)
    try:
        import linkgraph  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the linkgraph package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    result = run(args, report)
    print(json.dumps(result), file=report, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
