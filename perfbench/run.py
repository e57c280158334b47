"""Drain and curation benchmark for lumbermill-spark.

    python3 perfbench/run.py --workload drain_chunked --seed 1 --seconds 20 --trace 0

Runs one workload as a closed loop (one client; the next iteration starts
only after the previous one finished and was checked) in one process at
local[4] with 4 shuffle partitions, checks every iteration's output against
the DuckDB oracles outside the timed window, and prints one JSON object as
the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {name: {"value", "unit"}}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the traced
per-layer suite (spans around public calls, Spark event log) and reports
the per-layer metrics. The exit code is 1 when any output fails its check.
See perfbench/README.md for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CORES = 4
# iterations run before timing: the first pays JIT compilation, Python
# worker start-up and query codegen (2-3x a warm iteration)
WARMUP_ITERATIONS = 1
JVM_HEAP = "1g"

WORKLOADS = {
    # 100k turns in 4 part files read 2 files per chunk: 2 chunks, each
    # paying the listing, summary job, 5 sink + 3 metric jobs and the
    # lineage commit
    "drain_chunked": {"kind": "drain", "sf": 0.005, "parts": 4, "chunk_files": 2},
    # 50k turns through near-duplicate detection then curation
    "conv_curate": {"kind": "curate", "sf": 0.0025, "parts": 1, "chunk_files": None},
}

END_TO_END_UNITS = {
    "turns_per_s": "turns/s",
    "chunk_commit_s": "s",
    "sink_bytes_per_turn": "B/turn",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}


def setup_env() -> None:
    """Keep every file the run writes inside the benchmark's work directory
    and let the Spark Python workers import the package."""
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["LUMBERMILL_DATA_DIR"] = os.path.join(WORK, "data")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM spark-submit starts (its launcher, then Spark's) keeps its
    # temp files in the work directory and writes no perf-counter file to
    # /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(WORK, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    # a 1 GB JVM heap is ample for these inputs; G1 grows the heap to its
    # cap within the warm-up, so the heap's part of peak_rss_mb stops
    # wandering and the metric moves with off-heap and Python-worker memory
    os.environ["LUMBERMILL_DRIVER_MEM"] = JVM_HEAP
    sys.path.insert(0, ROOT)


def make_work_dirs() -> None:
    for sub in ("tmp", "spark-local", "data"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)


_T0 = time.time()


def _log(msg: str) -> None:
    print("[perfbench %7.1fs] %s" % (time.time() - _T0, msg), file=sys.stderr, flush=True)


def start_spark(master: str = "local[%d]" % CORES, event_log: str | None = None):
    from lumbermill_spark import session

    conf = {}
    if event_log:
        conf = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + event_log}
    spark = session.get_spark("perfbench", master=master, shuffle_partitions=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    s = sorted(values)
    k = (len(s) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(values: list[float]) -> dict:
    """n, median, and the highest of p90/p99/p99.9 with at least ten samples
    beyond it (None when there are too few samples)."""
    out = {"n": len(values), "p50": statistics.median(values) if values else None, "tail": None}
    for q in (99.9, 99.0, 90.0):
        if len(values) * (1 - q / 100.0) >= 10:
            out["tail"] = {"q": q, "value": percentile(values, q)}
            break
    return out


class Harness:
    """One workload's input, oracle, iteration and check."""

    def __init__(self, name: str, seed: int, scale: float):
        import workloads as W

        self.W = W
        self.name = name
        self.spec = WORKLOADS[name]
        sf = self.spec["sf"] * scale
        self.inp = W.make_input(WORK, sf, seed, self.spec["parts"])
        self.oracle = W.build_oracle(WORK, self.spec["kind"], self.inp)
        self.inp.stats["class_mix"] = W.class_mix(self.oracle)
        self.runs = os.path.join(WORK, "runs", str(os.getpid()))
        self.n_out = 0
        self.rounding_ties = 0  # oracle rows matched only up to a rounding tie

    def fresh_out(self) -> str:
        self.n_out += 1
        out = os.path.join(self.runs, "it%03d" % self.n_out)
        shutil.rmtree(out, ignore_errors=True)
        return out

    def iterate(self, spark, out: str):
        if self.spec["kind"] == "drain":
            return self.W.run_drain(spark, self.inp, out, self.spec["chunk_files"])
        return self.W.run_curate(spark, self.inp, out)

    def check(self, it, out: str) -> list[str]:
        try:
            if self.spec["kind"] == "drain":
                return self.W.check_drain(self.oracle, out, it.result)
            problems, ties = self.W.check_curate(self.oracle, out)
            self.rounding_ties += ties
            return problems
        except Exception:  # a crashed check is a failed check, not a crashed run
            return ["check raised: " + traceback.format_exc()]

    def close(self) -> None:
        shutil.rmtree(self.runs, ignore_errors=True)


def run_untraced(h: Harness, seconds: float) -> tuple[dict, int, int, list[str]]:
    import procs

    problems: list[str] = []
    t_setup = time.time()
    spark = start_spark()
    warm = []
    for _ in range(WARMUP_ITERATIONS):
        out = h.fresh_out()
        warm.append((h.iterate(spark, out), out))
    setup_s = time.time() - t_setup
    for it, out in warm:
        problems += ["warm-up: " + p for p in h.check(it, out)]
        shutil.rmtree(out, ignore_errors=True)
    _log("setup %.2fs (warm-up iterations %s)" % (setup_s, ["%.2fs" % it.wall_s for it, _ in warm]))

    sampler = procs.RssSampler(procs.jvm_pid())
    tps, intervals, footprints = [], [], []
    attempted = failed = 0
    t_loop = time.time()
    try:
        while attempted == 0 or time.time() - t_loop < seconds:
            out = h.fresh_out()
            spark.catalog.clearCache()
            attempted += 1
            sampler.enable()
            try:
                it = h.iterate(spark, out)
            except Exception:
                failed += 1
                problems.append("iteration raised: " + traceback.format_exc())
                continue
            finally:
                sampler.disable()
            bad = h.check(it, out)
            if bad:
                failed += 1
                problems += bad
            else:
                tps.append(h.inp.rows / it.wall_s)
                intervals += it.commit_intervals_s
                footprints.append(h.W.output_footprint(out))
            _log("iteration %d: %.2fs, %d problems" % (attempted, it.wall_s, len(bad)))
            shutil.rmtree(out, ignore_errors=True)
    finally:
        sampler.close()
        procs.stop_spark(spark)

    if not tps:
        return {}, attempted, failed, problems
    metrics = {
        "turns_per_s": statistics.median(tps),
        "chunk_commit_s": statistics.median(intervals),
        "sink_bytes_per_turn": statistics.median(b for b, _ in footprints) / h.inp.rows,
        "peak_rss_mb": sampler.peak_bytes / 2**20,
        "setup_s": setup_s,
    }
    detail = {
        "workload": h.name,
        "input": {"rows": h.inp.rows, **h.inp.stats},
        "turns_per_s": tail(tps),
        "chunk_commit_s": tail(intervals),
        "sink_files": [f for _, f in footprints],
        "rounding_ties": h.rounding_ties,
        "failed_share": failed / attempted,
    }
    print(json.dumps({"detail": detail}))
    return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}, attempted, failed, problems


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # input-size multiplier, for the self-test only; the benchmark runs at 1
    ap.add_argument("--scale", type=float, default=1.0)
    args = ap.parse_args(argv)

    setup_env()
    try:
        import lumbermill_spark  # noqa: F401
    except ImportError as e:
        print("perfbench: cannot import the program from %s: %s" % (ROOT, e), file=sys.stderr)
        return 2
    make_work_dirs()

    h = Harness(args.workload, args.seed, args.scale)
    _log("input %s" % json.dumps(h.inp.stats))
    try:
        if args.trace:
            import suite

            trace_path = os.path.join(WORK, "traces", "%s_seed%d.json" % (args.workload, args.seed))
            metrics, attempted, failed, problems = suite.run_traced(h, start_spark, CORES, _log, trace_path)
        else:
            metrics, attempted, failed, problems = run_untraced(h, args.seconds)
    finally:
        h.close()
    for p in problems:
        _log("PROBLEM " + p)
    correct = not problems and bool(metrics)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
