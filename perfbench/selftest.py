"""Tiny-scale self-test of the benchmark harness.

    python3 perfbench/selftest.py

1. Runs every workload at 1/20 of its input size, once with ``--trace 0``
   and once with ``--trace 1``, and checks that each run exits 0, reports
   ``correct`` with no failures, and prints exactly the metric names and
   units that BENCHMARK.json declares.
2. Checks that the oracle gate accepts a drain output as written and
   rejects it once one row is deleted from the router sink.

Takes a few minutes; exits 1 on the first failed check.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = 0.05


def _fail(msg: str) -> None:
    print("FAIL " + msg)
    sys.exit(1)


def check_metric_names() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        want = {m["name"]: m["unit"] for m in spec[key]}
        for w in spec["workloads"]:
            cmd = spec["command"] + ["--workload", w["name"], "--seed", "1",
                                     "--seconds", "1", "--trace", str(trace), "--scale", str(SCALE)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            if proc.returncode != 0:
                _fail("%s trace=%d exited %d:\n%s" % (w["name"], trace, proc.returncode, proc.stderr[-3000:]))
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                _fail("%s trace=%d: result keys %s" % (w["name"], trace, sorted(res)))
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                _fail("%s trace=%d: %s" % (w["name"], trace, {k: res[k] for k in ("correct", "attempted", "failed")}))
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                missing, extra = sorted(set(want) - set(got)), sorted(set(got) - set(want))
                wrong = sorted(k for k in set(got) & set(want) if got[k] != want[k])
                _fail("%s trace=%d: missing %s, extra %s, wrong unit %s" % (w["name"], trace, missing, extra, wrong))
            print("ok   %s trace=%d: %d metrics" % (w["name"], trace, len(got)))


def check_gate_rejects_deleted_row() -> None:
    sys.argv = [sys.argv[0]]
    sys.path.insert(0, HERE)
    import run

    run.setup_env()
    run.make_work_dirs()
    import procs

    h = run.Harness("drain_chunked", seed=1, scale=SCALE)
    spark = run.start_spark()
    try:
        out = h.fresh_out()
        it = h.iterate(spark, out)
        problems = h.check(it, out)
        if problems:
            _fail("gate rejected an untouched output: %s" % problems)
        victim = sorted(glob.glob(os.path.join(out, "sinks", "router", "**", "*.parquet"), recursive=True))[0]
        table = pq.read_table(victim)
        pq.write_table(table.slice(1), victim)
        problems = h.check(it, out)
        if not any(p.startswith("sink router") for p in problems):
            _fail("gate accepted a router sink with one row deleted: %s" % problems)
        if not any(p.startswith("conservation") for p in problems):
            _fail("conservation check missed a deleted sink row: %s" % problems)
        print("ok   gate rejects a deleted sink row: %s" % problems)
    finally:
        procs.stop_spark(spark)
        h.close()


if __name__ == "__main__":
    check_gate_rejects_deleted_row()
    check_metric_names()
    print("selftest passed")
