"""citykg benchmark: one workload, checked, as one JSON line.

    python3 perfbench/run.py --workload import --seed 1 --seconds 20 --trace 0

Workloads: import, citygml (see NOTES.md). With --trace 0 the last line
carries the end-to-end metrics; with --trace 1 the run measures one traced
cycle, and the last line carries its per-layer metrics, its wall, its
unattributed remainder and the tracing overhead (the time spent in the
counts that force each layer's output). Work files go to
.bench_work/ under the current directory and are removed at exit, after
every process the run started has been ended and waited for; a JSON
record with the run stamp, the spans and any check failures is kept in
.bench_work/results/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["import", "citygml"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    work_root = os.path.join(os.getcwd(), ".bench_work")
    work = os.path.join(work_root, f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path[:0] = [ROOT, HERE]

    import harness

    # Every way out, a SIGTERM included, ends and waits for every process
    # the run started, grandchildren too, before the work files go.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    harness.become_subreaper()
    try:
        return _run(a, harness, work, work_root)
    finally:
        harness.reap_children()
        shutil.rmtree(work, ignore_errors=True)


def _run(a, harness, work: str, work_root: str) -> int:
    import workloads

    control = harness.cpu_control_mops()
    t0, c0 = time.perf_counter(), harness.tree_cpu_s()
    spark = harness.start_spark(work, traced=bool(a.trace))
    session_s, session_cpu = time.perf_counter() - t0, harness.tree_cpu_s() - c0
    try:
        run = workloads.Run(spark, harness.Tracer(spark, False), work, a.seed, a.workload,
                            workloads.SIZES[a.workload])
        run.deadline_s, run.trace_last = a.seconds, bool(a.trace)
        setups = workloads.WORKLOADS[a.workload](run)
        if a.trace:
            metrics = workloads.per_layer(run)
        else:
            metrics = workloads.end_to_end(run, session_cpu, harness.peak_rss_mb(spark))
        wall = workloads.wall_clock(run, session_s, setups)
        _, _, units, triples = run.ingest[0]
        sizes = dict(workloads.SIZES[a.workload], units=units, ingest_triples=triples,
                     measured_cycles=run.measured)
        stamp = harness.stamp(spark, ROOT, a.seed, sizes, control)
    finally:
        harness.stop_spark(spark)

    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    record = dict(result, workload=a.workload, trace=a.trace, stamp=stamp, wall=wall,
                  failures=run.failures[:50], latency_s=run.latency,
                  spans=[dict(s) for s in run.tracer.spans])
    os.makedirs(os.path.join(work_root, "results"), exist_ok=True)
    with open(os.path.join(work_root, "results",
                           f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}.json"), "w") as f:
        json.dump(record, f, indent=1)
    for msg in run.failures[:10]:
        print("CHECK FAILED:", msg, file=sys.stderr)
    print("stamp " + json.dumps(stamp, sort_keys=True))
    print("wall " + json.dumps(wall))
    print(json.dumps(result))
    return 0

if __name__ == "__main__":
    sys.exit(main())
