"""Benchmark entry point.

    python3 perfbench/run.py --workload {batch,stream} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. The workload's inputs are generated
from ``--seed``; the engine receives only those inputs. The last line
of standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``. Progress
goes to standard error; the spans (traced runs) and the full record of
the run go to ``.perfbench_out/``. See perfbench/README.md for what
each workload and metric is and why it was chosen.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import OUT_DIR, PACKAGE, ROOT, RssSampler, Tracer, emit, engine_env, log, make_work_dir  # noqa: E402


def process_start_time() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def main() -> int:
    t_proc = process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("batch", "stream"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(spec_path):
        log(f"no engine package {PACKAGE!r} or BENCHMARK.json under {ROOT}")
        return 2
    with open(spec_path) as f:
        spec = json.load(f)

    work = make_work_dir(args.workload, args.seed)
    os.environ.update(engine_env(work))
    sys.path.insert(0, ROOT)
    import workloads  # after the environment is set: it imports pyspark

    tracer = Tracer(enabled=bool(args.trace))
    try:
        with RssSampler() as rss:
            res = workloads.run(args.workload, args.seed, args.seconds, tracer, work, t_proc)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = dict(res.e2e)
    e2e["ok_ratio"] = (res.attempted - res.failed) / res.attempted
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    os.makedirs(OUT_DIR, exist_ok=True)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "cpus": os.environ["SPARK_GRAFT_CPUS"],
              "attempted": res.attempted, "failed": res.failed,
              "failures": res.failures, "end_to_end": e2e, "layers": res.layers,
              "peak_rss_mb": rss.peak_mb, "detail": res.detail}
    if args.trace:
        tracer.dump(os.path.join(OUT_DIR, f"spans-{tag}.jsonl"))
        res.layers["session.peak_rss_mb"] = rss.peak_mb
        res.layers["trace.spans"] = len(tracer.spans)
        res.layers["trace.probe_ms"] = tracer.probe_s * 1000
    with open(os.path.join(OUT_DIR, f"record-{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    for why in res.failures[:20]:
        log(f"FAILED {why}")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = res.layers if args.trace else e2e
    unknown = sorted(set(values) - {m["name"] for m in wanted})
    if unknown:
        log(f"metrics missing from BENCHMARK.json: {unknown}")
        return 3
    out = {}
    for m in wanted:
        # a layer the workload does not run did no work: its counts and
        # times are zero; every end-to-end metric is always measured
        if m["name"] not in values and not args.trace:
            log(f"end-to-end metric {m['name']} was not measured")
            return 3
        out[m["name"]] = (float(values.get(m["name"], 0.0)), m["unit"])
    emit(res.failed == 0, res.attempted, res.failed, out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
