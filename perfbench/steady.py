"""Run the benchmark over several seeds and report how steady it is.

    python3 perfbench/steady.py --workloads batch,stream --seeds 1-10 \
        [--seconds S] [--traced] [--out FILE]

For every workload and end-to-end metric: the median of the runs and the
distance between the first and third quartile (``statistics.quantiles``,
n=4) as a share of the median, next to a third of the metric's bound in
BENCHMARK.json. With ``--traced`` each seed also runs with ``--trace 1``
and the tracing overhead is reported: the traced run's own end-to-end
figures (from its record in ``.perfbench_out/``) minus the untraced
ones, as medians over the seeds. Every result line is appended to
``--out`` as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    return {"workload": workload, "seed": seed, "trace": trace, "rc": proc.returncode,
            "wall_s": time.time() - t0, "result": result}


def spread(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default="batch,stream")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench_out", "steady.jsonl"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    os.makedirs(os.path.dirname(args.out), exist_ok=True)

    for w in args.workloads.split(","):
        runs, overhead = [], {}
        for s in seeds(args.seeds):
            for trace in (0, 1) if args.traced else (0,):
                r = run_once(w, s, seconds, trace)
                with open(args.out, "a") as f:
                    f.write(json.dumps(r) + "\n")
                if r["result"] is None or not r["result"]["correct"]:
                    print(f"{w} seed {s} trace {trace}: FAILED rc={r['rc']}", flush=True)
                    continue
                if trace == 0:
                    runs.append(r)
                else:
                    rec_path = os.path.join(ROOT, ".perfbench_out", f"record-{w}-seed{s}-trace1.json")
                    with open(rec_path) as f:
                        for k, v in json.load(f)["end_to_end"].items():
                            overhead.setdefault(k, []).append(v)
        print(f"== {w}: {len(runs)} clean untraced runs, wall "
              f"{statistics.median([r['wall_s'] for r in runs]) if runs else 0:.1f}s median")
        for name, bound in bounds.items():
            vals = [r["result"]["metrics"][name]["value"] for r in runs]
            if len(vals) < 2:
                continue
            med, iqr = spread(vals)
            flag = "ok" if iqr <= bound / 3 else ("WIDE" if iqr > bound else "over 1/3")
            line = f"  {name:16s} median {med:12.4f}  iqr/median {iqr:6.3f}  bound/3 {bound / 3:.3f}  {flag}"
            if name in overhead:
                line += f"  traced-untraced {statistics.median(overhead[name]) - med:+.4f}"
            print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
