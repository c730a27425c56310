"""Load generator of the ``stream`` workload: one process.

Pre-builds seeded input files with the engine's fixture generators
(``gen_raw_log``, ``gen_order_streams``), then moves them into the
file-source directories when told to. Each move is an atomic rename, so
a source listing sees a file whole or not at all, and its release time
is the creation stamp of the events in it.

Protocol: one JSON command per line on stdin, one JSON reply per line
on stdout.

    {"cmd": "release", "group": "warmup"}           → now
    {"cmd": "schedule", "group": "open", "t0": T, "seconds": S}
        → file i of n of each stream at T + (i + 0.5) * S / n
    {"cmd": "release", "group": "backlog", "at": T}  → all at T
    {"cmd": "quit"}

Every reply lists the released files with the scheduled and actual
release times (``time.time()``).
"""

from __future__ import annotations

import json
import os
import sys
import time

STREAMS = ("raw_log", "order_info", "order_detail")


def build(stage: str, seed: int, groups: dict[str, int], raw_per_file: int,
          orders_per_file: int) -> dict[str, dict[str, list[str]]]:
    """Generate every file once; returns group → stream → staged paths,
    in event order."""
    from bigdata_spark_realtime_spark.sources import fixtures as FX

    n_files = sum(groups.values())
    FX.gen_raw_log(os.path.join(stage, "raw_log"), n_rows=raw_per_file * n_files,
                   n_files=n_files, seed=seed)
    FX.gen_order_streams(os.path.join(stage, "orders"), n_orders=orders_per_file * n_files,
                         n_files=n_files, seed=seed + 1)
    dirs = {"raw_log": os.path.join(stage, "raw_log"),
            "order_info": os.path.join(stage, "orders", "order_info"),
            "order_detail": os.path.join(stage, "orders", "order_detail")}
    files = {s: sorted(os.path.join(d, f) for f in os.listdir(d)) for s, d in dirs.items()}
    out: dict[str, dict[str, list[str]]] = {}
    start = 0
    for group, n in groups.items():
        out[group] = {s: files[s][start : start + n] for s in STREAMS}
        start += n
    return out


def _count_lines(path: str) -> int:
    with open(path, "rb") as f:
        data = f.read()
    return data.count(b"\n") + (1 if data and not data.endswith(b"\n") else 0)


def _move(src: str, stream: str, dest_root: str, due: float) -> dict:
    dest = os.path.join(dest_root, stream, f"{stream}-{os.path.basename(src)}")
    events = _count_lines(src)
    os.rename(src, dest)
    return {"stream": stream, "file": dest, "due": due, "released": time.time(),
            "events": events}


def _sleep_until(t: float) -> None:
    while (dt := t - time.time()) > 0:
        time.sleep(min(dt, 0.05))


def main() -> None:
    cfg = json.loads(sys.argv[1])
    plan = build(cfg["stage"], cfg["seed"], cfg["groups"], cfg["raw_per_file"],
                 cfg["orders_per_file"])
    dest = cfg["dest"]
    for s in STREAMS:
        os.makedirs(os.path.join(dest, s), exist_ok=True)
    print(json.dumps({"ready": {g: len(v["raw_log"]) for g, v in plan.items()}}), flush=True)
    for line in sys.stdin:
        cmd = json.loads(line)
        released: list[dict] = []
        if cmd["cmd"] == "quit":
            break
        files = plan[cmd["group"]]
        if cmd["cmd"] == "release":
            at = cmd.get("at", time.time())
            _sleep_until(at)
            for s in STREAMS:
                released += [_move(f, s, dest, at) for f in files[s]]
        elif cmd["cmd"] == "schedule":
            t0, span = cmd["t0"], cmd["seconds"]
            due = sorted(
                (t0 + (i + 0.5) * span / len(files[s]), s, f)
                for s in STREAMS for i, f in enumerate(files[s])
            )
            for at, s, f in due:
                _sleep_until(at)
                released.append(_move(f, s, dest, at))
        print(json.dumps({"released": released}), flush=True)


if __name__ == "__main__":
    main()
