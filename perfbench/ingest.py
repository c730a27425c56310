"""Ingest phase of the ``stream`` workload, and the pipeline, generator and
checkpoint helpers.

The generator process (``release.py``) pre-builds seeded raw-log and
order files. Timed:

1. Cold start: both pipelines start (``split_base_log → build_dau`` and
   ``enrich_order_info → order_wide_join``, each ``streaming=True`` on
   ``session.DEFAULT_TRIGGER`` with ``foreach_batch_upsert`` into a
   ``dt``- / ``create_date``-partitioned store) over the warm-up files;
   the time until both have committed their first micro-batch.
2. Open loop: files released at a fixed event rate over whole trigger
   intervals, starting just after a trigger boundary (processing-time
   triggers fire on multiples of the interval). The first interval
   warms the pipelines up and is not measured; the others are
   (``open_windows``: at least ``MIN_OPEN_WINDOWS``, so each pipeline
   runs several measured micro-batches). A file's freshness is the time
   from its release to the commit of the micro-batch that upserted it
   (micro-batch ↔ file from the checkpoint's source and offset logs,
   commit time from the checkpoint's commit file, micro-batch start from
   its progress). Most of it is the wait for the next trigger, which the
   release schedule sets, not the engine: the reported latency leaves
   that wait out and runs from the later of the release and the start
   of the micro-batch to the commit.
3. Backlog: a fixed set of files released at once just before a
   trigger; capacity is its events over the time from the start of the
   micro-batches that read it to their last commit.

The output check runs the same pipelines with ``streaming=False`` over
every released file and compares both stores on keys and row counts.
"""

from __future__ import annotations

import collections
import glob
import json
import math
import os
import subprocess
import sys
import time

from common import dir_bytes, log, median

#: business date for the DAU age derivation (as in the engine's tests)
AGE_REF_DATE = "2024-03-02"
RAW_PER_FILE = 40
ORDERS_PER_FILE = 5
#: files per stream: warm-up, open loop (per second), backlog. The
#: open-loop rate leaves each micro-batch well inside the trigger
#: interval; a file source pays per file, so fewer, larger files would
#: be cheaper and more files would saturate it.
WARMUP_FILES = 4
OPEN_FILES_PER_S = 4
BACKLOG_FILES = 100
#: open-loop trigger intervals: one unmeasured (the first micro-batches
#: after a cold start still vary by ±30 % while the JVM warms up), then
#: at least ``MIN_OPEN_WINDOWS`` measured ones
WARM_WINDOWS = 1
MIN_OPEN_WINDOWS = 4
#: the backlog is released this long before the trigger that reads it
BACKLOG_LEAD_S = 0.6


def trigger_interval_s() -> float:
    from bigdata_spark_realtime_spark.session import DEFAULT_TRIGGER

    n, unit = DEFAULT_TRIGGER.split()
    return float(n) * {"second": 1, "seconds": 1, "minute": 60, "minutes": 60}[unit]


def open_windows(seconds: float) -> int:
    """Measured open-loop trigger intervals for a run of ``seconds``."""
    return max(MIN_OPEN_WINDOWS, math.ceil(seconds / trigger_interval_s()))


def file_groups(seconds: float) -> dict[str, int]:
    """Files per stream of each release group."""
    open_s = (WARM_WINDOWS + open_windows(seconds)) * trigger_interval_s()
    return {"warmup": WARMUP_FILES, "open": round(OPEN_FILES_PER_S * open_s),
            "backlog": BACKLOG_FILES}


# -- pipelines -----------------------------------------------------------------


def read_dims(spark, dims: str):
    from bigdata_spark_realtime_spark import schemas as S

    user = spark.read.schema(S.DIM_USER_SCHEMA).json(os.path.join(dims, "user_info"))
    prov = spark.read.schema(S.DIM_PROVINCE_SCHEMA).json(os.path.join(dims, "base_province"))
    return user, prov


def order_schemas():
    from pyspark.sql import types as T

    from bigdata_spark_realtime_spark import schemas as S

    ts = [T.StructField("event_ts", T.LongType())]
    return (T.StructType(S.ORDER_INFO_SCHEMA.fields + ts),
            T.StructType(S.ORDER_DETAIL_SCHEMA.fields + ts))


def dau_frame(spark, raw, dims: str, streaming: bool):
    from bigdata_spark_realtime_spark.streaming.base_log import split_base_log
    from bigdata_spark_realtime_spark.streaming.dau import build_dau

    user, prov = read_dims(spark, dims)
    return build_dau(split_base_log(raw)["page"], user, prov, AGE_REF_DATE, streaming=streaming)


def wide_frame(spark, info, detail, dims: str, streaming: bool):
    from pyspark.sql import functions as F

    from bigdata_spark_realtime_spark.streaming.order import enrich_order_info, order_wide_join

    user, prov = read_dims(spark, dims)
    wide = order_wide_join(enrich_order_info(info, user, prov), detail, streaming=streaming)
    return wide.withColumn("event_seq", F.col("detail_id"))


#: store → (upsert keys, sequence column, partition column)
STORES = {
    "dau": (["dt", "mid"], "ts", "dt"),
    "order_wide": (["detail_id"], "event_seq", "create_date"),
}


class UpsertMeter:
    """Times calls into the engine's ``foreach_batch_upsert`` function and
    the bytes each call leaves written in its store (traced runs only)."""

    def __init__(self, tracer) -> None:
        self.tracer = tracer
        self.calls: list[dict] = []

    def wrap(self, name: str, path: str, fn):
        if not self.tracer.enabled:
            return fn

        def hook(batch_df, epoch_id):
            t0 = time.time_ns()
            with self.tracer.span("sinks.upsert", req=f"{name}:{epoch_id}"):
                fn(batch_df, epoch_id)
            ms = (time.time_ns() - t0) / 1e6
            with self.tracer.probing():
                written, _ = dir_bytes(path, newer_than_ns=t0)
            self.calls.append({"store": name, "epoch": epoch_id, "ms": ms, "bytes": written})

        return hook


def start_pipelines(spark, src: str, store: str, ckpt: str, dims: str, meter: UpsertMeter,
                    trigger: dict) -> dict:
    """Both pipelines as running streaming queries: name → query."""
    from bigdata_spark_realtime_spark.streaming.sinks import foreach_batch_upsert

    info_schema, detail_schema = order_schemas()
    frames = {
        "dau": dau_frame(spark, spark.readStream.format("text").load(os.path.join(src, "raw_log")),
                         dims, streaming=True),
        "order_wide": wide_frame(
            spark,
            spark.readStream.schema(info_schema).json(os.path.join(src, "order_info")),
            spark.readStream.schema(detail_schema).json(os.path.join(src, "order_detail")),
            dims, streaming=True),
    }
    queries = {}
    for name, df in frames.items():
        keys, seq, part = STORES[name]
        path = os.path.join(store, name)
        hook = meter.wrap(name, path, foreach_batch_upsert(spark, path, keys, seq, part))
        queries[name] = (
            df.writeStream.queryName(f"perfbench_{name}")
            .foreachBatch(hook)
            .option("checkpointLocation", os.path.join(ckpt, name))
            .trigger(**trigger)
            .start()
        )
    return queries


def batch_expected(spark, src: str, dims: str) -> dict:
    """The same pipelines with ``streaming=False`` over every released file."""
    info_schema, detail_schema = order_schemas()
    return {
        "dau": dau_frame(spark, spark.read.format("text").load(os.path.join(src, "raw_log")),
                         dims, streaming=False),
        "order_wide": wide_frame(
            spark,
            spark.read.schema(info_schema).json(os.path.join(src, "order_info")),
            spark.read.schema(detail_schema).json(os.path.join(src, "order_detail")),
            dims, streaming=False),
    }


def check_stores(spark, src: str, store: str, dims: str) -> list[str]:
    """Keys and row counts of each store against the batch pipelines."""
    problems = []
    expected = batch_expected(spark, src, dims)
    for name, (keys, _seq, _part) in STORES.items():
        got = [tuple(r) for r in spark.read.parquet(os.path.join(store, name)).select(*keys).collect()]
        want = [tuple(r) for r in expected[name].select(*keys).collect()]
        if sorted(got) != sorted(want):
            problems.append(f"store {name}: {len(got)} rows vs {len(want)} from the batch "
                            f"pipeline, {len(set(want) - set(got))} keys missing, "
                            f"{len(set(got) - set(want))} extra")
    return problems


# -- generator process ---------------------------------------------------------


class Generator:
    def __init__(self, work: str, seed: int, groups: dict[str, int]) -> None:
        cfg = {"stage": os.path.join(work, "stage"), "dest": os.path.join(work, "src"),
               "seed": seed, "groups": groups, "raw_per_file": RAW_PER_FILE,
               "orders_per_file": ORDERS_PER_FILE}
        self.src = cfg["dest"]
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "release.py"), json.dumps(cfg)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self.released: list[dict] = []

    def ready(self) -> dict:
        return json.loads(self.proc.stdout.readline())["ready"]

    def send(self, **cmd) -> None:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()

    def reply(self) -> list[dict]:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("load generator exited early")
        got = json.loads(line)["released"]
        self.released += got
        return got

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.send(cmd="quit")
            except BrokenPipeError:
                pass
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


# -- checkpoint readers ----------------------------------------------------------


def file_batches(ckpt: str) -> dict[str, int]:
    """Source file (local path) → id of the micro-batch that read it.

    A file source numbers its own log entries, which skip the micro-batches
    that read nothing (e.g. the no-data batches a watermark advance runs);
    the micro-batch's offsets file says up to which entry it read."""
    entries: dict[int, dict[int, list[str]]] = {}
    for log_file in glob.glob(os.path.join(ckpt, "sources", "*", "*")):
        if os.path.basename(log_file).startswith("."):
            continue
        src = int(os.path.basename(os.path.dirname(log_file)))
        with open(log_file) as f:
            for line in f:
                if line.startswith("{"):
                    rec = json.loads(line)
                    entries.setdefault(src, {}).setdefault(rec["batchId"], []).append(
                        rec["path"].removeprefix("file://"))
    out: dict[str, int] = {}
    read_upto = dict.fromkeys(entries, -1)
    offsets_dir = os.path.join(ckpt, "offsets")
    done = os.listdir(offsets_dir) if os.path.isdir(offsets_dir) else []
    for mb in sorted(int(n) for n in done if n.isdigit()):
        with open(os.path.join(offsets_dir, str(mb))) as f:
            lines = [ln for ln in f.read().splitlines() if ln.strip()]
        for src, line in enumerate(lines[2:]):
            upto = json.loads(line)["logOffset"] if line.startswith("{") else -1
            for b in range(read_upto.get(src, -1) + 1, upto + 1):
                for path in entries.get(src, {}).get(b, ()):
                    out[path] = mb
            read_upto[src] = max(read_upto.get(src, -1), upto)
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    out = {}
    for p in glob.glob(os.path.join(ckpt, "commits", "*")):
        name = os.path.basename(p)
        if name.isdigit():
            out[int(name)] = os.stat(p).st_mtime_ns / 1e9
    return out


def progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def _iso_to_epoch(ts: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def wait_committed(queries: dict, ckpts: dict[str, str], files: list[dict], timeout: float) -> None:
    """Block until every file in ``files`` is in a committed micro-batch."""
    deadline = time.time() + timeout
    want = {}
    for r in files:
        name = "dau" if r["stream"] == "raw_log" else "order_wide"
        want.setdefault(name, set()).add(r["file"])
    while time.time() < deadline:
        done = True
        for name, paths in want.items():
            batches, commits = file_batches(ckpts[name]), commit_times(ckpts[name])
            if any(batches.get(p) not in commits for p in paths):
                done = False
        if done:
            return
        for q in queries.values():
            if q.exception() is not None:
                raise RuntimeError(f"streaming query failed: {q.exception()}")
        time.sleep(0.1)
    raise TimeoutError("micro-batches did not commit the released files in time")


def wait_reported(queries: dict, ckpts: dict[str, str], files: list[dict], timeout: float) -> None:
    """Block until each query's progress covers the micro-batches that
    read ``files``."""
    deadline = time.time() + timeout
    for name, q in queries.items():
        batch_of = file_batches(ckpts[name])
        last = max(batch_of[r["file"]] for r in files if pipeline_of(r) == name)
        while (q.lastProgress is None or q.lastProgress["batchId"] < last) and time.time() < deadline:
            time.sleep(0.05)


# -- the ingest phase of ``stream`` ---------------------------------------------


def pipeline_of(r: dict) -> str:
    return "dau" if r["stream"] == "raw_log" else "order_wide"


def ingest_phase(spark, gen: Generator, work: str, seconds: float, tracer) -> dict:
    """Cold start, open loop and backlog drain of both pipelines, then the
    store check. Returns the measurements and, traced, the layer figures."""
    interval = trigger_interval_s()
    store, ckpt, dims = (os.path.join(work, d) for d in ("store", "ckpt", "dims"))
    ckpts = {n: os.path.join(ckpt, n) for n in STORES}
    meter = UpsertMeter(tracer)
    queries: dict = {}
    try:
        gen.send(cmd="release", group="warmup")
        warm_files = gen.reply()
        t0 = time.time()
        with tracer.span("ingest.cold"):
            queries = start_pipelines(spark, gen.src, store, ckpt, dims, meter,
                                      {"processingTime": f"{interval:g} seconds"})
            wait_committed(queries, ckpts, warm_files, timeout=120)
        cold_s = time.time() - t0
        log(f"ingest cold start {cold_s:.2f}s")

        # open loop over whole trigger intervals, starting just after a
        # boundary; files due in the first ``WARM_WINDOWS`` are not measured
        t_open = (math.floor(time.time() / interval) + 1) * interval + 0.05
        t_measured = t_open + WARM_WINDOWS * interval
        open_s = (WARM_WINDOWS + open_windows(seconds)) * interval
        with tracer.span("ingest.open_loop"):
            gen.send(cmd="schedule", group="open", t0=t_open, seconds=open_s)
            open_files = gen.reply()
            wait_committed(queries, ckpts, open_files, timeout=open_s + 60)
        # backlog, released just before the next trigger boundary
        t_back = (math.floor(time.time() / interval) + 1) * interval - BACKLOG_LEAD_S
        if t_back < time.time():
            t_back += interval
        with tracer.span("ingest.backlog"):
            gen.send(cmd="release", group="backlog", at=t_back)
            back_files = gen.reply()
            wait_committed(queries, ckpts, back_files, timeout=120)
        # a micro-batch's progress is reported just after its commit
        wait_reported(queries, ckpts, back_files, timeout=30)
    finally:
        for q in queries.values():
            q.stop()
    progs = {n: progress(q) for n, q in queries.items()}

    # freshness: release → commit of the micro-batch that read the file;
    # latency: the same without the wait for that micro-batch to start
    batch_of = {n: file_batches(c) for n, c in ckpts.items()}
    commit_at = {n: commit_times(c) for n, c in ckpts.items()}
    started = {n: {p["batchId"]: _iso_to_epoch(p["timestamp"]) for p in progs[n]} for n in STORES}
    failures, fresh, wait, measured = [], [], [], []
    for r in open_files:
        n = pipeline_of(r)
        b = batch_of[n].get(r["file"])
        if b is None or b not in commit_at[n]:
            failures.append(f"file never committed: {r['file']}")
            continue
        if r["due"] < t_measured:
            continue
        measured.append(r)
        fresh.append((commit_at[n][b] - r["released"]) * 1000)
        wait.append(max(0.0, started[n][b] - r["released"]) * 1000)
    latency = [f - w for f, w in zip(fresh, wait)]

    # capacity: backlog events over first trigger start → last commit
    back_batches = {n: {batch_of[n][r["file"]] for r in back_files if pipeline_of(r) == n}
                    for n in STORES}
    starts = [_iso_to_epoch(p["timestamp"]) for n in STORES for p in progs[n]
              if p["batchId"] in back_batches[n]]
    ends = [commit_at[n][b] for n in STORES for b in back_batches[n]]
    back_events = sum(r["events"] for r in back_files)
    drain_s = max(ends) - min(starts)

    with tracer.span("ingest.check"):
        failures += check_stores(spark, gen.src, store, dims)

    layers: dict[str, float] = {}
    if tracer.enabled:
        with tracer.probing():
            open_batches = {n: {batch_of[n][r["file"]] for r in measured if pipeline_of(r) == n}
                            for n in STORES}
            layers = stream_layers(progs, open_batches)
            layers["streaming.wait_ms"] = median(wait)
            layers.update(sink_layers(meter, progs, store))
            layers["sources.gen_late_ms"] = max((r["released"] - r["due"]) * 1000 for r in open_files)
            # the most files one open-loop micro-batch found waiting
            per_batch = collections.Counter((pipeline_of(r), batch_of[pipeline_of(r)].get(r["file"]))
                                            for r in measured)
            layers["sources.backlog_files"] = max(per_batch.values())
    return {
        "store": store, "cold_s": cold_s, "latency_ms": latency,
        "capacity_eps": back_events / drain_s,
        "attempted": len(open_files) + len(STORES), "failures": failures, "layers": layers,
        "detail": {
            "files": {"warmup": len(warm_files), "open": len(open_files),
                      "open_measured": len(measured), "backlog": len(back_files)},
            "open_events": sum(r["events"] for r in open_files), "backlog_events": back_events,
            "drain_s": drain_s, "trigger_s": interval, "open_s": open_s,
            "latency_ms": sorted(latency), "freshness_ms": sorted(fresh), "wait_ms": sorted(wait),
            "progress": {n: [{k: p[k] for k in ("batchId", "numInputRows", "durationMs")}
                             for p in progs[n]] for n in STORES}},
    }


# -- per-layer readers ----------------------------------------------------------


def stream_layers(progs: dict[str, list[dict]], open_batches: dict[str, set[int]]) -> dict:
    """Per-pipeline figures from ``StreamingQueryProgress``: medians over
    the measured open-loop micro-batches, state at the last one."""
    layers: dict[str, float] = {}
    offset_ms, rows = [], 0
    for name, short in (("dau", "dau"), ("order_wide", "order")):
        ps = [p for p in progs[name] if p.get("numInputRows", 0) or p["batchId"] in open_batches[name]]
        ps = [p for p in ps if "triggerExecution" in p["durationMs"]]
        rows += sum(p["numInputRows"] for p in ps)
        timed = [p for p in ps if p["batchId"] in open_batches[name]] or ps
        dur = [p["durationMs"] for p in timed]
        layers[f"streaming.{short}.trigger_ms"] = median([d["triggerExecution"] for d in dur])
        layers[f"streaming.{short}.plan_ms"] = median([d.get("queryPlanning", 0) for d in dur])
        layers[f"streaming.{short}.commit_ms"] = median(
            [d.get("commitOffsets", 0) + d.get("walCommit", 0) for d in dur])
        offset_ms += [d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dur]
        last = ps[-1] if ps else {"stateOperators": []}
        layers[f"streaming.{short}.state_rows"] = sum(o["numRowsTotal"] for o in last["stateOperators"])
        layers[f"streaming.{short}.state_mb"] = sum(
            o["memoryUsedBytes"] for o in last["stateOperators"]) / 2**20
        layers[f"streaming.{short}.batches"] = len(ps)
    layers["sources.offset_ms"] = median(offset_ms)
    layers["sources.input_rows"] = rows
    return layers


def sink_layers(meter: UpsertMeter, progs: dict[str, list[dict]], store: str) -> dict:
    calls = meter.calls
    trig = sum(p["durationMs"].get("triggerExecution", 0) for ps in progs.values() for p in ps
               if p.get("numInputRows", 0))
    final_bytes, final_files = dir_bytes(store)
    return {
        "sinks.upsert_ms": median([c["ms"] for c in calls]) if calls else 0.0,
        "sinks.upsert_share": sum(c["ms"] for c in calls) / trig if trig else 0.0,
        "sinks.write_amp": sum(c["bytes"] for c in calls) / final_bytes if final_bytes else 0.0,
        "sinks.store_files": final_files,
    }
