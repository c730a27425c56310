"""``stream``: the realtime path, from released files to HTTP answers.

Set-up starts the session, the load generator process (which builds the
seeded files meanwhile) and the dimension tables. Then the ingest phase
(``ingest.py``: cold start, open loop at a fixed event rate, backlog
drain, store check) and the serve phase (``serve.py``: the publisher
process over the store the ingest phase built, open and closed loop,
response checks, live-read probe).

End-to-end: ``p50_ms``/``p90_ms`` are the ingest latency of the measured
open-loop files (freshness without the wait for the trigger) and
``capacity_per_s`` is backlog events per second; ``cold_s`` is the
pipelines' cold start plus the publisher's. The publisher's request
latency and capacity are the per-layer ``serving.*`` figures: no gated
metric follows them (see README.md, "Run budget").
"""

from __future__ import annotations

import os
import time

import ingest
import serve
from common import SparkProbe, median, quantile, session_layers
from workloads import Result, start_spark, stop_spark


def run(seed: int, seconds: float, tracer, work: str, t_proc: float) -> Result:
    from bigdata_spark_realtime_spark.sources import fixtures as FX

    with tracer.span("setup"):
        gen = ingest.Generator(work, seed, ingest.file_groups(seconds))
        try:
            spark, start_s = start_spark("perfbench-stream", tracer)
            FX.gen_dims(os.path.join(work, "dims"), seed=seed + 2)
            gen.ready()
        except BaseException:
            gen.close()
            raise
    setup_s = time.time() - t_proc
    probe = SparkProbe(spark) if tracer.enabled else None
    gc0 = probe.gc_ms() if probe else 0.0
    try:
        ing = ingest.ingest_phase(spark, gen, work, seconds, tracer)
    finally:
        gen.close()
    srv = serve.serve_phase(spark, ing["store"], seed, seconds, tracer)

    layers = {**ing["layers"], **srv["layers"]}
    if probe:
        with tracer.probing():
            layers.update(session_layers(probe, start_s, gc0))
    stop_spark(spark)

    e2e = {
        "setup_s": setup_s,
        "cold_s": ing["cold_s"] + srv["cold_s"],
        "p50_ms": median(ing["latency_ms"]),
        "p90_ms": quantile(ing["latency_ms"], 0.9),
        "capacity_per_s": ing["capacity_eps"],
    }
    failures = ing["failures"] + srv["failures"]
    detail = {"ingest": ing["detail"], "serve": srv["detail"], "session_start_s": start_s,
              "ingest_cold_s": ing["cold_s"], "serve_cold_s": srv["cold_s"],
              "serve_p50_ms": median(srv["latency_ms"]),
              "serve_p90_ms": quantile(srv["latency_ms"], 0.9),
              "serve_capacity_rps": srv["capacity_rps"]}
    return Result(e2e, layers, ing["attempted"] + srv["attempted"], len(failures), failures, detail)
