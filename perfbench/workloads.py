"""Workload dispatch, the run result and the engine session's lifetime."""

from __future__ import annotations

import dataclasses
import importlib
import subprocess
import time

from common import Tracer


@dataclasses.dataclass
class Result:
    #: end-to-end metrics measured by the workload (the runner adds
    #: ``peak_rss_mb`` and ``ok_ratio``)
    e2e: dict[str, float]
    #: per-layer metrics (filled on traced runs)
    layers: dict[str, float]
    attempted: int
    failed: int
    failures: list[str]
    #: everything else worth keeping in the run's record
    detail: dict


def run(workload: str, seed: int, seconds: float, tracer: Tracer, work: str, t_proc: float) -> Result:
    mod = importlib.import_module(workload)
    return mod.run(seed=seed, seconds=seconds, tracer=tracer, work=work, t_proc=t_proc)


def start_spark(app: str, tracer: Tracer):
    """The engine's own session factory, timed as ``get_spark``; the first
    action starts the executor threads and is part of the start."""
    from bigdata_spark_realtime_spark.session import get_spark

    t0 = time.perf_counter()
    with tracer.span("get_spark"):
        spark = get_spark(app_name=app, extra_conf={"spark.ui.showConsoleProgress": "false"})
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
