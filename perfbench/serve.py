"""Serve phase of the ``stream`` workload: HTTP requests to the publisher.

The publisher runs as its own process through its entry point
(``python -m bigdata_spark_realtime_spark.serving.http_server <dau>
<order_wide> <port>``) over the store the ingest phase just built, so
its file layout is whatever the sinks produced. Timed:

1. Cold start: publisher launch until it has answered one refresh, so
   each request kind once.
2. Open loop: dashboard refreshes due at ``REFRESH_RATE`` per second
   for ``seconds``. A request's latency runs from when it was due, so a
   stall also charges the requests queued behind it.
3. Closed loop: ``nproc`` connections, each running refreshes back to
   back, for ``CLOSED_SHARE`` × ``seconds``.

The traffic is the bundled dashboard's (``serving/dashboard.py``,
``refresh()``): one refresh sends, one after another, ``/dauRealtime``
for a date, ``/statsByItem`` with ``t=gender`` and then ``t=age`` for
that date and an item, and ``/detailByItem`` for both with
``pageSize=10``; a page change is a further refresh. Dates are seeded
draws of the days both stores hold, items of the words of the fixture
SKU names, pages of the pages that exist for the date and item. The
first request of a refresh is due at the refresh's time, each later one
when the one before it is answered. Every response body is compared
with DuckDB over the store's parquet files.

Then the live-read probe: the engine's ``upsert_parquet`` writes one more
batch into each store while the publisher runs (rows copied from the
newest day under new keys, so every endpoint's answer changes), one
request per endpoint asks for that day, and ``serving.live_read_ok``
counts the answers that match the store's new contents (0–3). The probe
is not one of the workload's operations: it records a known defect on
every run.
"""

from __future__ import annotations

import concurrent.futures
import http.client
import json
import math
import os
import random
import socket
import subprocess
import sys
import threading
import time
import urllib.parse

import ingest
from common import NPROC, ROOT, log, median, quantile

#: open-loop refreshes per second: four requests each, about a third of
#: what ``nproc`` closed-loop connections get on a 4-core host
REFRESH_RATE = 1.0
#: closed-loop length as a share of the open loop's ``seconds``
CLOSED_SHARE = 0.6
#: rows the live-read probe upserts into each store
PROBE_ROWS = 5
#: the dashboard's requests of one refresh, in its order, and its page size
REFRESH = ("dau", "stats_gender", "stats_age", "detail")
PAGE_SIZE = 10
TIMEOUT_S = 60


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


# -- requests --------------------------------------------------------------------


def request_path(kind: str, p: dict) -> str:
    if kind == "dau":
        return "/dauRealtime?" + urllib.parse.urlencode({"td": p["date"]})
    if kind.startswith("stats"):
        return "/statsByItem?" + urllib.parse.urlencode(
            {"itemName": p["item"], "date": p["date"], "t": kind.split("_")[1]})
    return "/detailByItem?" + urllib.parse.urlencode(
        {"date": p["date"], "itemName": p["item"], "pageNo": p["page"], "pageSize": PAGE_SIZE})


def refresh_requests(p: dict) -> list[tuple[str, str]]:
    """One dashboard refresh for ``p`` (date, item, page): (kind, path)."""
    return [(kind, request_path(kind, p)) for kind in REFRESH]


def draw_refreshes(rng: random.Random, n: int, dates: list[str], items: list[str],
                   expected: "Expected") -> list[list[tuple[str, str]]]:
    out = []
    for _ in range(n):
        p = {"date": rng.choice(dates), "item": rng.choice(items)}
        pages = max(1, math.ceil(expected.matches(p["date"], p["item"]) / PAGE_SIZE))
        p["page"] = rng.randint(1, pages)
        out.append(refresh_requests(p))
    return out


def get(port: int, path: str, timeout: float = TIMEOUT_S) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def timed_get(port: int, kind: str, path: str, due: float) -> dict:
    sent = time.time()
    try:
        status, body = get(port, path)
    except OSError as e:
        status, body = 0, repr(e).encode()
    done = time.time()
    return {"kind": kind, "path": path, "due": due, "sent": sent, "done": done,
            "status": status, "body": body}


def run_refresh(port: int, reqs: list[tuple[str, str]], due: float) -> list[dict]:
    """The requests of one refresh, each sent when the one before it is
    answered (and due then)."""
    out = []
    for kind, path in reqs:
        out.append(timed_get(port, kind, path, due))
        due = out[-1]["done"]
    return out


def open_loop(port: int, refreshes: list[list[tuple[str, str]]], rate: float) -> list[dict]:
    """Refresh i due at t0 + i / rate, run by one of ``nproc`` workers."""
    t0 = time.time() + 0.05
    with concurrent.futures.ThreadPoolExecutor(NPROC) as pool:
        futs = []
        for i, reqs in enumerate(refreshes):
            due = t0 + i / rate
            while (dt := due - time.time()) > 0:
                time.sleep(dt)
            futs.append(pool.submit(run_refresh, port, reqs, due))
        return [r for f in futs for r in f.result()]


def closed_loop(port: int, refreshes: list[list[tuple[str, str]]],
                seconds: float) -> tuple[list[dict], float]:
    """``nproc`` connections, each starting its next refresh when the last
    one is answered; requests still running at the deadline are kept."""
    results: list[dict] = []
    lock = threading.Lock()
    t0 = time.time()
    deadline = t0 + seconds

    def client(k: int) -> None:
        i = k
        while time.time() < deadline:
            got = run_refresh(port, refreshes[i % len(refreshes)], time.time())
            with lock:
                results.extend(got)
            i += NPROC

    threads = [threading.Thread(target=client, args=(k,)) for k in range(NPROC)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return results, time.time() - t0


# -- expected answers (DuckDB over the store files) ------------------------------


class Expected:
    """The three endpoints' answers computed by DuckDB from the store."""

    def __init__(self, store: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        for name in ("dau", "order_wide"):
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet("
                f"'{store}/{name}/*/*.parquet', hive_partitioning = true, hive_types_autocast = false)")
        self._memo: dict[tuple[str, str], object] = {}

    def answer(self, kind: str, path: str):
        key = (kind, path)
        if key not in self._memo:
            q = {k: v[0] for k, v in urllib.parse.parse_qs(urllib.parse.urlparse(path).query).items()}
            self._memo[key] = getattr(self, kind.split("_")[0])(q)
        return self._memo[key]

    def _rows(self, sql: str, params: list) -> list[tuple]:
        return self.con.execute(sql, params).fetchall()

    def matches(self, date: str, item: str) -> int:
        """Detail rows for ``date`` and ``item``."""
        cond, params = self._match(item)
        return self._rows(f"SELECT count(*) FROM order_wide WHERE create_date = ? AND {cond}",
                          [date, *params])[0][0]

    def dau(self, q: dict):
        import datetime as dt

        td = q["td"]
        yd = (dt.date.fromisoformat(td) - dt.timedelta(days=1)).isoformat()
        rows = self._rows("SELECT dt, hr, count(*) FROM dau WHERE dt IN (?, ?) GROUP BY dt, hr",
                          [td, yd])
        dau_td = {hr: ct for d, hr, ct in rows if d == td}
        return {"dauTotal": sum(dau_td.values()), "dauTd": dau_td,
                "dauYd": {hr: ct for d, hr, ct in rows if d == yd}}

    def _match(self, item: str) -> tuple[str, list]:
        tokens = [t for t in item.split() if t]
        return " AND ".join(["contains(sku_name, ?)"] * len(tokens)) or "TRUE", tokens

    def stats(self, q: dict):
        from bigdata_spark_realtime_spark.functions import scalar as fns

        col = "user_age" if q["t"] == "age" else "user_gender"
        cond, params = self._match(q["itemName"])
        base = (f"SELECT {col} AS k, sum(split_total_amount) AS amount, count(*) AS ct "
                f"FROM order_wide WHERE create_date = ? AND {cond} "
                f"GROUP BY k ORDER BY ct DESC, k LIMIT 100")
        if q["t"] == "gender":
            sql = f"SELECT {fns.gender_decode_sql('k')}, amount FROM ({base})"
        else:
            sql = f"SELECT {fns.age_bucket_sql('k')} AS b, sum(amount) FROM ({base}) GROUP BY b"
        return [{"name": n, "value": round(v, 2)}
                for n, v in self._rows(sql, [q["date"], *params])]

    def detail(self, q: dict):
        cond, params = self._match(q["itemName"])
        where = f"FROM order_wide WHERE create_date = ? AND {cond}"
        args = [q["date"], *params]
        total = self._rows(f"SELECT count(*) {where}", args)[0][0]
        size = int(q.get("pageSize", PAGE_SIZE))
        off = (int(q.get("pageNo", 1)) - 1) * size
        cols = ("create_date", "order_id", "detail_id", "sku_id", "sku_num", "order_price",
                "split_total_amount")
        rows = self.con.execute(
            f"SELECT {', '.join(cols)}, replace(sku_name, ?, '<em>' || ? || '</em>') AS sku_name "
            f"{where} ORDER BY order_id, detail_id LIMIT {size} OFFSET {off}",
            [q["itemName"], q["itemName"], *args]).fetchall()
        return {"total": total, "detail": [dict(zip((*cols, "sku_name"), r)) for r in rows]}


def same_answer(kind: str, got, want) -> bool:
    """Equal answers; amounts compare to the cent, stats rows in any order."""
    def canon(x):
        if isinstance(x, float):
            return round(x, 2)
        if isinstance(x, dict):
            return {str(k): canon(v) for k, v in x.items()}
        if isinstance(x, list):
            return [canon(v) for v in x]
        return x

    got, want = canon(got), canon(want)
    if kind.startswith("stats"):
        key = lambda r: json.dumps(r, sort_keys=True, ensure_ascii=False)  # noqa: E731
        return sorted(got, key=key) == sorted(want, key=key)
    return got == want


def check_responses(results: list[dict], expected: Expected) -> list[str]:
    problems = []
    for r in results:
        if r["status"] != 200:
            problems.append(f"{r['path']}: HTTP {r['status']} {r['body'][:200]!r}")
            continue
        want = expected.answer(r["kind"], r["path"])
        if not same_answer(r["kind"], json.loads(r["body"]), want):
            problems.append(f"{r['path']}: answer differs from the store")
    return problems


# -- Spark UI of the publisher (traced runs) -------------------------------------


class PublisherUI:
    """The publisher's own Spark records through its UI REST API."""

    def __init__(self) -> None:
        self.base = None
        for port in range(4040, 4060):
            try:
                status, body = get(port, "/api/v1/applications", timeout=5)
            except OSError:
                continue
            apps = [a for a in json.loads(body) if a.get("name") == "publisher-http"] if status == 200 else []
            if apps:
                self.base = (port, f"/api/v1/applications/{apps[0]['id']}")
                break

    def read(self, what: str):
        if self.base is None:
            return []
        port, prefix = self.base
        status, body = get(port, f"{prefix}/{what}", timeout=5)
        return json.loads(body) if status == 200 else []

    def jobs(self) -> int:
        return len(self.read("jobs"))


# -- the serve phase of ``stream`` ----------------------------------------------


def serve_phase(spark, store: str, seed: int, seconds: float, tracer) -> dict:
    """Publisher cold start, open and closed loop, response checks and the
    live-read probe over ``store``."""
    from bigdata_spark_realtime_spark.sources import fixtures as FX

    rng = random.Random(seed)
    port = free_port()
    env = dict(os.environ)
    env["SPARK_GRAFT_UI"] = "true" if tracer.enabled else "false"
    cmd = [sys.executable, "-m", "bigdata_spark_realtime_spark.serving.http_server",
           os.path.join(store, "dau"), os.path.join(store, "order_wide"), str(port)]
    t_launch = time.time()
    pub = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                           stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    try:
        # while the publisher starts: the request draws
        expected = Expected(store)
        dau_dates = [r[0] for r in expected.con.execute("SELECT DISTINCT dt FROM dau ORDER BY 1").fetchall()]
        order_dates = [r[0] for r in expected.con.execute(
            "SELECT DISTINCT create_date FROM order_wide ORDER BY 1").fetchall()]
        dates = sorted(set(dau_dates) & set(order_dates)) or order_dates
        items = sorted({w for name in FX.SKU_NAMES for w in name.split()} | set(FX.SKU_NAMES[:3]))
        open_refreshes = draw_refreshes(rng, max(1, round(REFRESH_RATE * seconds)), dates, items,
                                        expected)
        closed_refreshes = draw_refreshes(rng, 500, dates, items, expected)

        with tracer.span("serve.cold"):
            listening = wait_listening(pub, port, timeout=120) - t_launch
            # one refresh answered: each request kind's first plan is built
            first = run_refresh(port, refresh_requests(
                {"date": dates[-1], "item": "Apple", "page": 1}), time.time())
        cold_s = time.time() - t_launch
        log(f"serve publisher cold start {cold_s:.2f}s (listening after {listening:.2f}s)")
        ui = PublisherUI() if tracer.enabled else None
        jobs0 = ui.jobs() if ui else 0
        with tracer.span("serve.open_loop"):
            opened = open_loop(port, open_refreshes, REFRESH_RATE)
        jobs1 = ui.jobs() if ui else 0
        with tracer.span("serve.closed_loop"):
            closed, closed_s = closed_loop(port, closed_refreshes, seconds * CLOSED_SHARE)
        if tracer.enabled:
            for r in opened + closed:
                tracer.spans.append({"id": None, "name": f"http.{r['kind']}", "start": r["sent"],
                                     "end": r["done"], "parent": None, "req": r["path"],
                                     "due": r["due"], "status": r["status"]})
        # answers are checked before the probe changes the store
        failures = check_responses(first + opened + closed, expected)
        with tracer.span("serve.live_probe"):
            live_ok, live_notes = live_probe(spark, port, store)
        log(f"serve live-read probe: {live_ok}/3 endpoints answer the new store contents")
        layers: dict[str, float] = {}
        if ui:
            with tracer.probing():
                layers = publisher_layers(ui, opened, jobs1 - jobs0)
    finally:
        pub.terminate()
        try:
            pub.wait(timeout=30)
        except subprocess.TimeoutExpired:
            pub.kill()
            pub.wait()

    lat = [(r["done"] - r["due"]) * 1000 for r in opened]
    capacity = sum(r["status"] == 200 for r in closed) / closed_s
    if tracer.enabled:
        layers.update({"serving.p50_ms": median(lat), "serving.p90_ms": quantile(lat, 0.9),
                       "serving.capacity_rps": capacity, "serving.live_read_ok": live_ok,
                       "serving.start_s": listening})
    return {
        "cold_s": cold_s, "latency_ms": lat, "capacity_rps": capacity,
        "attempted": len(first) + len(opened) + len(closed), "failures": failures,
        "layers": layers,
        "detail": {"open_requests": len(opened), "closed_requests": len(closed),
                   "closed_s": closed_s, "refresh_rate": REFRESH_RATE, "live_read_ok": live_ok,
                   "live_read": live_notes, "dates": [dau_dates, order_dates],
                   "publisher_listening_s": listening, "latency_ms": sorted(lat),
                   "send_wait_ms": sorted(send_wait_ms(opened))},
    }


def wait_listening(proc: subprocess.Popen, port: int, timeout: float) -> float:
    deadline = time.time() + timeout
    while time.time() < deadline:
        if proc.poll() is not None:
            raise RuntimeError(f"publisher exited with code {proc.returncode}")
        try:
            with socket.create_connection(("127.0.0.1", port), timeout=1):
                return time.time()
        except OSError:
            time.sleep(0.05)
    raise TimeoutError("publisher did not listen in time")


def live_probe(spark, port: int, store: str) -> tuple[int, list]:
    """Upsert one more batch into each store, then ask each endpoint for
    the changed day; count the answers equal to the store's contents."""
    from pyspark.sql import functions as F

    from bigdata_spark_realtime_spark.streaming.sinks import upsert_parquet

    before = Expected(store)
    dau_day = before.con.execute("SELECT max(dt) FROM dau").fetchone()[0]
    order_day = before.con.execute("SELECT max(create_date) FROM order_wide").fetchone()[0]
    p = {"date": order_day, "item": "Apple", "page": 1}
    probes = [("dau", request_path("dau", {"date": dau_day})),
              ("stats_gender", request_path("stats_gender", p)),
              ("detail", request_path("detail", p))]
    old = [before.answer(kind, path) for kind, path in probes]
    # new keys on copies of the newest rows, materialised before the
    # upsert rewrites the files they were read from
    for name, where, rekey in (
        ("dau", F.col("dt") == dau_day, ("mid", F.concat(F.lit("probe-"), F.col("mid")))),
        ("order_wide", (F.col("create_date") == order_day) & F.col("sku_name").contains("Apple"),
         ("detail_id", F.col("detail_id") + 1_000_000_000)),
    ):
        path = os.path.join(store, name)
        src = spark.read.parquet(path)
        rows = src.where(where).limit(PROBE_ROWS).withColumn(*rekey).collect()
        keys, seq, part = ingest.STORES[name]
        batch = spark.createDataFrame(rows, src.select(*rows[0].__fields__).schema)
        upsert_parquet(spark, batch, path, keys, seq, part)
    after = Expected(store)
    ok, notes = 0, []
    for (kind, path), was in zip(probes, old):
        now = after.answer(kind, path)
        r = timed_get(port, kind, path, time.time())
        if r["status"] != 200:
            notes.append(f"{path}: HTTP {r['status']} {r['body'][:160].decode(errors='replace')}")
        elif same_answer(kind, json.loads(r["body"]), now):
            ok += 1
            notes.append(f"{path}: new contents" + ("" if now != was else " (unchanged by the upsert)"))
        elif same_answer(kind, json.loads(r["body"]), was):
            notes.append(f"{path}: stale (pre-upsert answer)")
        else:
            notes.append(f"{path}: matches neither the old nor the new store")
    return ok, notes


def send_wait_ms(opened: list[dict]) -> list[float]:
    """Due → sent of each refresh's first request; the later ones are sent
    the moment they are due."""
    return [(r["sent"] - r["due"]) * 1000 for r in opened if r["kind"] == REFRESH[0]]


def publisher_layers(ui: PublisherUI, opened: list[dict], jobs: int) -> dict:
    layers: dict[str, float] = {}
    for kind, name in (("dau", "dau"), ("stats", "stats"), ("detail", "detail")):
        lat = [(r["done"] - r["sent"]) * 1000 for r in opened if r["kind"].startswith(kind)]
        layers[f"serving.{name}_p50_ms"] = median(lat) if lat else 0.0
    layers["serving.send_wait_ms"] = median(send_wait_ms(opened))
    layers["serving.jobs_per_req"] = jobs / len(opened)
    execs = ui.read("executors")
    layers["serving.gc_ms"] = sum(e.get("totalGCTime", 0) for e in execs)
    layers["serving.heap_peak_mb"] = sum(
        (e.get("peakMemoryMetrics") or {}).get("JVMHeapMemory", 0) for e in execs) / 2**20
    layers["serving.cached_rdds"] = len(ui.read("storage/rdd"))
    return layers
