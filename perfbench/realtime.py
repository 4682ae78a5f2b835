"""Open-loop ``realtime_ingest`` workload: the paper's five streaming apps
running together in one session while a generator lands ODS files on a
fixed schedule.

Inputs are the seeded ``events``, ``orders`` and ``lineitem`` tables cut
into event-time-ordered slices (``datagen.slice_by_time``); one tick lands
slice k of each of the three tables. ``log_split_job`` and ``routing_job``
drain with ``availableNow``, so each runs in a loop that re-invokes it as
soon as its previous drain ends, as a scheduled deployment would; their
restart cost counts toward freshness. The three others run continuously.

A tick's freshness is the time from when it was *due* to land until the
last of the five apps committed a micro-batch holding one of its files:
from then on the warehouse reflects the tick. Commit times come from the
apps' own checkpoints: the file-source log names the batch that read each
file, and the commit marker's mtime is when that batch committed.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import datagen
import stats

REALTIME_SF = 0.003
TICK_RATE = 8.0  # ticks per second; one tick lands one slice of each fact table
N_SLICES = 241  # slice 0 primes the apps; a window lands at most N_SLICES - 1 ticks
FACTS = {"events": "ts", "orders": "o_orderdate", "lineitem": "l_shipdate"}
APPS = ("log_split", "routing", "uv_dedup", "bounce", "order_wide")
CONSUMERS = {
    "events": ("log_split", "routing", "uv_dedup", "bounce"),
    "orders": ("order_wide",),
    "lineitem": ("order_wide",),
}
SCHEMAS = {
    "events": "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string",
    "orders": "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, "
    "o_orderdate timestamp_ntz, o_orderpriority string",
    "lineitem": "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
    "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
    "l_returnflag string, l_linestatus string, l_shipdate timestamp_ntz",
}
WAIT_S = 45.0  # longest wait for the apps to catch up before a file counts as failed


class Replay:
    """Seeded slices staged on disk, landed into the watched ODS dirs."""

    def __init__(self, work: str, seed: int, seconds: float):
        import pyarrow.parquet as pq

        self.ods = os.path.join(work, "ods")
        self.stage = os.path.join(work, "stage")
        # a fixed slice count keeps the offered rows/s independent of the window
        self.n_window = min(max(1, math.ceil(seconds * TICK_RATE)), N_SLICES - 1)
        self.n_slices = N_SLICES
        tables = datagen.generate(seed, REALTIME_SF)
        dims = {k: v for k, v in tables.items() if k not in FACTS}
        datagen.write_tables(dims, self.ods)
        ev_bounds = datagen.time_bounds([tables["events"]], ["ts"], self.n_slices)
        ol_bounds = datagen.time_bounds(
            [tables["orders"], tables["lineitem"]], ["o_orderdate", "l_shipdate"], self.n_slices
        )
        self.rows: dict[str, int] = {}
        self.bytes: dict[str, int] = {}
        for table, col in FACTS.items():
            os.makedirs(os.path.join(self.ods, f"{table}.parquet"), exist_ok=True)
            os.makedirs(os.path.join(self.stage, table), exist_ok=True)
            bounds = ev_bounds if table == "events" else ol_bounds
            for k, part in enumerate(datagen.slice_by_time(tables[table], col, bounds)):
                name = self.file_name(table, k)
                path = os.path.join(self.stage, table, name)
                pq.write_table(part, path)
                self.rows[name] = part.num_rows
                self.bytes[name] = os.path.getsize(path)
        self.landed: dict[str, float] = {}  # file -> wall time it became visible
        self.due: dict[str, float] = {}

    @staticmethod
    def file_name(table: str, k: int) -> str:
        return f"{table}-{k:05d}.parquet"

    def tick_files(self, k: int) -> list[str]:
        return [self.file_name(t, k) for t in FACTS]

    def land(self, k: int, due: float) -> None:
        for table in FACTS:
            name = self.file_name(table, k)
            dst = os.path.join(self.ods, f"{table}.parquet", name)
            os.rename(os.path.join(self.stage, table, name), dst)
            now = time.time()
            os.utime(dst, (now, now))
            self.landed[name] = now
            self.due[name] = due


def _stream(spark, ods: str, table: str):
    from pyspark.sql import functions as F

    col = FACTS[table]
    return (
        spark.readStream.schema(SCHEMAS[table])
        .parquet(os.path.join(ods, f"{table}.parquet"))
        .withColumn(col, F.col(col).cast("timestamp"))
    )


def _progress(q) -> list[dict]:
    return [p if isinstance(p, dict) else json.loads(str(p)) for p in q.recentProgress]


class Apps:
    """The five apps, started together and stopped together."""

    def __init__(self, spark, replay: Replay, work: str):
        self.spark, self.replay, self.work = spark, replay, work
        self.out = os.path.join(work, "out")
        self.ck = os.path.join(work, "ck")
        self.config = os.path.join(work, "routing_config")
        self.run_ids: dict[str, str] = {}
        self.progress: dict[str, list[dict]] = {a: [] for a in APPS}
        self.started: dict[str, float] = {}
        self.errors: list[str] = []
        self._stop = threading.Event()
        self._threads: list[threading.Thread] = []
        self._continuous: dict[str, object] = {}

    def checkpoint(self, app: str) -> str:
        # log_split_job / routing_job append their own sub-directory
        sub = {"log_split": "log_split", "routing": "routing"}.get(app, "")
        return os.path.join(self.ck, app, sub) if sub else os.path.join(self.ck, app)

    def start(self) -> None:
        from gmall_flink_parent_spark.streaming import jobs, stateful

        spark, ods = self.spark, self.replay.ods
        jobs.write_routing_config(spark, self.config)
        events = _stream(spark, ods, "events")

        def sink(df, app):
            return (
                df.writeStream.format("parquet")
                .option("path", os.path.join(self.out, app))
                .option("checkpointLocation", self.checkpoint(app))
                .outputMode("append")
            )

        loops = {
            "log_split": lambda: jobs.log_split_job(
                events, os.path.join(self.out, "log_split"), os.path.join(self.ck, "log_split")
            ),
            "routing": lambda: jobs.routing_job(
                events, self.config, os.path.join(self.out, "routing"), os.path.join(self.ck, "routing")
            ),
        }
        for app, start in loops.items():
            th = threading.Thread(target=self._loop, args=(app, start), name=app, daemon=True)
            self.started[app] = time.time()
            th.start()
            self._threads.append(th)
        continuous = {
            "uv_dedup": lambda: stateful.uv_dedup_stream(events),
            "bounce": lambda: stateful.bounce_detect_stream(events),
            "order_wide": lambda: jobs.order_wide_enriched_stream(
                _stream(spark, ods, "orders"), _stream(spark, ods, "lineitem"), spark, ods
            ),
        }
        for app, build in continuous.items():
            self.started[app] = time.time()
            q = sink(build(), app).start()
            self._continuous[app] = q
            self.run_ids[str(q.runId)] = app

    def _loop(self, app: str, start) -> None:
        while not self._stop.is_set():
            try:
                q = start()
                self.run_ids[str(q.runId)] = app
                q.awaitTermination()
                prog = _progress(q)
                self.progress[app].extend(prog)
            except Exception as exc:  # noqa: BLE001 - reported as a failure
                self.errors.append(f"{app}: {exc!r}"[:300])
                return
            if not any(p.get("numInputRows", 0) for p in prog):
                self._stop.wait(0.05)

    def stop(self) -> None:
        self._stop.set()
        for th in self._threads:
            th.join(timeout=60)
        for app, q in self._continuous.items():
            try:
                exc = q.exception()
                if exc is not None:
                    self.errors.append(f"{app}: {exc!r}"[:300])
                self.progress[app] = _progress(q)
                q.stop()
            except Exception as exc:  # noqa: BLE001
                self.errors.append(f"{app}: stop raised {exc!r}"[:300])

    def commits(self, app: str) -> dict[str, float]:
        """file name -> wall time the app committed the batch reading it."""
        ck = self.checkpoint(app)
        batch_of: dict[str, int] = {}
        src_root = os.path.join(ck, "sources")
        if os.path.isdir(src_root):
            for src in os.listdir(src_root):
                d = os.path.join(src_root, src)
                for f in os.listdir(d):
                    if f.startswith("."):
                        continue
                    with open(os.path.join(d, f), encoding="utf-8") as fh:
                        for line in fh:
                            line = line.strip()
                            if line.startswith("{"):
                                entry = json.loads(line)
                                batch_of[os.path.basename(entry["path"])] = entry["batchId"]
        committed: dict[int, float] = {}
        cdir = os.path.join(ck, "commits")
        if os.path.isdir(cdir):
            for f in os.listdir(cdir):
                if f.isdigit():
                    committed[int(f)] = os.stat(os.path.join(cdir, f)).st_mtime
        return {name: committed[b] for name, b in batch_of.items() if b in committed}


def _done_times(apps: Apps, files: list[str]) -> dict[str, float]:
    """file -> time the last consuming app committed it (files not yet
    committed by every consumer are left out)."""
    commits = {app: apps.commits(app) for app in APPS}
    done = {}
    for name in files:
        table = name.split("-")[0]
        times = [commits[a].get(name) for a in CONSUMERS[table]]
        if all(t is not None for t in times):
            done[name] = max(times)
    return done


def _wait_done(apps: Apps, files: list[str], timeout: float) -> dict[str, float]:
    deadline = time.monotonic() + timeout
    while True:
        done = _done_times(apps, files)
        if len(done) == len(files) or time.monotonic() > deadline or apps.errors:
            return done
        time.sleep(0.1)


def setup(spark, seed: int, seconds: float, work: str) -> tuple[Replay, dict]:
    t0 = time.perf_counter()
    replay = Replay(work, seed, seconds)
    return replay, {"data_s": time.perf_counter() - t0}


def measure(spark, replay: Replay, work: str) -> dict:
    """Start the apps, land the ticks on schedule, drain, stop."""
    phases = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    apps = Apps(spark, replay, work)
    replay.land(0, time.time())
    apps.start()
    prime = replay.tick_files(0)
    prime_done = _wait_done(apps, prime, WAIT_S)
    phase("prime_s")

    first_commit = {}
    for app in APPS:
        times = apps.commits(app).values()
        if times:
            first_commit[app] = min(times) - apps.started[app]

    # open loop: tick k is due at t0 + (k - 1) / rate, whatever the apps do
    window = list(range(1, replay.n_window + 1))
    t0 = time.time() + 0.1
    due = stats.open_loop_schedule(t0, TICK_RATE, len(window))
    sent = []
    for k, d in zip(window, due):
        pause = d - time.time()
        if pause > 0:
            time.sleep(pause)
        replay.land(k, d)
        sent.append(time.time())
    phase("window_s")
    window_files = [f for k in window for f in replay.tick_files(k)]
    window_done = _wait_done(apps, window_files, WAIT_S)
    phase("drain_s")

    apps.stop()
    phase("stop_s")
    return {
        "phases": phases,
        "apps": apps,
        "prime_done": prime_done,
        "first_commit": first_commit,
        "window": window,
        "window_files": window_files,
        "window_done": window_done,
        "lateness": stats.lateness(due, sent),
    }


def end_to_end(replay: Replay, m: dict) -> dict:
    done = m["window_done"]
    ticks = [fs for fs in map(replay.tick_files, m["window"]) if all(f in done for f in fs)]
    fresh = stats.latency_from_due(
        [replay.due[fs[0]] for fs in ticks], [max(done[f] for f in fs) for fs in ticks]
    )
    p, tail_v = stats.tail(fresh) if fresh else (50, float("nan"))
    # delivered throughput: window rows over first due time to last commit
    rows = sum(replay.rows[f] for f in m["window_done"])
    span = max(m["window_done"].values(), default=0.0) - min(replay.due[f] for f in m["window_files"])
    by_app = {}
    for app in APPS:
        commits = m["apps"].commits(app)
        mine = [f for f in m["window_files"] if app in CONSUMERS[f.split("-")[0]] and f in commits]
        if mine:
            by_app[app] = stats.median([commits[f] - replay.due[f] for f in mine])
    return {
        "freshness_s_p50_by_app": by_app,
        "latency_s_p50": stats.median(fresh) if fresh else float("nan"),
        "freshness_s_tail": tail_v,
        "tail_percentile": p,
        "samples": len(fresh),
        # cold start: until the slowest of the five apps committed slice 0
        "cold_latency_s": max(m["first_commit"].values(), default=float("nan")),
        "throughput_per_s": rows / span if span > 0 else float("nan"),
    }


def check(spark, replay: Replay, apps: Apps) -> dict[str, str]:
    """Outputs of the five apps against their batch twins over every file
    landed. Returns name -> error (empty when all match)."""
    from pyspark.sql import functions as F

    from gmall_flink_parent_spark import plans
    from gmall_flink_parent_spark.sources.tables import load_table
    from gmall_flink_parent_spark.streaming.stateful import BOUNCE_WINDOW_US

    ods, out = replay.ods, apps.out
    q = plans.query_map()
    bad: dict[str, str] = {}

    def rows(df, cols):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    def guard(name, fn):
        try:
            msg = fn()
        except Exception as exc:  # noqa: BLE001
            msg = f"raised {exc!r}"[:300]
        if msg:
            bad[name] = msg

    def uv():
        cols = ["user_id", "visit_ymd", "first_event_id", "first_ts"]
        got = rows(spark.read.parquet(os.path.join(out, "uv_dedup")), cols)
        return None if got == rows(q["uv_dedup"](spark, ods), cols) else "differs from uv_dedup"

    def bounce():
        got = {(r[0], r[1]) for r in spark.read.parquet(os.path.join(out, "bounce")).select("event_id", "user_id").collect()}
        want = [(r["event_id"], r["user_id"], r["ts"]) for r in q["bounce_detect"](spark, ods).collect()]
        max_us = load_table(spark, ods, "events").agg(F.max(F.unix_micros("ts"))).collect()[0][0]
        flushable = {(e, u) for e, u, ts in want if ts.timestamp() * 1e6 + BOUNCE_WINDOW_US < max_us}
        if not flushable <= got:
            return f"missing {len(flushable - got)} flushable bounces"
        if not got <= {(e, u) for e, u, _ in want}:
            return "emitted rows that are not bounces"
        return None

    def order_wide():
        got_df = spark.read.parquet(os.path.join(out, "order_wide"))
        cols = sorted(got_df.columns)
        batch = (
            q["order_wide_enriched"](spark, ods)
            .withColumnRenamed("l_orderkey", "o_orderkey")
            .drop("order_age_days")
        )
        got = rows(got_df, cols)
        if not set(got) <= set(rows(batch, cols)):
            return "rows missing from order_wide_enriched"
        o, li = load_table(spark, ods, "orders"), load_table(spark, ods, "lineitem")
        in_band = o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (li.l_shipdate >= o.o_orderdate)
            & (li.l_shipdate <= o.o_orderdate + F.expr("INTERVAL 30 DAYS")),
        ).count()
        return None if len(got) == in_band else f"{len(got)} rows, {in_band} in band"

    def routing():
        facts = spark.read.parquet(os.path.join(out, "routing", "facts")).count()
        if facts != q["routing_facts"](spark, ods).count():
            return "fact count differs from routing_facts"
        dims = q["routing_dims"](spark, ods)
        for r in dims.groupBy("sink_table").count().collect():
            n = spark.read.parquet(os.path.join(out, "routing", "dims", r["sink_table"])).count()
            if n != r["count"]:
                return f"dim {r['sink_table']} has {n} rows, routing_dims {r['count']}"
        return None

    def log_split():
        ev = load_table(spark, ods, "events")
        base = os.path.join(out, "log_split")
        n_start = spark.read.parquet(f"{base}/dwd_start_log").count()
        n_page = spark.read.parquet(f"{base}/dwd_page_log").count()
        n_disp = spark.read.parquet(f"{base}/dwd_display_log").count()
        if n_start != ev.filter("event_type = 'signup'").count():
            return "start log count"
        if n_page != ev.filter("event_type IN ('view','click')").count() or n_disp != n_page:
            return "page/display log count"
        return None

    checks = {"uv_dedup": uv, "bounce": bounce, "order_wide": order_wide, "routing": routing, "log_split": log_split}
    # the five checks are independent Spark jobs; running them side by side
    # keeps the untimed check phase short
    with ThreadPoolExecutor(max_workers=len(checks)) as pool:
        list(pool.map(guard, checks, checks.values()))
    return bad
