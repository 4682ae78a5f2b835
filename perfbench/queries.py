"""Closed-loop query workloads: ``warehouse_queries`` and
``curation_queries``.

One client builds a registered head (``plans.query_map()``) or a DWS
``*_from_store`` reader, writes it to Spark's ``noop`` sink, and starts
the next one as soon as it returns. Each op first runs once, cold (its
first run in the session), then once more untimed; then warm rounds run
them for ``--seconds``.

The head set is fixed by the registry, not by the seed: the heads whose
function lives under the workload's package are ranked by a salted hash
of their name and the first few taken (``fixed_heads``). The seed shuffles
the run order and generates the data. A per-seed random draw was tried
first: its median moved by 30-45 % of itself from seed to seed, which no
regression bound could absorb.
"""

from __future__ import annotations

import hashlib
import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

import datagen
import stats

QUERY_SF = 0.01
ENGINE = "gmall_flink_parent_spark"
PACKAGES = {
    "warehouse_queries": f"{ENGINE}.operators.",
    "curation_queries": f"{ENGINE}.functions.",
}
HEADS = {"warehouse_queries": 5, "curation_queries": 4}  # size of each fixed set
SALT = "perfbench"
SKIP_TAG = "iterative"  # fixpoint loops: one cold run outlasts the run window

# DWS stores landed in setup: name -> (job builder in streaming.jobs, source table)
STORES = {
    "daily_value": ("daily_value_store_job", "events"),
    "topk_spend": ("topk_spend_job", "events"),
    "pricing_summary": ("pricing_summary_store_job", "lineitem"),
}
# reader in streaming.jobs -> (store, registered batch twin it must hash-equal)
READERS = {
    "event_value_correlation_from_store": ("daily_value", "event_value_correlation"),
    "event_type_pivot_from_store": ("daily_value", "event_type_pivot"),
    "event_value_acf_from_store": ("daily_value", "event_value_acf"),
    "event_value_ewma_from_store": ("daily_value", "event_value_ewma"),
    "event_dow_seasonality_from_store": ("daily_value", "event_dow_seasonality"),
    "event_daily_robust_outliers_from_store": ("daily_value", "event_daily_robust_outliers"),
    "topk_spend_from_store": ("topk_spend", "topk_users_by_spend"),
    "user_spend_concentration_from_store": ("topk_spend", "user_spend_concentration"),
    "pricing_summary_from_store": ("pricing_summary", "pricing_summary"),
}
N_READERS = 2
STORE_SLICES = 2


def _rank(name: str) -> str:
    return hashlib.sha256(f"{SALT}:{name}".encode()).hexdigest()


def fixed_heads(specs: dict, workload: str) -> list[str]:
    """The workload's head set: among heads under its package, minus
    fixpoint-loop heads, the ``HEADS`` names whose salted hash is
    smallest. A head added or removed elsewhere in the registry moves
    the set only if its own hash ranks inside it."""
    prefix = PACKAGES[workload]
    pool = [
        name
        for name, spec in specs.items()
        if spec.fn.__module__.startswith(prefix) and SKIP_TAG not in spec.tags
    ]
    return sorted(sorted(pool, key=_rank)[: HEADS[workload]])


def fixed_readers() -> list[str]:
    return sorted(sorted(READERS, key=_rank)[:N_READERS])


def run_order(names: list[str], seed: int) -> list[str]:
    order = sorted(names)
    random.Random(f"order:{seed}").shuffle(order)
    return order


class Op:
    """One runnable operation: a registered head or a store reader."""

    def __init__(self, name: str, build, oracle: str | None, twin: str | None, layer: str):
        self.name, self.build, self.oracle, self.twin, self.layer = name, build, oracle, twin, layer


def _land_stores(spark, names: set[str], work: str, tables) -> dict[str, str]:
    """Land the named DWS stores from file streams over time-ordered slices."""
    import pyarrow.parquet as pq
    from gmall_flink_parent_spark.streaming import jobs

    paths = {}
    for table in sorted({STORES[n][1] for n in names}):
        col = {"events": "ts", "lineitem": "l_shipdate"}[table]
        bounds = datagen.time_bounds([tables[table]], [col], STORE_SLICES)
        src = os.path.join(work, "store_input", table)
        os.makedirs(src, exist_ok=True)
        for i, part in enumerate(datagen.slice_by_time(tables[table], col, bounds)):
            pq.write_table(part, os.path.join(src, f"part-{i:05d}.parquet"))
    from pyspark.sql import functions as F

    running = {}
    for name in sorted(names):  # the store jobs run side by side
        job, table = STORES[name]
        src = os.path.join(work, "store_input", table)
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).parquet(src)
        col = {"events": "ts", "lineitem": "l_shipdate"}[table]
        stream = stream.withColumn(col, F.col(col).cast("timestamp"))
        paths[name] = os.path.join(work, "stores", name)
        running[name] = getattr(jobs, job)(stream, paths[name], os.path.join(work, "checkpoints"))
    for name, q in running.items():
        if not q.awaitTermination(120):
            raise RuntimeError(f"store {name} did not land")
    return paths


def _warm_up(spark, data_dir: str) -> None:
    """Run the session's first job (class loading, the parquet scan path)
    outside timing, so it does not land on whichever head runs first."""
    from gmall_flink_parent_spark.sources.tables import load_table

    load_table(spark, data_dir, "events").groupBy("event_type").count().write.format(
        "noop"
    ).mode("overwrite").save()


def setup(spark, workload: str, seed: int, work: str) -> tuple[list[Op], dict, dict]:
    """Generate data, land stores, warm up. Returns (ops in run order,
    the set-up phase timings, check context)."""
    from gmall_flink_parent_spark import plans
    from gmall_flink_parent_spark.streaming import jobs

    timings = {}
    data_dir = os.path.join(work, "data")
    t0 = time.perf_counter()
    tables = datagen.generate(seed, QUERY_SF)
    datagen.write_tables(tables, data_dir)
    timings["data_s"] = time.perf_counter() - t0

    specs = plans.all_queries()
    ops = []
    for name in fixed_heads(specs, workload):
        spec = specs[name]
        ops.append(
            Op(name, lambda fn=spec.fn: fn(spark, data_dir), spec.oracle, None, "plans")
        )
    t0 = time.perf_counter()
    if workload == "warehouse_queries":
        readers = fixed_readers()
        stores = _land_stores(spark, {READERS[r][0] for r in readers}, work, tables)
        for r in readers:
            store, twin = READERS[r]
            fn = getattr(jobs, r)
            ops.append(
                Op(r, lambda fn=fn, p=stores[store]: fn(spark, p), None, twin, "store")
            )
    timings["stores_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    _warm_up(spark, data_dir)
    timings["warmup_s"] = time.perf_counter() - t0

    by_name = {op.name: op for op in ops}
    ordered = [by_name[n] for n in run_order(list(by_name), seed)]
    return ordered, timings, {"data_dir": data_dir, "specs": specs}


def _run_once(spark, op: Op, group: str, cold: bool) -> dict:
    """Build ``op`` and write it to the noop sink under job group ``group``."""
    spark.sparkContext.setJobGroup(group, op.name)
    wall0 = time.time()
    t0 = t1 = time.perf_counter()
    ok = True
    try:
        df = op.build()
        t1 = time.perf_counter()
        action_wall = time.time()
        df.write.format("noop").mode("overwrite").save()
    except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
        ok = False
        action_wall = time.time()
        print(f"perfbench: {op.name} failed: {exc!r}"[:400], flush=True)
    t2 = time.perf_counter()
    return {
        "group": group,
        "name": op.name,
        "layer": op.layer,
        "cold": cold,
        "ok": ok,
        "construct_s": t1 - t0,
        "total_s": t2 - t0,
        "start_wall": wall0,
        "action_wall": action_wall,
    }


def measure(spark, ops: list[Op], seconds: float) -> list[dict]:
    """One cold pass over ``ops`` and one untimed warm-up pass (the JIT is
    still compiling the hot paths), then warm rounds (every op once per
    round, same order) until ``seconds`` have passed; the round under way
    then finishes, so every op has the same number of warm runs. Every
    run gets its own job group so the event log attributes it."""
    runs = [_run_once(spark, op, f"perfbench-op-{i}", True) for i, op in enumerate(ops)]
    for op in ops:
        _run_once(spark, op, "perfbench-warmup", False)
    end = time.perf_counter() + seconds
    while time.perf_counter() < end:
        for op in ops:
            runs.append(_run_once(spark, op, f"perfbench-op-{len(runs)}", False))
    spark.sparkContext.setJobGroup("perfbench-check", "output checks")
    return runs


def _hash_rows(df) -> tuple[list[str], str]:
    from tests.oracle_harness import spark_rows

    cols, rows = spark_rows(df)
    return cols, hashlib.sha256(repr(rows).encode()).hexdigest()


def check(spark, ops: list[Op], ctx: dict) -> dict[str, str]:
    """Output checks, run after the timed window. Returns name -> error
    for every op whose output is wrong (empty when all pass)."""
    import duckdb
    from tests.oracle_harness import duck_rows

    con = duckdb.connect()
    for t in datagen.TABLES:
        path = os.path.join(ctx["data_dir"], f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    bad = {}

    def check_one(op: Op) -> None:
        try:
            cols, got = _hash_rows(op.build())
            if op.oracle is not None:
                d_cols, d_rows = duck_rows(con.cursor(), op.oracle)
                want = hashlib.sha256(repr(d_rows).encode()).hexdigest()
                if (cols, got) != (d_cols, want):
                    bad[op.name] = "differs from the DuckDB oracle"
            elif op.twin is not None:
                twin = ctx["specs"][op.twin].fn(spark, ctx["data_dir"])
                if (cols, got) != _hash_rows(twin):
                    bad[op.name] = f"differs from batch twin {op.twin}"
            elif (cols, got) != _hash_rows(op.build()):
                bad[op.name] = "hash differs between repetitions"
        except Exception as exc:  # noqa: BLE001
            bad[op.name] = f"raised {exc!r}"[:300]

    # independent ops: check them side by side to keep the untimed phase short
    with ThreadPoolExecutor(max_workers=4) as pool:
        list(pool.map(check_one, ops))
    con.close()
    return bad
