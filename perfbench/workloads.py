"""The three workloads. Each takes a ``run.Context``, drives the program
through its public functions, counts attempted and failed operations
on the context and returns its metrics by name (README.md)."""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import checks
import datagen
from metrics import MIX, MODULES, SUBJECTS
from tracing import median, now

SETUP_REPS = 3  # set-ups per run; setup_s is their median
# The star schema is the same in every run, as the harness tables are:
# the seed draws what callers ask of it (request parameters, pass
# order). Seed-drawn tables moved a pass over the analytics mix by
# 20 % between seeds, more than any bound could absorb.
TABLES_SEED = 42

# -- serve -----------------------------------------------------------------

SERVE_SF = 0.01
SERVE_RATE = 5.0  # requests/s offered, well below what 4 closed-loop callers reach
TAIL_BEYOND = 10  # tail = the slowest latency with 10 samples beyond it
# untimed requests before the window: request latency falls by about
# a third over the first 60 requests while the JIT compiles the
# driver-side request paths, then by a few per cent more
WARMUP_REQUESTS = 60


def _subject_call(spark, data: str, subject: str, p: tuple):
    """The serving façade call for one request (a lazy DataFrame)."""
    from server_spark import api

    if subject == "auctions_page":
        items, sort_kind, page = p
        return api.query_auctions(spark, data, api.AuctionsRequest(
            item_filters=items, sort_kind=sort_kind, page=page, count=25))
    if subject == "auctions_cursor":
        items, buyout, owner = p
        return api.query_auctions(spark, data, api.AuctionsRequest(
            item_filters=items, sort_kind="buyout", count=25,
            after={"buyout": buyout, "item": 0, "owner": owner,
                   "quantity": 25.0, "time_left": "N"}))
    if subject == "price_list":
        return api.price_list(spark, data, p[0])
    if subject == "price_history_slice":
        return api.price_list_history(spark, data, *p)
    if subject == "owners_query":
        return api.owners_query(spark, data, p[0], limit=10)
    if subject == "items_query":
        return api.items_query(spark, data, p[0], limit=10)
    if subject == "realm_status":
        return api.realm_status(spark, data, p[0])
    if subject == "token_history":
        return api.token_history(spark, data, p[0])
    if subject == "unmet_demand":
        return api.unmet_demand_list(spark, data, owner_cap=p[0], limit=100)
    raise KeyError(subject)


def _cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / (1024 * 1024)


def check_replies(ctx, data: str, schedule, replies) -> None:
    """Count every request as attempted and every error or reply that
    differs from the DuckDB twin as failed. ``replies``: one (rows,
    error) pair per scheduled request."""
    ctx.attempted += len(schedule)
    twin = checks.ServeTwin(data)
    try:
        for req, (rows, err) in zip(schedule, replies):
            if err is not None:
                ctx.fail(1, err)
            elif twin.check(req.subject, req.params, rows) is False:
                ctx.fail(1, f"{req.subject}{req.params}: reply differs from twin")
    finally:
        twin.close()


def serve(ctx) -> dict:
    from server_spark import serving_gate

    tr = ctx.tracer
    data = str(ctx.work / "data")
    sizes = datagen.write_tables(data, TABLES_SEED, SERVE_SF)
    schedule = datagen.serve_schedule(ctx.seed, SERVE_RATE, ctx.seconds, sizes)
    warmup = datagen.serve_schedule(ctx.seed + 7919, WARMUP_REQUESTS, 1.0, sizes)

    t = now()
    with tr.span("session.get_spark"):
        ctx.start_spark()
    cold_spark = now() - t

    def warm():
        with tr.span("serving_gate.warm_cache"):
            serving_gate.warm_cache(ctx.spark, data)

    t = now()
    warm()
    cold_op = now() - t
    reps = ctx.repeat_setup(SETUP_REPS, warm)
    spark = ctx.spark
    cached_mb = _cached_mb(spark)
    with ThreadPoolExecutor(max_workers=ctx.cpus) as pool:  # untimed
        list(pool.map(lambda r: _subject_call(spark, data, r.subject, r.params).collect(),
                      warmup))

    def handle(k, req, due):
        start = now()
        try:
            rows = tr.call(
                spark, f"api.{req.subject}", f"req-{k}",
                lambda: _subject_call(spark, data, req.subject, req.params),
                lambda df: df.collect())
            err = None
        except Exception as ex:  # noqa: BLE001 - a failed reply is counted
            rows, err = None, f"{req.subject}{req.params}: {ex!r}"[:300]
        return start - due, now() - due, rows, err

    late, futures = [], []
    with ctx.rss.window(), ThreadPoolExecutor(max_workers=ctx.cpus) as pool:
        t0 = now() + 0.05
        for k, req in enumerate(schedule):
            due = t0 + req.due
            wait = due - now()
            if wait > 0:
                time.sleep(wait)
            late.append(max(0.0, now() - due))
            futures.append(pool.submit(handle, k, req, due))
        results = [f.result() for f in futures]
    wall = now() - t0

    check_replies(ctx, data, schedule, [(rows, err) for _, _, rows, err in results])

    lat = sorted(r[1] for r in results)
    out = {
        "setup_s": median(reps),
        "p50_ms": 1000 * median(lat),
        "tail_ms": 1000 * lat[max(0, len(lat) - TAIL_BEYOND - 1)],
        "throughput_per_s": sum(r[3] is None for r in results) / wall,
        "session.get_spark_s": cold_spark,
        "session.cold_op_s": cold_op,
        "serving_gate.warm_cache_s": tr.median("serving_gate.warm_cache"),
        "serving_gate.cached_mb": cached_mb,
        "api.queue_ms": 1000 * median([r[0] for r in results]),
        "bench.late_ms": 1000 * max(late),
        "_wall_s": wall,
    }
    by_subject = defaultdict(list)
    for k, req in enumerate(schedule):
        by_subject[req.subject].append(f"req-{k}")
    for s in SUBJECTS:
        for part in ("build", "plan", "exec"):
            out[f"api.{s}.{part}_ms"] = tr.median(f"api.{s}.{part}", 1000)
        out[f"api.{s}.jobs"] = tr.work_median(by_subject[s], "jobs")
        out[f"api.{s}.tasks"] = tr.work_median(by_subject[s], "tasks")
    return out


# -- ingest ----------------------------------------------------------------

INGEST_REALMS = 1  # per region, two regions
INGEST_AUCTIONS = 2000  # per dump
PER_DAY = 3  # snapshots per simulated day
# whole simulated days per run, fixed so that a faster or slower
# program runs the same cycles: one day (3 cycles and a compaction)
# takes 20 s to 35 s on 4 vCPUs, longer than the 12 s window
DAYS = 1
STEPS = ("ingest_bronze", "redeliver", "silver", "gold_prices", "churn")
TABLES = {
    os.path.join("bronze", ""): "bronze",
    os.path.join("silver", ""): "silver",
    os.path.join("gold", "price_history", ""): "gold",
    os.path.join("gold", "churn_incr", ""): "churn",
    os.path.join("manifest", ""): "manifest",
}


def _inventory(root: str) -> dict:
    """{path: (size, mtime_ns, inode)} of every file under ``root``."""
    inv = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            inv[p] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return inv


def _written(root: str, before: dict, after: dict, into: dict) -> int:
    """Add the bytes and files written between two inventories to
    ``into`` per table; return the bytes."""
    total = 0
    for p, meta in after.items():
        if before.get(p) == meta:
            continue
        rel = os.path.relpath(p, root)
        table = next((t for pre, t in TABLES.items() if rel.startswith(pre)), "other")
        into[f"maintenance.{table}.bytes_written"] += meta[0]
        into[f"maintenance.{table}.files_written"] += 1
        total += meta[0]
    return total


def _read_dumps(spark, dumps):
    from server_spark.sources.json_dump import read_auction_dump

    frames = [
        read_auction_dump(spark, [d.path for d in dumps if d.region == region],
                          region, dumps[0].dump_ts)
        for region in sorted({d.region for d in dumps})
    ]
    raw = frames[0]
    for f in frames[1:]:
        raw = raw.unionByName(f)
    return raw


def ingest(ctx) -> dict:
    from pyspark.sql import functions as F

    from server_spark.plans import maintenance as mt
    from server_spark.plans import medallion as md

    tr = ctx.tracer
    stream = datagen.DumpStream(str(ctx.work / "dumps"), ctx.seed,
                                realms_per_region=INGEST_REALMS,
                                auctions=INGEST_AUCTIONS, per_day=PER_DAY)
    pick = np.random.Generator(np.random.PCG64(ctx.seed + 1))

    t = now()
    with tr.span("session.get_spark"):
        ctx.start_spark()
    cold_spark = now() - t
    reps = ctx.repeat_setup(SETUP_REPS)
    spark = ctx.spark
    root = str(ctx.work / "lake")
    paths = md.MedallionPaths(root)

    written = defaultdict(float)
    landed, cycle_s, compact_s, n_parts, skipped = [], [], [], [], 0
    fed_bytes = lake_bytes = compact_bytes = 0
    rewrite = []
    version, prev = 0, None

    def cycle(c: int) -> None:
        nonlocal fed_bytes, lake_bytes, skipped, version, prev
        dumps = stream.cycle(c)  # the dumps land
        redeliver = (prev or dumps)[int(pick.integers(0, len(dumps)))]
        fed_bytes += sum(d.n_bytes for d in dumps) + redeliver.n_bytes
        before = _inventory(root)
        t = now()
        with tr.span("ingest.cycle", op=f"cycle-{c}"):
            with tr.span("medallion.read_dump"):
                raw = _read_dumps(spark, dumps)
            with tr.job_group(spark, f"c{c}-ingest_bronze"), \
                    tr.span("medallion.ingest_bronze"):
                md.ingest_bronze_incremental(spark, raw, paths)
            with tr.job_group(spark, f"c{c}-redeliver"), \
                    tr.span("medallion.redeliver"):
                again = md.ingest_bronze_incremental(
                    spark, _read_dumps(spark, [redeliver]), paths)
            with tr.job_group(spark, f"c{c}-silver"), tr.span("medallion.silver"):
                n_parts.append(md.build_silver_incremental(spark, paths, version))
            with tr.job_group(spark, f"c{c}-gold_prices"), \
                    tr.span("medallion.gold_prices"):
                md.build_gold_prices_incremental(spark, paths, version)
            with tr.job_group(spark, f"c{c}-churn"), tr.span("maintenance.churn"):
                mt.refresh_churn_gold(spark, paths)
        cycle_s.append(now() - t)
        # bookkeeping outside the cycle timer
        lake_bytes += _written(root, before, _inventory(root), written)
        skipped += again == 0
        landed.extend(dumps)
        prev = dumps
        version = md.manifest_versions(spark, paths)[-1]
        if tr.enabled:
            silver = spark.read.parquet(paths.silver).filter(
                F.col("dump_date") == F.to_date(F.lit(dumps[0].dump_ts)))
            new_rows = silver.filter(
                F.col("dump_ts") == F.lit(dumps[0].dump_ts).cast("timestamp"))
            rewrite.append(silver.count() / max(new_rows.count(), 1))

    def compact(day: int) -> None:
        """Day rollover: compact the finished day's bronze partitions."""
        nonlocal lake_bytes, compact_bytes
        before = _inventory(root)
        t = now()
        with tr.job_group(spark, f"d{day}-compact"), tr.span("maintenance.compact"):
            mt.compact_partitions(spark, paths.bronze, min_files=2)
        compact_s.append(now() - t)
        rewritten = _written(root, before, _inventory(root), written)
        compact_bytes += rewritten
        lake_bytes += rewritten

    t_start = now()
    cycle(0)  # in a fresh JVM; reported apart and kept out of the memory window
    with ctx.rss.window():
        for c in range(1, DAYS * PER_DAY):
            cycle(c)
            if (c + 1) % PER_DAY == 0:
                compact(c // PER_DAY)
    wall = now() - t_start

    # checks, outside the window
    n_cycles = len(cycle_s)
    ctx.attempted += n_cycles + len(compact_s)
    fmt = "%Y-%m-%d %H:%M:%S"
    manifest = [(r.region, r.realm_slug, r.dump_ts.strftime(fmt)) for r in
                md.load_manifest(spark, paths).select(
                    "region", "realm_slug", "dump_ts").collect()]
    churn = {(r.region, r.realm_slug, r.dump_ts.strftime(fmt)):
             (r.n_new, r.n_removed, r.n_persisting)
             for r in mt.read_churn_gold(spark, paths).collect()}
    gold = spark.read.parquet(paths.gold_prices)
    problems = checks.ingest_failures(
        landed, spark.read.parquet(paths.bronze).count(), manifest, churn,
        gold.count(),
        gold.select("region", "realm_slug", "dump_ts", "item").distinct().count())
    if skipped != n_cycles:
        problems.append(f"{n_cycles - skipped} re-delivered dumps were taken in again")
    for p in problems[: ctx.attempted]:
        ctx.fail(1, p)

    # the first cycle runs in a fresh JVM; it is reported apart
    warm_rows = sum(len(d.aucs) for d in landed[len(landed) // n_cycles:])
    groups = lambda step: [f"c{c}-{step}" for c in range(n_cycles)]  # noqa: E731
    out = {
        "setup_s": median(reps),
        "p50_ms": 1000 * median(cycle_s[1:]),
        "tail_ms": 1000 * max(cycle_s[1:]),
        "throughput_per_s": warm_rows / (sum(cycle_s[1:]) + sum(compact_s)),
        "session.get_spark_s": cold_spark,
        "session.cold_op_s": cycle_s[0],
        "medallion.read_dump_s": tr.median("medallion.read_dump"),
        "medallion.ingest_bronze_s": tr.median("medallion.ingest_bronze"),
        "medallion.redeliver_s": tr.median("medallion.redeliver"),
        "medallion.silver_s": tr.median("medallion.silver"),
        "medallion.gold_prices_s": tr.median("medallion.gold_prices"),
        "maintenance.churn_s": tr.median("maintenance.churn"),
        "maintenance.compact_s": median(compact_s),
        "maintenance.compact_bytes_rewritten": compact_bytes,
        "medallion.partitions_refreshed": median(n_parts),
        "medallion.skip_ratio": skipped / n_cycles,
        "medallion.silver_rewrite_ratio": statistics.fmean(rewrite) if rewrite else 0.0,
        "medallion.cycle_remainder_s": median(
            [tr.self_time(i) for i, s in enumerate(tr.spans) if s.name == "ingest.cycle"]),
        "medallion.cycle_tasks": median(
            [sum(tr.work[f"c{c}-{s}"].tasks for s in STEPS if f"c{c}-{s}" in tr.work)
             for c in range(n_cycles)]) if tr.enabled else 0.0,
        "ingest.write_amp": lake_bytes / fed_bytes,
        "_wall_s": wall,
        **written,
    }
    for step in STEPS:
        out[f"medallion.{step}.jobs"] = tr.work_median(groups(step), "jobs")
    return out


# -- analytics -------------------------------------------------------------

ANALYTICS_SF = 0.005
# a warm pass runs untimed after the cold pass: at this size a pass is
# mostly driver-side planning, which gets faster over the first passes
# as the JIT compiles it
WARMUP_PASSES = 1
# timed passes per run, fixed so that a faster or slower program runs
# the same passes: about 14 s on 4 vCPUs, longer than the 12 s window.
# The tail is the second-slowest pass, so one stall on a shared host
# does not set it.
PASSES = 5


def _fold(df):
    """Materialize every column of ``df`` into one row: (rows, xor of
    the per-row xxhash64), as bench.py does."""
    from pyspark.sql import functions as F

    return df.select(F.xxhash64(*df.columns).alias("_h")).agg(
        F.count("_h"), F.expr("bit_xor(_h)"))


def analytics(ctx) -> dict:
    from server_spark import parity_check

    tr = ctx.tracer
    data = str(ctx.work / "data")
    datagen.write_tables(data, TABLES_SEED, ANALYTICS_SF)
    rng = np.random.Generator(np.random.PCG64(ctx.seed))

    t = now()
    with tr.span("session.get_spark"):
        ctx.start_spark()
    cold_spark = now() - t
    t = now()
    from server_spark import registry

    queries = registry.queries()
    t_registry = now() - t
    reps = ctx.repeat_setup(SETUP_REPS)
    spark = ctx.spark

    digests = defaultdict(set)
    times = defaultdict(list)  # per query: [cold, warm...]

    def run_query(name: str, op: str) -> float:
        t = now()
        res = tr.call(spark, name, op, lambda: _fold(queries[name](spark, data)),
                      lambda df: tuple(df.collect()[0]))
        d = now() - t
        spark.catalog.clearCache()
        digests[name].add(res)
        times[name].append(d)
        return d

    t0 = now()
    cold = sum(run_query(q, f"cold-{q}") for q in MIX)
    for p in range(WARMUP_PASSES):  # the JIT is still compiling; untimed
        for q in rng.permutation(list(MIX)):
            run_query(q, f"u{p}-{q}")
    passes = []
    with ctx.rss.window():
        for p in range(PASSES):
            order = list(rng.permutation(list(MIX)))
            passes.append(sum(run_query(q, f"w{p}-{q}") for q in order))
    wall = now() - t0

    # checks, outside the window
    # every run of a query counts as failed when its digests disagree
    # or its result differs from the DuckDB oracle
    ctx.attempted += sum(len(ts) for ts in times.values())
    bad = {q: f"digest differs between passes {sorted(ds)}"
           for q, ds in digests.items() if len(ds) != 1}
    _, _, failed = parity_check.run_parity(spark, data, only=set(MIX), verbose=False)
    bad.update((q, f"parity {why[:200]}") for q, why in failed)
    for q, why in bad.items():
        ctx.fail(len(times[q]), f"{q}: {why}")

    warm = {q: median(ts[1 + WARMUP_PASSES:]) for q, ts in times.items()}
    out = {
        "setup_s": t_registry + median(reps),
        "p50_ms": 1000 * median(passes),
        "tail_ms": 1000 * sorted(passes)[-2],
        "throughput_per_s": len(MIX) * len(passes) / sum(passes),
        "session.get_spark_s": cold_spark,
        "session.cold_op_s": cold,
        "_wall_s": wall,
    }
    for q in MIX:
        warm_ops = [f"w{p}-{q}" for p in range(PASSES)]
        out[f"{q}.plan_ms"] = 1000 * median(
            [s.dur for s in tr.spans if s.name == f"{q}.plan" and s.op in warm_ops])
        out[f"{q}.exec_s"] = median(
            [s.dur for s in tr.spans if s.name == f"{q}.exec" and s.op in warm_ops])
        out[f"{q}.jobs"] = tr.work_median(warm_ops, "jobs")
        out[f"{q}.tasks"] = tr.work_median(warm_ops, "tasks")
    for mod in MODULES:
        qs = [q for q, m in MIX.items() if m == mod]
        out[f"queries.{mod}.s"] = sum(warm[q] for q in qs)
        out[f"queries.{mod}.cold_minus_warm_s"] = sum(times[q][0] - warm[q] for q in qs)
    return out


RUNNERS = {"serve": serve, "ingest": ingest, "analytics": analytics}
