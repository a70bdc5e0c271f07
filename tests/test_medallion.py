"""End-to-end medallion pipeline test: synthetic realm dumps →
bronze → silver → gold (prices + churn) → retention prune."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from server_spark.plans import medallion as med
from server_spark.schemas import AUCTION


def _dumps(spark):
    """Two realms × two snapshots; realm r1 has overlapping auc sets
    across snapshots (churn), realm r2 one snapshot only."""
    t0 = dt.datetime(2024, 1, 1, 10)
    t1 = dt.datetime(2024, 1, 1, 11)
    rows = [
        # auc, item, owner, realm, bid, buyout, qty, tl, region, slug, ts
        (1, 100, "a", "r1", 9, 100, 1, "LONG", "eu", "r1", t0),
        (2, 100, "a", "r1", 9, 100, 1, "LONG", "eu", "r1", t0),
        (3, 200, "b", "r1", 9, 600, 2, "LONG", "eu", "r1", t0),
        # snapshot t1: auc 1 persists, 2/3 removed, 4 new
        (1, 100, "a", "r1", 9, 100, 1, "LONG", "eu", "r1", t1),
        (4, 200, "b", "r1", 9, 900, 3, "LONG", "eu", "r1", t1),
        # other realm
        (10, 100, "c", "r2", 9, 500, 5, "SHORT", "us", "r2", t0),
        # zero-buyout excluded from gold stats
        (11, 300, "c", "r2", 9, 0, 1, "SHORT", "us", "r2", t0),
    ]
    return spark.createDataFrame(rows, AUCTION)


@pytest.fixture(scope="module")
def pipeline(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("medallion"))
    paths = med.run_all(spark, _dumps(spark), root)
    return paths


def test_bronze_partition_layout(spark, pipeline):
    bronze = spark.read.parquet(pipeline.bronze)
    assert bronze.count() == 7
    # partition columns survive and prune
    one = bronze.filter(
        (F.col("region") == "eu") & (F.col("realm_slug") == "r1")
    )
    assert one.count() == 5


def test_silver_collapse(spark, pipeline):
    silver = spark.read.parquet(pipeline.silver)
    key = silver.filter(
        (F.col("item") == 100)
        & (F.col("dump_ts") == dt.datetime(2024, 1, 1, 10))
        & (F.col("region") == "eu")
    ).collect()
    assert len(key) == 1 and key[0]["auc_list"] == [1, 2] and key[0]["auc_count"] == 2


def test_gold_prices(spark, pipeline):
    gold = spark.read.parquet(pipeline.gold_prices)
    r2 = {r["item"]: r for r in gold.filter(F.col("realm_slug") == "r2").collect()}
    assert set(r2) == {100}  # zero-buyout item 300 excluded
    assert r2[100]["volume"] == 5
    assert r2[100]["median_buyout_per"] == 100.0


def test_gold_churn(spark, pipeline):
    churn = spark.read.parquet(pipeline.gold_churn)
    rows = churn.collect()
    # only realm r1 has a consecutive snapshot pair
    assert len(rows) == 1
    r = rows[0]
    assert (r["n_new"], r["n_removed"], r["n_persisting"]) == (1, 2, 1)


def test_idempotent_rerun(spark, pipeline):
    """Re-running silver must not duplicate data (dynamic partition
    overwrite replaces, never appends)."""
    before = spark.read.parquet(pipeline.silver).count()
    med.build_silver(spark, pipeline)
    after = spark.read.parquet(pipeline.silver).count()
    assert before == after


def test_retention_prune(spark, pipeline):
    before = spark.read.parquet(pipeline.gold_prices).count()
    med.prune_retention(spark, pipeline, "2024-01-01")  # keeps all
    pruned = spark.read.parquet(pipeline.gold_prices + "_pruned")
    assert pruned.count() == before
    # a future cutoff drops every partition (nothing left to write)
    gold = spark.read.parquet(pipeline.gold_prices)
    kept = gold.filter(F.col("dump_date") >= F.lit("2024-06-01").cast("date"))
    assert kept.count() == 0


def test_compaction_rewrites_fragmented_partitions(spark, tmp_path):
    """Many small appended files per partition collapse to a few
    target-sized files with identical data; already-compact partitions
    are untouched."""
    from pyspark.sql import functions as F

    from server_spark.plans.maintenance import (
        compact_partitions,
        partition_file_stats,
    )

    root = str(tmp_path / "frag")
    base = spark.range(2000).select(
        (F.col("id") % 2).alias("region"), F.col("id").alias("v")
    )
    # 10 appends × 3 files each → ~30 small files per partition
    for _ in range(10):
        base.repartition(3).write.mode("append").partitionBy("region").parquet(root)

    before = partition_file_stats(root)
    assert all(n >= 10 for n, _ in before.values())
    checksum = spark.read.parquet(root).agg(F.sum("v")).collect()[0][0]

    n = compact_partitions(spark, root, target_bytes=1 << 30, min_files=4)
    assert n == 2  # both region partitions rewritten
    after = partition_file_stats(root)
    assert all(n_files == 1 for n_files, _ in after.values())
    assert spark.read.parquet(root).agg(F.sum("v")).collect()[0][0] == checksum
    # idempotent: nothing left to compact
    assert compact_partitions(spark, root, target_bytes=1 << 30, min_files=4) == 0


def test_schema_evolution_new_dump_column(spark, tmp_path):
    """A later dump carrying a NEW column appends cleanly; the bronze
    scan surfaces the union schema (nulls for pre-existing files) and
    silver still builds."""
    root = str(tmp_path / "evo")
    paths = med.MedallionPaths(root)

    t0 = dt.datetime(2024, 2, 1, 10)
    old = spark.createDataFrame(
        [(1, 100, "a", "r1", 9, 100, 1, "LONG", "eu", "r1", t0)], AUCTION
    )
    assert med.ingest_bronze_incremental(spark, old, paths) == 1

    # the API grew a column (e.g. battle-pet breed id on pet auctions)
    t1 = dt.datetime(2024, 2, 1, 11)
    from pyspark.sql import types as T

    # copy — StructType.add mutates the shared schema in place
    evolved = T.StructType(
        [*AUCTION.fields, T.StructField("pet_breed_id", T.LongType())]
    )
    new = spark.createDataFrame(
        [(2, 100, "a", "r1", 9, 150, 1, "LONG", "eu", "r1", t1, 55)], evolved
    )
    assert med.ingest_bronze_incremental(spark, new, paths) == 1

    bronze = med.read_bronze(spark, paths)
    assert "pet_breed_id" in bronze.columns
    by_auc = {r["auc"]: r for r in bronze.collect()}
    assert by_auc[1]["pet_breed_id"] is None
    assert by_auc[2]["pet_breed_id"] == 55

    med.build_silver(spark, paths)
    silver = spark.read.parquet(paths.silver)
    assert silver.count() == 2


def test_compaction_heals_interrupted_swap(spark, tmp_path):
    """Crash recovery: stale dot-prefixed scratch dirs from an
    interrupted run are resolved on entry — a leftover tmp is
    discarded, a leftover old with no live partition is restored —
    and Spark never lists scratch contents as data. Holds for the
    plain root and its ``file:`` spelling alike (healing must walk
    the normalized path, or the orphaned partition stays hidden)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from server_spark.plans.maintenance import (
        _OLD_PREFIX,
        _TMP_PREFIX,
        compact_partitions,
    )

    for i, spelling in enumerate(("{}", "file:{}")):
        root = str(tmp_path / f"frag{i}")
        base = spark.range(1000).select(
            (F.col("id") % 2).alias("region"), F.col("id").alias("v")
        )
        for _ in range(5):
            base.repartition(2).write.mode("append").partitionBy(
                "region"
            ).parquet(root)
        checksum = spark.read.parquet(root).agg(F.sum("v")).collect()[0][0]

        part0 = os.path.join(root, "region=0")
        # crash point A: tmp written, swap not started → tmp must be
        # discarded; live partition untouched
        shutil.copytree(part0, os.path.join(root, _TMP_PREFIX + "region=0"))
        # crash point B: first rename done (partition moved to old),
        # second rename never happened → old must be restored
        part1 = os.path.join(root, "region=1")
        os.rename(part1, os.path.join(root, _OLD_PREFIX + "region=1"))

        # scratch dirs are invisible to the reader (dot-prefixed), so
        # the crashed state reads as "partition 1 missing", never as
        # dupes
        visible = spark.read.parquet(root).agg(F.sum("v")).collect()[0][0]
        assert visible < checksum

        compact_partitions(
            spark, spelling.format(root), target_bytes=1 << 30, min_files=4
        )
        assert not any(
            d.startswith((_TMP_PREFIX, _OLD_PREFIX)) for d in os.listdir(root)
        ), spelling
        total = spark.read.parquet(root).agg(F.sum("v")).collect()[0][0]
        assert total == checksum, spelling


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """Z-order vs linear sort on lineitem(l_orderkey, l_partkey) —
    two UNcorrelated keys (l_suppkey is partkey-correlated in TPC-H
    and would collapse the Z-space onto diagonals): the Z-layout must
    let footer-stats pruning skip files for a range predicate on
    EITHER dimension, while a linear sort only prunes its own sort
    column and reads every file for the other. Bounds reflect the
    honest Z tradeoff at 32 files (x split one level finer than y
    under bit interleaving, plus sampled range-boundary straddle)."""
    from server_spark.plans import layout

    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    n_files = 32
    zpath = str(tmp_path / "zorder")
    lpath = str(tmp_path / "linear")
    layout.write_zordered(li, zpath, "l_orderkey", "l_partkey", n_files)
    (
        li.repartitionByRange(n_files, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
        .write.parquet(lpath)
    )

    ze = layout.file_envelopes(zpath, "l_orderkey", "l_partkey")
    le = layout.file_envelopes(lpath, "l_orderkey", "l_partkey")
    assert len(ze) == n_files and len(le) == n_files

    # 10%-wide range predicate on each dimension separately
    xmax = max(e["x_max"] for e in ze)
    ymax = max(e["y_max"] for e in ze)
    x_rng = (0.45 * xmax, 0.55 * xmax)
    y_rng = (0.45 * ymax, 0.55 * ymax)

    # linear layout: near-perfect on its sort column, reads ALL files
    # for the other dimension
    assert layout.files_surviving(le, x_range=x_rng) <= 6
    assert layout.files_surviving(le, y_range=y_rng) == n_files
    # z-order: prunes on BOTH single dimensions. Measured 8-13 (x) and
    # 19-21 (y) of 32 across sessions — repartitionByRange samples its
    # boundaries, and the sample shifts with session parallelism, so
    # the bounds are structural margins, not exact counts: half the
    # files on the finer-split dimension, strictly-better-than-
    # read-everything on the coarser one.
    z_x = layout.files_surviving(ze, x_range=x_rng)
    z_y = layout.files_surviving(ze, y_range=y_rng)
    assert z_x <= n_files // 2, z_x
    assert z_y <= n_files - 6, z_y
    # and the conjunction prunes hardest (measured 5-7 of 32)
    z_both = layout.files_surviving(ze, x_range=x_rng, y_range=y_rng)
    assert z_both <= min(z_x, z_y) and z_both <= 12, z_both
    # layout must not change the data
    assert spark.read.parquet(zpath).count() == li.count()


def test_bronze_time_travel_asof(spark, tmp_path):
    """Manifest batch versioning: each incremental ingest commits one
    batch_id; read_bronze_asof(v) reproduces the exact table state
    after batch v, re-delivery doesn't mint a version, and new
    versions never change an old snapshot."""
    import datetime as dt

    from server_spark.plans import medallion as med

    paths = med.MedallionPaths(str(tmp_path / "lake"))
    t0 = dt.datetime(2024, 1, 1, 10, 0)

    def dump(ts, aucs):
        return spark.createDataFrame(
            [("eu", "r1", ts, a, 100, 500, 1) for a in aucs],
            "region string, realm_slug string, dump_ts timestamp, "
            "auc long, item long, buyout long, quantity long",
        )

    d1 = dump(t0, [1, 2])
    d2 = dump(t0 + dt.timedelta(hours=1), [3])
    assert med.ingest_bronze_incremental(spark, d1, paths) == 1
    assert med.ingest_bronze_incremental(spark, d1, paths) == 0  # redelivery
    assert med.ingest_bronze_incremental(spark, d2, paths) == 1
    assert med.manifest_versions(spark, paths) == [1, 2]

    v1 = med.read_bronze_asof(spark, paths, 1)
    v2 = med.read_bronze_asof(spark, paths, 2)
    assert sorted(r["auc"] for r in v1.collect()) == [1, 2]
    assert sorted(r["auc"] for r in v2.collect()) == [1, 2, 3]
    # current read == latest version
    assert med.read_bronze(spark, paths).count() == v2.count()


def test_incremental_view_maintenance(spark, tmp_path):
    """Manifest-scoped refresh: after a second batch lands on a NEW
    date, incremental silver+gold rebuild ONLY the affected partition
    — untouched partitions keep their exact files — and the result
    equals a full rebuild."""
    import datetime as dt
    import os

    from server_spark.plans import medallion as med

    paths = med.MedallionPaths(str(tmp_path / "lake"))

    def dump(ts, aucs, buyout=100):
        return spark.createDataFrame(
            [
                (a, 100, "o", "r1", 9, buyout, 1, "LONG", "eu", "r1", ts)
                for a in aucs
            ],
            AUCTION,
        )

    t1 = dt.datetime(2024, 1, 1, 10)
    t2 = dt.datetime(2024, 1, 2, 10)
    assert med.ingest_bronze_incremental(spark, dump(t1, [1, 2]), paths) == 1
    med.build_silver(spark, paths)
    med.build_gold_prices(spark, paths)

    def part_files(root, date):
        d = os.path.join(
            root, "region=eu", "realm_slug=r1", f"dump_date={date}"
        )
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    day1_silver = part_files(paths.silver, "2024-01-01")
    day1_gold = part_files(paths.gold_prices, "2024-01-01")

    # batch 2 lands on a new date; refresh since version 1
    assert med.ingest_bronze_incremental(spark, dump(t2, [3], 250), paths) == 1
    assert med.build_silver_incremental(spark, paths, since_version=1) == 1
    assert med.build_gold_prices_incremental(spark, paths, since_version=1) == 1

    # day-1 partitions: byte-for-byte the same files
    assert part_files(paths.silver, "2024-01-01") == day1_silver
    assert part_files(paths.gold_prices, "2024-01-01") == day1_gold

    # and the incremental result equals a full rebuild
    inc_gold = {
        (r["dump_date"], r["item"]): r["median_buyout_per"]
        for r in spark.read.parquet(paths.gold_prices).collect()
    }
    med.build_silver(spark, paths)
    med.build_gold_prices(spark, paths)
    full_gold = {
        (r["dump_date"], r["item"]): r["median_buyout_per"]
        for r in spark.read.parquet(paths.gold_prices).collect()
    }
    assert inc_gold == full_gold
    assert len(inc_gold) == 2

    # nothing new → no-op
    assert med.build_silver_incremental(spark, paths, since_version=2) == 0


def test_streaming_intake_feeds_incremental_maintenance(spark, tmp_path):
    """The continuous-medallion loop end to end: files land → the
    streaming manifest-gated intake commits them as manifest versions
    → incremental silver/gold refresh exactly the affected partitions
    → the result equals a full batch rebuild. This is the composed
    contract of T1 intake + the manifest commit log + incremental
    view maintenance."""
    import datetime as dt
    import os

    from server_spark.plans import medallion as med
    from server_spark.streaming import pipeline as sp_mod

    input_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    paths = med.MedallionPaths(str(tmp_path / "lake"))
    os.makedirs(input_dir, exist_ok=True)

    def land(name, ts, rows):
        data = [
            (auc, item, "o", "r1", 9, buyout, qty, "LONG", "eu", "r1", ts)
            for auc, item, buyout, qty in rows
        ]
        spark.createDataFrame(data, AUCTION).coalesce(1).write.mode(
            "append"
        ).parquet(input_dir)

    t1 = dt.datetime(2024, 1, 1, 10)
    land("d0", t1, [(1, 100, 100, 1), (2, 100, 300, 1)])
    sp_mod.stream_ingest_with_manifest(
        spark, input_dir, paths, ckpt
    ).awaitTermination()
    assert med.manifest_versions(spark, paths) == [1]
    med.build_silver(spark, paths)
    med.build_gold_prices(spark, paths)

    # day 2 lands through the SAME stream; refresh incrementally
    t2 = dt.datetime(2024, 1, 2, 10)
    land("d1", t2, [(3, 100, 500, 1)])
    sp_mod.stream_ingest_with_manifest(
        spark, input_dir, paths, ckpt
    ).awaitTermination()
    assert med.manifest_versions(spark, paths) == [1, 2]
    assert med.build_silver_incremental(spark, paths, since_version=1) == 1
    assert med.build_gold_prices_incremental(spark, paths, since_version=1) == 1

    inc = {
        (r["dump_date"], r["item"]): (r["volume"], r["median_buyout_per"])
        for r in spark.read.parquet(paths.gold_prices).collect()
    }
    med.build_silver(spark, paths)
    med.build_gold_prices(spark, paths)
    full = {
        (r["dump_date"], r["item"]): (r["volume"], r["median_buyout_per"])
        for r in spark.read.parquet(paths.gold_prices).collect()
    }
    assert inc == full and len(inc) == 2

    # ... and the OTHER incremental golds fold off the same commit
    # log: churn (consecutive snapshot pairs), distinct-owner HLL
    # sketches, and the mergeable price histogram — the full
    # continuous-lake surface from one streamed intake.
    from server_spark.plans import maintenance as mt

    assert mt.refresh_churn_gold(spark, paths) == 1  # pair (t2, t1)
    churn = {
        (r["region"], r["realm_slug"], r["dump_ts"]):
            (r["n_new"], r["n_removed"], r["n_persisting"])
        for r in mt.read_churn_gold(spark, paths).collect()
    }
    assert churn == {("eu", "r1", t2): (1, 2, 0)}  # 3 new; 1,2 gone
    assert mt.refresh_owner_sketch_gold(spark, paths) == 2
    owners = {
        (r["region"], r["realm_slug"]): r["distinct_est"]
        for r in mt.read_owner_sketch_gold(spark, paths).collect()
    }
    assert owners == {("eu", "r1"): 1}  # single owner "o"
    assert mt.refresh_price_hist_gold(spark, paths) == 2
    medians = {
        r["item"]: r["p50_est"]
        for r in mt.read_price_median_gold(spark, paths).collect()
    }
    assert set(medians) == {100}
    assert abs(medians[100] - 300.0) / 300.0 < 0.06  # exact median 300
    # all three are idempotent no-ops once current
    assert mt.refresh_churn_gold(spark, paths) == 0
    assert mt.refresh_owner_sketch_gold(spark, paths) == 0
    assert mt.refresh_price_hist_gold(spark, paths) == 0


def test_additive_gold_watermark_commits_atomically_with_data(spark, tmp_path):
    """r11 review finding: additive golds (histogram counts) wrote the
    watermark sidecar AFTER the data swap, so a crash between the two
    double-folded the batch on the next refresh. The watermark now
    rides INSIDE the swapped table dir: (1) it must exist there and
    survive the aside-crash heal with no double-count; (2) a standing
    table whose watermark is unreadable must raise, not refold."""
    import datetime as dt
    import json
    import os
    import shutil

    import pytest as _pytest

    from server_spark.plans import maintenance as mt
    from server_spark.plans import medallion as med

    def dump(ts, prices):
        return spark.createDataFrame(
            [("eu", "r1", ts, i, 100, p, 1, "o")
             for i, p in enumerate(prices)],
            "region string, realm_slug string, dump_ts timestamp, "
            "auc long, item long, buyout long, quantity long, owner string",
        )

    t0 = dt.datetime(2024, 1, 1, 10)
    paths = med.MedallionPaths(str(tmp_path / "lake"))
    med.ingest_bronze_incremental(spark, dump(t0, [100, 300, 500]), paths)
    assert mt.refresh_price_hist_gold(spark, paths) == 1
    data_dir = os.path.join(paths.root, "gold", "price_hist", "hist")
    wm_file = os.path.join(data_dir, "_watermark")
    assert json.load(open(wm_file))["batch_id"] == 1

    def counts():
        return {
            tuple(r)[:4]: r["cnt"]
            for r in spark.read.parquet(data_dir).collect()
        }

    base = counts()
    # crash between the swap renames: standing table (with its
    # watermark inside) sits at .old only; heal must restore BOTH, so
    # the next refresh folds ONLY the new batch — no double-count
    os.rename(data_dir, data_dir + ".old")
    t1 = t0 + dt.timedelta(hours=1)
    med.ingest_bronze_incremental(spark, dump(t1, [700]), paths)
    assert mt.refresh_price_hist_gold(spark, paths) == 1
    after = counts()
    assert sum(after.values()) == sum(base.values()) + 1  # exactly one new row
    # re-running is a no-op (watermark advanced atomically with data)
    assert mt.refresh_price_hist_gold(spark, paths) == 0
    assert counts() == after

    # unreadable watermark on an existing table: refuse to fold
    os.remove(wm_file)
    t2 = t0 + dt.timedelta(hours=2)
    med.ingest_bronze_incremental(spark, dump(t2, [900]), paths)
    with _pytest.raises(RuntimeError, match="unknown epoch"):
        mt.refresh_price_hist_gold(spark, paths)
    shutil.rmtree(paths.root)


def test_crash_between_bronze_and_manifest_is_recoverable(spark, tmp_path):
    """Regression (r5 advice): bronze is appended before the manifest
    commit. Simulate a crash in that window — bronze holds a dump's
    rows but the manifest never recorded it — then retry the ingest.
    The retry must NOT double the bronze rows, and must complete the
    interrupted commit (manifest gains the key)."""
    import datetime as dt

    from server_spark.plans import medallion as med

    paths = med.MedallionPaths(str(tmp_path / "lake"))
    t0 = dt.datetime(2024, 1, 1, 10, 0)

    def dump(ts, aucs):
        return spark.createDataFrame(
            [("eu", "r1", ts, a, 100, 500, 1) for a in aucs],
            "region string, realm_slug string, dump_ts timestamp, "
            "auc long, item long, buyout long, quantity long",
        )

    d1 = dump(t0, [1, 2])
    # simulate the crash: bronze append happened, manifest write didn't
    (
        d1.withColumn("dump_date", F.to_date("dump_ts"))
        .write.mode("append")
        .partitionBy("region", "realm_slug", "dump_date")
        .parquet(paths.bronze)
    )
    assert med.load_manifest(spark, paths).count() == 0  # crash state

    # retry the same dump through the normal path
    assert med.ingest_bronze_incremental(spark, d1, paths) == 1
    bronze = spark.read.parquet(paths.bronze)
    assert bronze.count() == 2, "orphaned rows must not be re-appended"
    assert med.load_manifest(spark, paths).count() == 1

    # a THIRD delivery is now a plain redelivery: fully skipped
    assert med.ingest_bronze_incremental(spark, d1, paths) == 0
    assert spark.read.parquet(paths.bronze).count() == 2

    # and a genuinely new dump on the same date still lands once
    d2 = dump(t0 + dt.timedelta(hours=1), [3])
    assert med.ingest_bronze_incremental(spark, d2, paths) == 1
    assert spark.read.parquet(paths.bronze).count() == 3


def test_mergeable_distinct_sketches(spark, sf_dir):
    """HLL sketch maintenance invariants: (1) the merged estimate is
    within HLL error of the exact distinct count; (2) incremental
    merge over arbitrary batch splits produces EXACTLY the same
    estimate as a one-shot build (associativity — the property that
    makes the refresh correct regardless of batch order)."""
    from pyspark.sql import functions as F

    from server_spark.plans import maintenance as mt
    from server_spark.sources.synthetic import auctions

    live = auctions(spark, sf_dir).withColumn("day", F.to_date("dump_ts"))

    # one-shot build per tier
    full = {
        r["time_left"]: r["distinct_est"]
        for r in mt.estimate_distinct(
            mt.distinct_sketches(live, ["time_left"], "owner"),
            ["time_left"],
        ).collect()
    }
    exact = {
        r["time_left"]: r["n"]
        for r in live.groupBy("time_left")
        .agg(F.countDistinct("owner").alias("n"))
        .collect()
    }
    assert set(full) == set(exact)
    for k in exact:
        assert abs(full[k] - exact[k]) / exact[k] < 0.05, (k, full[k], exact[k])

    # incremental: split by day parity into two "refresh batches",
    # sketch each independently, merge — estimates must be identical
    a = live.filter(F.dayofmonth("day") % 2 == 0)
    b = live.filter(F.dayofmonth("day") % 2 == 1)
    merged = mt.merge_distinct_sketches(
        mt.distinct_sketches(a, ["time_left"], "owner"),
        mt.distinct_sketches(b, ["time_left"], "owner"),
        ["time_left"],
    )
    inc = {
        r["time_left"]: r["distinct_est"]
        for r in mt.estimate_distinct(merged, ["time_left"]).collect()
    }
    assert inc == full


def test_incremental_owner_sketch_gold(spark, tmp_path):
    """Sketch-gold maintenance: refreshes fold ONLY new manifest
    batches, a no-op refresh does nothing, and the incrementally
    maintained estimates equal a one-shot build over the same bronze
    (union associativity end-to-end) AND the exact distinct count."""
    import datetime as dt

    from server_spark.plans import maintenance as mt
    from server_spark.plans import medallion as med

    def dump(ts, owners, realm="r1"):
        return spark.createDataFrame(
            [("eu", realm, ts, i, 100, 500, 1, o)
             for i, o in enumerate(owners)],
            "region string, realm_slug string, dump_ts timestamp, "
            "auc long, item long, buyout long, quantity long, owner string",
        )

    t0 = dt.datetime(2024, 1, 1, 10, 0)
    t1 = t0 + dt.timedelta(hours=1)

    # incrementally maintained lake
    inc = med.MedallionPaths(str(tmp_path / "inc"))
    assert med.ingest_bronze_incremental(spark, dump(t0, ["a", "b"]), inc) == 1
    assert mt.refresh_owner_sketch_gold(spark, inc) == 1
    assert mt.refresh_owner_sketch_gold(spark, inc) == 0  # already current
    assert med.ingest_bronze_incremental(
        spark, dump(t1, ["b", "c", "d"]), inc
    ) == 1
    assert mt.refresh_owner_sketch_gold(spark, inc) == 1

    # one-shot lake over the same data
    full = med.MedallionPaths(str(tmp_path / "full"))
    assert med.ingest_bronze_incremental(spark, dump(t0, ["a", "b"]), full) == 1
    assert med.ingest_bronze_incremental(
        spark, dump(t1, ["b", "c", "d"]), full
    ) == 1
    assert mt.refresh_owner_sketch_gold(spark, full) == 2  # both batches

    got = {
        (r["region"], r["realm_slug"]): r["distinct_est"]
        for r in mt.read_owner_sketch_gold(spark, inc).collect()
    }
    want = {
        (r["region"], r["realm_slug"]): r["distinct_est"]
        for r in mt.read_owner_sketch_gold(spark, full).collect()
    }
    assert got == want == {("eu", "r1"): 4}  # exact at this tiny scale


def test_owner_sketch_gold_crash_and_corruption_safety(spark, tmp_path):
    """r6 ADVICE hardening: (1) a crash between the swap renames (table
    set aside, replacement never landed) is healed on the next refresh
    — no history loss; (2) a CORRUPT standing table raises instead of
    being silently treated as 'first refresh' and overwritten."""
    import datetime as dt
    import os
    import shutil

    from server_spark.plans import maintenance as mt
    from server_spark.plans import medallion as med

    def dump(ts, owners):
        return spark.createDataFrame(
            [("eu", "r1", ts, i, 100, 500, 1, o)
             for i, o in enumerate(owners)],
            "region string, realm_slug string, dump_ts timestamp, "
            "auc long, item long, buyout long, quantity long, owner string",
        )

    t0 = dt.datetime(2024, 1, 1, 10, 0)
    t1 = t0 + dt.timedelta(hours=1)
    paths = med.MedallionPaths(str(tmp_path / "lake"))
    med.ingest_bronze_incremental(spark, dump(t0, ["a", "b"]), paths)
    assert mt.refresh_owner_sketch_gold(spark, paths) == 1

    data_dir = os.path.join(paths.root, "gold", "owner_sketches", "sketches")
    # (1) simulate a crash between os.rename(data_dir, aside) and
    # os.replace(tmp, data_dir): the standing table sits at .old only.
    os.rename(data_dir, data_dir + ".old")
    med.ingest_bronze_incremental(spark, dump(t1, ["b", "c", "d"]), paths)
    assert mt.refresh_owner_sketch_gold(spark, paths) == 1  # healed + folded
    got = {
        (r["region"], r["realm_slug"]): r["distinct_est"]
        for r in mt.read_owner_sketch_gold(spark, paths).collect()
    }
    assert got == {("eu", "r1"): 4}  # t0's owners were NOT discarded
    assert not os.path.exists(data_dir + ".old")

    # (2) corrupt the standing table: refresh must raise, not reset.
    t2 = t0 + dt.timedelta(hours=2)
    med.ingest_bronze_incremental(spark, dump(t2, ["e"]), paths)
    for f in os.listdir(data_dir):
        if f.endswith(".parquet"):
            with open(os.path.join(data_dir, f), "wb") as fh:
                fh.write(b"not parquet")
    import pytest as _pytest

    with _pytest.raises(Exception):
        mt.refresh_owner_sketch_gold(spark, paths)
    shutil.rmtree(paths.root)


def test_incremental_churn_gold(spark, tmp_path):
    """refresh_churn_gold folds only the NEW consecutive dump pairs:
    (1) incremental == one-shot build_gold_churn after every refresh,
    (2) a current table is an idempotent no-op (0 pairs, no write),
    (3) a LATE-arriving middle snapshot re-pairs its successor, and
    (4) untouched dump_date partitions keep their exact files."""
    import os as _os

    from server_spark.plans import maintenance as mt

    paths = med.MedallionPaths(str(tmp_path / "lake"))

    def dump(ts, aucs):
        return spark.createDataFrame(
            [(a, 100, "o", "r1", 9, 100, 1, "LONG", "eu", "r1", ts)
             for a in aucs],
            AUCTION,
        )

    def oneshot():
        med.build_silver(spark, paths)
        med.build_gold_churn(spark, paths)
        return {
            (r["region"], r["realm_slug"], r["dump_ts"]):
                (r["n_new"], r["n_removed"], r["n_persisting"])
            for r in spark.read.parquet(paths.gold_churn).collect()
        }

    def incremental():
        return {
            (r["region"], r["realm_slug"], r["dump_ts"]):
                (r["n_new"], r["n_removed"], r["n_persisting"])
            for r in mt.read_churn_gold(spark, paths).collect()
        }

    t1 = dt.datetime(2024, 1, 1, 10)
    t2 = dt.datetime(2024, 1, 2, 10)
    t3 = dt.datetime(2024, 1, 3, 10)
    t_mid = dt.datetime(2024, 1, 2, 22)  # lands LATE, between t2 and t3

    # first dump: no pair yet — refresh is a 0 but advances the mark
    assert med.ingest_bronze_incremental(spark, dump(t1, [1, 2, 3]), paths) == 1
    med.build_silver(spark, paths)
    assert mt.refresh_churn_gold(spark, paths) == 0

    # second dump: one new pair (t2, t1)
    assert med.ingest_bronze_incremental(spark, dump(t2, [1, 4]), paths) == 1
    med.build_silver(spark, paths)
    assert mt.refresh_churn_gold(spark, paths) == 1
    assert incremental() == oneshot() == {
        ("eu", "r1", t2): (1, 2, 1)  # 4 new; 2,3 removed; 1 persists
    }
    # idempotent no-op
    assert mt.refresh_churn_gold(spark, paths) == 0

    # third dump: pair (t3, t2) only — day-2's partition untouched
    assert med.ingest_bronze_incremental(spark, dump(t3, [4, 5]), paths) == 1
    med.build_silver(spark, paths)
    churn_dir = _os.path.join(paths.root, "gold", "churn_incr", "data")
    day2 = _os.path.join(churn_dir, "dump_date=2024-01-02")
    before = sorted(
        (f, _os.path.getmtime(_os.path.join(day2, f)))
        for f in _os.listdir(day2) if f.endswith(".parquet")
    )
    assert mt.refresh_churn_gold(spark, paths) == 1
    assert incremental() == oneshot()
    assert sorted(
        (f, _os.path.getmtime(_os.path.join(day2, f)))
        for f in _os.listdir(day2) if f.endswith(".parquet")
    ) == before

    # LATE middle snapshot between t2 and t3: affected pairs are
    # (t_mid, t2) AND (t3, t_mid) — t3's old row must be replaced.
    assert med.ingest_bronze_incremental(spark, dump(t_mid, [4, 9]), paths) == 1
    med.build_silver(spark, paths)
    assert mt.refresh_churn_gold(spark, paths) == 2
    want = oneshot()
    assert incremental() == want
    assert want[("eu", "r1", t3)] == (1, 1, 1)  # 5 new; 9 removed; 4 stays


def test_incremental_price_histogram_gold(spark, tmp_path):
    """Mergeable-percentile gold: (1) incrementally folded bucket
    counts are EXACTLY a one-shot build's (addition is associative),
    (2) the median estimate is within the sketch's documented ≤~5%
    relative-error bound of the true median, (3) a current table is an
    idempotent no-op."""
    import math
    import os as _os

    from server_spark.plans import maintenance as mt

    def dump(ts, prices, realm="r1"):
        # one auction per (buyout=price, quantity=1) → buyout_per=price
        return spark.createDataFrame(
            [("eu", realm, ts, i, 7, float(p), 1.0, "o")
             for i, p in enumerate(prices)],
            "region string, realm_slug string, dump_ts timestamp, "
            "auc long, item long, buyout double, quantity double, "
            "owner string",
        )

    t1 = dt.datetime(2024, 1, 1, 10)
    t2 = dt.datetime(2024, 1, 2, 10)
    batch1 = [100.0, 200.0, 300.0, 400.0, 0.0]  # 0 excluded (A2 rule)
    batch2 = [500.0, 600.0, 700.0]

    # incremental lake: fold two batches separately
    inc = med.MedallionPaths(str(tmp_path / "inc"))
    assert med.ingest_bronze_incremental(spark, dump(t1, batch1), inc) == 1
    assert mt.refresh_price_hist_gold(spark, inc) == 1
    assert mt.refresh_price_hist_gold(spark, inc) == 0  # no-op
    assert med.ingest_bronze_incremental(spark, dump(t2, batch2), inc) == 1
    assert mt.refresh_price_hist_gold(spark, inc) == 1

    # one-shot lake over the same data
    full = med.MedallionPaths(str(tmp_path / "full"))
    assert med.ingest_bronze_incremental(spark, dump(t1, batch1), full) == 1
    assert med.ingest_bronze_incremental(spark, dump(t2, batch2), full) == 1
    assert mt.refresh_price_hist_gold(spark, full) == 2

    def buckets(paths):
        d = _os.path.join(paths.root, "gold", "price_hist", "hist")
        return {
            (r["region"], r["realm_slug"], r["item"], r["bucket"]): r["cnt"]
            for r in spark.read.parquet(d).collect()
        }

    assert buckets(inc) == buckets(full)
    assert sum(buckets(inc).values()) == 7  # zero-buyout row excluded

    # median estimate within the relative-error bound of the exact
    # median of [100..700] = 400
    est = mt.read_price_median_gold(spark, inc).collect()
    assert len(est) == 1
    got = est[0]["p50_est"]
    bound = math.exp(mt._HIST_W) - 1 + 1e-9
    assert abs(got - 400.0) / 400.0 <= bound, got


def test_incremental_item_bitmap_gold(spark, tmp_path):
    """Bitmap-gold maintenance (exact-distinct twin of the sketch
    gold): refreshes fold ONLY new manifest batches, a no-op refresh
    does nothing, and the incrementally maintained counts equal BOTH a
    one-shot build and the exact COUNT(DISTINCT) — bitmaps are exact,
    so no at-this-scale caveat."""
    import datetime as dt

    from server_spark.plans import maintenance as mt
    from server_spark.plans import medallion as med

    def dump(ts, items, realm="r1"):
        return spark.createDataFrame(
            [("eu", realm, ts, i, it, 500, 1, "own")
             for i, it in enumerate(items)],
            "region string, realm_slug string, dump_ts timestamp, "
            "auc long, item long, buyout long, quantity long, owner string",
        )

    t0 = dt.datetime(2024, 1, 1, 10, 0)
    t1 = t0 + dt.timedelta(hours=1)
    # items straddle a 32k bitmap bucket boundary on purpose
    batch0 = [100, 200, 32768 + 5]
    batch1 = [200, 300, 32768 + 5, 65536 + 7]

    inc = med.MedallionPaths(str(tmp_path / "inc"))
    assert med.ingest_bronze_incremental(spark, dump(t0, batch0), inc) == 1
    assert mt.refresh_item_bitmap_gold(spark, inc) == 1
    assert mt.refresh_item_bitmap_gold(spark, inc) == 0  # already current
    assert med.ingest_bronze_incremental(spark, dump(t1, batch1), inc) == 1
    assert mt.refresh_item_bitmap_gold(spark, inc) == 1

    full = med.MedallionPaths(str(tmp_path / "full"))
    assert med.ingest_bronze_incremental(spark, dump(t0, batch0), full) == 1
    assert med.ingest_bronze_incremental(spark, dump(t1, batch1), full) == 1
    assert mt.refresh_item_bitmap_gold(spark, full) == 2

    got = {
        (r["region"], r["realm_slug"]): r["distinct_exact"]
        for r in mt.read_item_bitmap_gold(spark, inc).collect()
    }
    want = {
        (r["region"], r["realm_slug"]): r["distinct_exact"]
        for r in mt.read_item_bitmap_gold(spark, full).collect()
    }
    exact = len(set(batch0) | set(batch1))
    assert got == want == {("eu", "r1"): exact}  # == 6, exactly


def test_incremental_hot_items_gold(spark, tmp_path):
    """Hot-items gold (mergeable Misra-Gries): refreshes fold only new
    batches, the flooding item survives with an estimate inside the
    undercount bound, and a no-op refresh does nothing."""
    import datetime as dt

    from server_spark.plans import maintenance as mt
    from server_spark.plans import medallion as med

    def dump(ts, items, realm="r1"):
        return spark.createDataFrame(
            [("eu", realm, ts, i, it, 500, 1, "own")
             for i, it in enumerate(items)],
            "region string, realm_slug string, dump_ts timestamp, "
            "auc long, item long, buyout long, quantity long, owner string",
        )

    t0 = dt.datetime(2024, 1, 1, 10, 0)
    t1 = t0 + dt.timedelta(hours=1)
    batch0 = [7] * 40 + list(range(100, 130))      # 70 rows, item 7 hot
    batch1 = [7] * 25 + list(range(300, 305))      # 30 rows

    paths = med.MedallionPaths(str(tmp_path / "lake"))
    assert med.ingest_bronze_incremental(spark, dump(t0, batch0), paths) == 1
    assert mt.refresh_hot_items_gold(spark, paths, cap=16) == 1
    assert mt.refresh_hot_items_gold(spark, paths, cap=16) == 0
    assert med.ingest_bronze_incremental(spark, dump(t1, batch1), paths) == 1
    assert mt.refresh_hot_items_gold(spark, paths, cap=16) == 1

    rows = {r["item"]: r for r in mt.read_hot_items_gold(spark, paths).collect()}
    assert 7 in rows
    est, bound = rows[7]["est"], rows[7]["max_undercount"]
    # the bound must use the cap the state was BUILT with (16), not the
    # module default (256): N_total/(cap+1) = 100//17
    assert bound == 100 // 17
    true = 65
    assert est <= true
    assert est >= true - max(bound, 100 // 17 + 1)
    # exact per-batch counts merged with one truncation: every stored
    # estimate is a lower bound on its true count
    assert all(r["est"] <= 65 for r in rows.values())


def test_forget_owner_erases_everywhere(spark, tmp_path):
    """forget_owner: after erasure, every layer of the lake equals a
    lake that never saw the owner — including a partition the owner
    exclusively populated (the dynamic-overwrite blind spot) and the
    rebuilt-from-clean-bronze sketch gold."""
    import datetime as dt

    from server_spark.plans import maintenance as mt
    from server_spark.plans import medallion as med

    def dump(ts, rows, realm="r1"):
        return spark.createDataFrame(
            [("eu", realm, ts, i, it, bo, 1, "N", ow)
             for i, (it, bo, ow) in enumerate(rows)],
            "region string, realm_slug string, dump_ts timestamp, "
            "auc long, item long, buyout long, quantity long, "
            "time_left string, owner string",
        )

    t0 = dt.datetime(2024, 1, 1, 10)
    t1 = dt.datetime(2024, 1, 2, 10)
    # The None-owner row is load-bearing: the wire format allows
    # anonymous listings, and a non-null-safe ``owner != 'alice'``
    # filter would silently erase it alongside alice.
    mixed = [(100, 500, "alice"), (100, 700, "bob"), (200, 300, "alice"),
             (201, 450, None)]
    alice_only = [(300, 900, "alice"), (301, 100, "alice")]

    def build(root, with_alice):
        paths = med.MedallionPaths(str(root))
        rows0 = mixed if with_alice else [r for r in mixed if r[2] != "alice"]
        med.ingest_bronze_incremental(spark, dump(t0, rows0), paths)
        if with_alice:
            med.ingest_bronze_incremental(spark, dump(t1, alice_only), paths)
        med.build_silver(spark, paths)
        med.build_gold_prices(spark, paths)
        mt.refresh_owner_sketch_gold(spark, paths)
        return paths

    full = build(tmp_path / "full", with_alice=True)
    clean = build(tmp_path / "clean", with_alice=False)

    report = mt.forget_owner(spark, full, "alice")
    assert report["partitions"] == 2
    assert "owner_sketches" in report["golds_reset"]
    # second call is a no-op
    assert mt.forget_owner(spark, full, "alice")["partitions"] == 0

    def rows(path, cols):
        try:
            return sorted(
                tuple(r) for r in spark.read.parquet(path).select(*cols).collect()
            )
        except Exception:  # noqa: BLE001 — wholly-removed table
            return []

    for sub, cols in (
        ("bronze/auctions", ["owner", "item", "buyout"]),
        ("silver/mini_auctions", ["owner", "item", "buyout"]),
        ("gold/price_history", ["item", "min_buyout_per", "volume"]),
    ):
        got = rows(str(tmp_path / "full" / sub), cols)
        want = rows(str(tmp_path / "clean" / sub), cols)
        assert got == want, sub
    # the alice-only day's partition is GONE, not just emptied
    assert not (tmp_path / "full" / "bronze" / "auctions"
                / "region=eu" / "realm_slug=r1"
                / "dump_date=2024-01-02").exists()

    # sketch gold rebuilds from the cleaned bronze to the clean truth
    assert mt.refresh_owner_sketch_gold(spark, full) >= 1
    got_est = {
        (r["region"], r["realm_slug"]): r["distinct_est"]
        for r in mt.read_owner_sketch_gold(spark, full).collect()
    }
    want_est = {
        (r["region"], r["realm_slug"]): r["distinct_est"]
        for r in mt.read_owner_sketch_gold(spark, clean).collect()
    }
    assert got_est == want_est == {("eu", "r1"): 1}


def test_incremental_price_moments_gold(spark, tmp_path):
    """Moments-gold maintenance (the quintet's mean/std member):
    refreshes fold ONLY new manifest batches, a no-op refresh does
    nothing, and the incrementally maintained sufficient statistics
    equal a one-shot build EXACTLY (decimal sums — no float-order
    caveat), with mean/std matching numpy on the raw prices."""
    import datetime as dt
    import math

    from server_spark.plans import maintenance as mt
    from server_spark.plans import medallion as med

    def dump(ts, prices, realm="r1"):
        return spark.createDataFrame(
            [("eu", realm, ts, i, 7, float(p), 1.0, "o")
             for i, p in enumerate(prices)],
            "region string, realm_slug string, dump_ts timestamp, "
            "auc long, item long, buyout double, quantity double, "
            "owner string",
        )

    t1 = dt.datetime(2024, 1, 1, 10)
    t2 = dt.datetime(2024, 1, 2, 10)
    batch1 = [100.0, 200.0, 300.0, 400.0, 0.0]  # 0 excluded (A2 rule)
    batch2 = [500.0, 600.0, 700.0]

    inc = med.MedallionPaths(str(tmp_path / "inc"))
    assert med.ingest_bronze_incremental(spark, dump(t1, batch1), inc) == 1
    assert mt.refresh_price_moments_gold(spark, inc) == 1
    assert mt.refresh_price_moments_gold(spark, inc) == 0  # no-op
    assert med.ingest_bronze_incremental(spark, dump(t2, batch2), inc) == 1
    assert mt.refresh_price_moments_gold(spark, inc) == 1

    full = med.MedallionPaths(str(tmp_path / "full"))
    assert med.ingest_bronze_incremental(spark, dump(t1, batch1), full) == 1
    assert med.ingest_bronze_incremental(spark, dump(t2, batch2), full) == 1
    assert mt.refresh_price_moments_gold(spark, full) == 2

    def state(paths):
        import os as _os

        d = _os.path.join(paths.root, "gold", "price_moments", "data")
        return {
            (r["region"], r["realm_slug"]): (r["n"], r["s1"], r["s2"])
            for r in spark.read.parquet(d).collect()
        }

    assert state(inc) == state(full)  # EXACT, not approx

    prices = [p for p in batch1 + batch2 if p > 0]
    n = len(prices)
    mean = sum(prices) / n
    var = sum((p - mean) ** 2 for p in prices) / n
    [r] = mt.read_price_moments_gold(spark, inc).collect()
    assert r["n"] == n
    assert abs(r["mean_price"] - mean) < 1e-6
    assert abs(r["std_price"] - math.sqrt(var)) < 1e-6
    assert abs(r["cv"] - math.sqrt(var) / mean) < 1e-9


def test_legacy_gold_watermark_sidecar_migrates(spark, tmp_path):
    """r12 advisor finding: golds written BEFORE r11 kept the
    watermark one level ABOVE the table dir (gold_dir/_watermark).
    After the in-table move, such a table must not hard-fail its
    first refresh: the legacy sidecar's epoch is honored (no
    double-fold of already-applied batches), migrated into the table
    dir, and the legacy file removed so it can never shadow a future
    epoch. A table with NEITHER marker still raises."""
    import datetime as dt
    import json
    import os

    import pytest as _pytest

    from server_spark.plans import maintenance as mt
    from server_spark.plans import medallion as med

    def dump(ts, prices):
        return spark.createDataFrame(
            [("eu", "r1", ts, i, 100, p, 1, "o")
             for i, p in enumerate(prices)],
            "region string, realm_slug string, dump_ts timestamp, "
            "auc long, item long, buyout long, quantity long, owner string",
        )

    t0 = dt.datetime(2024, 1, 1, 10)
    paths = med.MedallionPaths(str(tmp_path / "lake"))
    med.ingest_bronze_incremental(spark, dump(t0, [100, 300, 500]), paths)
    assert mt.refresh_price_hist_gold(spark, paths) == 1
    data_dir = os.path.join(paths.root, "gold", "price_hist", "hist")
    wm_file = os.path.join(data_dir, "_watermark")
    legacy = os.path.join(os.path.dirname(data_dir), "_watermark")

    def total():
        return sum(
            r["cnt"] for r in spark.read.parquet(data_dir).collect()
        )

    base = total()
    # downgrade to the pre-r11 on-disk format
    os.rename(wm_file, legacy)

    # a no-op refresh must read the legacy epoch (NOT refold batch 1)
    assert mt.refresh_price_hist_gold(spark, paths) == 0
    assert total() == base
    # ...and the one-time migration happened: in-table marker exists,
    # legacy sidecar is gone
    assert json.load(open(wm_file))["batch_id"] == 1
    assert not os.path.exists(legacy)

    # a genuinely new batch folds exactly once post-migration
    med.ingest_bronze_incremental(
        spark, dump(t0 + dt.timedelta(hours=1), [700]), paths
    )
    assert mt.refresh_price_hist_gold(spark, paths) == 1
    assert total() == base + 1

    # neither marker: still refuses to fold onto unknown-epoch state
    os.remove(wm_file)
    med.ingest_bronze_incremental(
        spark, dump(t0 + dt.timedelta(hours=2), [900]), paths
    )
    with _pytest.raises(RuntimeError, match="unknown epoch"):
        mt.refresh_price_hist_gold(spark, paths)


def test_medallion_paths_local_fs_only():
    """r12 advisor finding: every transactional mechanism under a
    medallion root is POSIX-rename semantics, and load_manifest's
    "never written" probe is os.walk — an object-store URI would
    always read "absent" and silently re-mint historical batch_ids.
    Reject such roots at construction; accept (and normalize)
    file:// and plain paths."""
    import pytest as _pytest

    from server_spark.plans import medallion as med

    for bad in ("s3://bucket/lake", "hdfs://nn/lake", "gs://bucket/lake",
                "s3a://bucket/lake"):
        with _pytest.raises(ValueError, match="local-FS only"):
            med.MedallionPaths(bad)
    assert med.MedallionPaths("/tmp/lake").root == "/tmp/lake"
    assert med.MedallionPaths("file:///tmp/lake").root == "/tmp/lake"
    # windows-style drive letters and relative paths are not schemes
    assert med.MedallionPaths("lake").root == "lake"


def test_medallion_paths_single_slash_uri_forms():
    """r12 review finding: Spark itself prints local paths as
    'file:/tmp/lake' (single slash). That form previously slipped
    through the scheme guard unnormalized, so the os.* transaction
    state landed in a literal './file:/...' directory while Spark
    resolved the URI — split-brain. All URI spellings must either
    normalize (file) or reject (everything else), case-insensitively;
    remote-host file URIs are rejected too."""
    import pytest as _pytest

    from server_spark.plans import medallion as med

    assert med.MedallionPaths("file:/tmp/lake").root == "/tmp/lake"
    assert med.MedallionPaths("file:rel/lake").root == "rel/lake"
    assert med.MedallionPaths("file:///tmp/lake").root == "/tmp/lake"
    assert med.MedallionPaths("FILE:///tmp/lake").root == "/tmp/lake"
    for bad in ("s3:/bucket/lake", "S3://bucket/lake",
                "hdfs:/nn/lake", "gs:/bucket/lake",
                # RFC 3986 scheme:opaque — no slash at all (r12
                # second review pass)
                "s3:bucket/lake", "gs:bucket"):
        with _pytest.raises(ValueError, match="local-FS only"):
            med.MedallionPaths(bad)
    with _pytest.raises(ValueError, match="remote-host"):
        med.MedallionPaths("file://nfshost/export/lake")
    # drive-letter-style and relative paths stay plain paths
    assert med.MedallionPaths("C:/lake").root == "C:/lake"
    assert med.MedallionPaths("lake").root == "lake"


def test_claim_files_pruned_after_commit(spark, tmp_path):
    """r12 review finding: one claim file per batch forever means
    every mint pays a linear directory listing. After a successful
    manifest append, claims below the committed id are pruned; burned
    claims ABOVE it (a crashed writer that outran us) survive so
    their ids are never re-minted."""
    import os

    def dump(ts, aucs):
        return spark.createDataFrame(
            [("eu", "r1", ts, a, 100, 500, 1) for a in aucs],
            "region string, realm_slug string, dump_ts timestamp, "
            "auc long, item long, buyout long, quantity long",
        )

    t0 = dt.datetime(2024, 1, 1, 10)
    paths = med.MedallionPaths(str(tmp_path / "lake"))
    for k in range(3):
        assert med.ingest_bronze_incremental(
            spark, dump(t0 + dt.timedelta(hours=k), [k]), paths
        ) == 1
    claims = sorted(
        int(n) for n in os.listdir(med._claims_dir(paths)) if n.isdigit()
    )
    assert claims == [3], claims  # 1 and 2 pruned after commits

    # a crashed writer burned id 9 (claim, no append): kept by prune,
    # and the next mint jumps past it
    assert med._claim_batch_id(paths, 9)
    assert med.ingest_bronze_incremental(
        spark, dump(t0 + dt.timedelta(hours=5), [50]), paths
    ) == 1
    assert med.manifest_versions(spark, paths) == [1, 2, 3, 10]
    claims = sorted(
        int(n) for n in os.listdir(med._claims_dir(paths)) if n.isdigit()
    )
    assert claims == [10], claims


def test_legacy_watermark_migration_race_cannot_downgrade(
    spark, tmp_path, monkeypatch
):
    """r12 review finding: two overlapping refreshes can both see
    (no in-table marker, legacy present); if the slower migrator then
    REPLACED the in-table file, it would clobber a watermark the
    faster one had already advanced — re-opening the double-fold.
    The migration links fail-if-exists and re-reads on contention.
    Simulate the faster writer landing inside the check→link window
    and assert the newer epoch wins."""
    import json
    import os

    from server_spark.plans import maintenance as mt

    gold_dir = tmp_path / "gold" / "price_hist"
    data_dir = gold_dir / "hist"
    data_dir.mkdir(parents=True)
    (gold_dir / "_watermark").write_text(json.dumps({"batch_id": 1}))

    real_link = os.link

    def racing_link(src, dst, *a, **kw):
        # the concurrent migrator+fold commits epoch 2 first
        with open(dst, "w") as fh:
            json.dump({"batch_id": 2}, fh)
        return real_link(src, dst, *a, **kw)  # -> FileExistsError

    monkeypatch.setattr(mt.os, "link", racing_link)
    wm = mt._gold_watermark(str(data_dir))
    assert wm == {"batch_id": 2}, wm  # newer epoch won, not stale 1
    assert json.load(open(data_dir / "_watermark")) == {"batch_id": 2}
    # second call (legacy gone, marker in place) is the plain path
    monkeypatch.setattr(mt.os, "link", real_link)
    assert mt._gold_watermark(str(data_dir)) == {"batch_id": 2}
    assert not (gold_dir / "_watermark").exists()
