"""Table maintenance: THE small-file compactor (``compact_partitions``,
SURVEY.md §1.4 storage posture) plus the incremental golds.
Append-heavy layers (manifest-gated bronze, gold history appends)
accumulate one file per micro-batch per partition; thousands
of tiny parquet files turn every downstream scan into a listing +
footer-read storm. Compaction rewrites fragmented partitions into
~target-sized files.

Scale notes:
- Work is proportional to the FRAGMENTED partitions only — the file
  index is consulted first and partitions already at target are left
  untouched (never a full-table rewrite).
- Each partition rewrite is read → repartition(ceil(bytes/target)) →
  write-to-scratch + two-rename swap. Scratch dirs are dot-prefixed
  (``.compact_tmp__*``) so Spark's file index never lists them as
  data or parses them as partition values. The swap itself is
  SINGLE-WRITER / NO-CONCURRENT-READER: between the two renames a
  reader can observe a missing partition, and a crash there needs the
  entry-time recovery sweep (stale scratch dirs are finished or
  removed on the next run). True reader-safe compaction needs a
  commit protocol — Delta/Iceberg OPTIMIZE; this is the raw-parquet
  analog for maintenance windows.
- Compaction is idempotent and safe to re-run: a compacted partition
  no longer qualifies as fragmented, and interrupted runs are healed
  on entry.
- OBJECT-STORE roots: this module's rename/walk machinery rejects
  URI paths loudly (``commit_backend.local_path``) — os.walk over a
  bucket URI silently yields nothing (a compaction would report the
  table clean) and os.path.exists reads 'absent' (a gold fold would
  double-apply onto state it could not see); the bucket-capable
  compaction/Z-order/table-swap is ``plans.versioned_table`` (r14) —
  immutable generations + a CAS-swapped version pointer through the
  commit backend, which also removes the two-rename swap's torn
  window for concurrent readers.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil

from pyspark.sql import SparkSession

from server_spark.plans import commit_backend as cb
from server_spark.plans.medallion import (
    _PART_KEYS,
    _price_stats,
    _serialized_writer,
    build_gold_churn,
    load_manifest,
)


def partition_file_stats(root: str) -> dict[str, tuple[int, int]]:
    """{leaf partition dir → (n_data_files, total_bytes)} for a
    (possibly nested) partitioned parquet dataset."""
    root = cb.local_path(root, "partition_file_stats")
    stats: dict[str, tuple[int, int]] = {}
    for dirpath, _dirnames, filenames in os.walk(root):
        data = [
            f for f in filenames
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ]
        if data:
            total = sum(os.path.getsize(os.path.join(dirpath, f)) for f in data)
            stats[dirpath] = (len(data), total)
    return stats


_TMP_PREFIX = ".compact_tmp__"
_OLD_PREFIX = ".compact_old__"


def _scratch(part_dir: str, prefix: str) -> str:
    """Scratch sibling of ``part_dir`` with a dot-prefixed basename —
    Spark's file index skips dot/underscore-leading names, so readers
    never list scratch data or parse it as a partition value."""
    head, base = os.path.split(part_dir)
    return os.path.join(head, prefix + base)


def _heal_interrupted(root: str) -> None:
    """Recover from a crash mid-swap (idempotent, run on entry).

    Crash points and their fix:
    - before the first rename: stale tmp (partial or complete) →
      remove; live partition untouched.
    - between the renames: partition dir missing, old complete →
      remove tmp, rename old back (compaction simply redoes it).
    - after the second rename: partition is compacted, old remains →
      remove old.
    """
    for dirpath, dirnames, _files in os.walk(root):
        for d in list(dirnames):
            if d.startswith(_TMP_PREFIX):
                shutil.rmtree(os.path.join(dirpath, d))
                dirnames.remove(d)
        for d in list(dirnames):
            if d.startswith(_OLD_PREFIX):
                old = os.path.join(dirpath, d)
                live = os.path.join(dirpath, d[len(_OLD_PREFIX):])
                if os.path.exists(live):
                    shutil.rmtree(old)
                else:
                    os.rename(old, live)
                dirnames.remove(d)


def compact_partitions(
    spark: SparkSession,
    root: str,
    target_bytes: int = 256 * 1024 * 1024,
    min_files: int = 4,
    verify: bool = False,
) -> int:
    """Rewrite every leaf partition holding ≥ ``min_files`` data files
    into ceil(bytes/target) files. Returns partitions rewritten.

    Single-writer: a caller racing medallion writers on the same tree
    holds ``medallion.commit_lock(root)`` around the call. Concurrent
    readers may see a partition vanish for the instant between the two
    swap renames (see module docstring).
    """
    # normalize ONCE at entry: healing os.walks the root too, and
    # os.walk over a 'file:/...' spelling yields nothing — a crash-
    # orphaned .compact_old__ partition would stay hidden from readers
    root = cb.local_path(root, "compact_partitions")
    _heal_interrupted(root)
    rewritten = 0
    for part_dir, (n_files, total) in partition_file_stats(root).items():
        if n_files < min_files:
            continue
        n_out = max(1, math.ceil(total / target_bytes))
        if n_out >= n_files:
            continue
        df = spark.read.parquet(part_dir)
        tmp = _scratch(part_dir, _TMP_PREFIX)
        df.repartition(n_out).write.mode("overwrite").parquet(tmp)
        if verify:
            # verify BEFORE the swap: a bad rewrite (codec bug, lost
            # task output) must never replace good data
            before = df.count()
            after = spark.read.parquet(tmp).count()
            if after != before:
                shutil.rmtree(tmp)
                raise RuntimeError(
                    f"compaction verification failed for {part_dir}: "
                    f"{before} rows -> {after}"
                )
        old = _scratch(part_dir, _OLD_PREFIX)
        os.rename(part_dir, old)
        os.rename(tmp, part_dir)
        shutil.rmtree(old)
        rewritten += 1
    return rewritten


def schema_drift(spark: SparkSession, table_root: str) -> list[dict]:
    """Audit schema drift across a table's parquet file footers.

    Returns one dict per column NOT present with one consistent type
    in every file: ``{column, n_files_present, n_files_total,
    types}`` — added and removed columns show partial presence;
    retypes show more than one type. Companion to medallion's
    ``mergeSchema`` read: see the drift BEFORE paying the
    footer-merge cost, and gate promotions on it.
    """
    import pyarrow.parquet as pq

    table_root = cb.local_path(table_root, "schema_drift")
    files = []
    for dirpath, _dirnames, filenames in os.walk(table_root):
        files.extend(
            os.path.join(dirpath, f)
            for f in filenames
            if f.endswith(".parquet")
        )
    seen: dict[str, dict] = {}
    for fp in files:
        schema = pq.read_schema(fp)
        for name, typ in zip(schema.names, schema.types):
            ent = seen.setdefault(name, {"n": 0, "types": set()})
            ent["n"] += 1
            ent["types"].add(str(typ))
    total = len(files)
    out = []
    for name in sorted(seen):
        ent = seen[name]
        if ent["n"] != total or len(ent["types"]) > 1:
            out.append(
                {
                    "column": name,
                    "n_files_present": ent["n"],
                    "n_files_total": total,
                    "types": sorted(ent["types"]),
                }
            )
    return out


# ---------------------------------------------------------------------------
# Mergeable distinct-count sketches (incremental COUNT(DISTINCT) upkeep)
# ---------------------------------------------------------------------------
#
# COUNT(DISTINCT) is the one common aggregate that is NOT incrementally
# maintainable from per-batch counts — distinct sets don't add. The
# standard warehouse remedy is a MERGEABLE sketch column: each refresh
# builds an HLL sketch per group over only the NEW batch, unions it
# into the stored sketch (associative + commutative, so refresh order
# and partitioning never change the result), and the estimate is read
# off the merged sketch. At 100 TB this turns "rescan all history per
# dashboard refresh" into "union one batch's sketches" — the
# Datasketches pattern Spark 3.5+ exposes natively (hll_sketch_agg /
# hll_union_agg / hll_sketch_estimate, all JVM aggregates).

from pyspark.sql import DataFrame  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402


def distinct_sketches(
    df: DataFrame, keys: list[str], value_col: str, lg_k: int = 12
) -> DataFrame:
    """Per-key HLL sketch of ``value_col`` — the stored, mergeable
    state (binary column ``sketch``). One map-combined hash-agg."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("sketch")
    )


def merge_distinct_sketches(
    base: DataFrame, batch: DataFrame, keys: list[str]
) -> DataFrame:
    """Fold a new batch's sketch table into the standing one —
    the incremental refresh step. Cost scales with GROUPS, not rows
    of history."""
    return (
        base.unionByName(batch)
        .groupBy(*keys)
        .agg(F.hll_union_agg("sketch").alias("sketch"))
    )


def estimate_distinct(sketches: DataFrame, keys: list[str]) -> DataFrame:
    """Read the per-key estimate off the sketch column."""
    return sketches.select(
        *keys, F.hll_sketch_estimate("sketch").alias("distinct_est")
    )


def _heal_gold_aside(data_dir: str) -> None:
    """Heal a crash between the two swap renames: the standing table
    was set aside but its replacement never landed — restore it rather
    than treating this as a first refresh."""
    aside = f"{data_dir}.old"
    if os.path.exists(aside):
        if os.path.exists(data_dir):
            shutil.rmtree(aside)
        else:
            os.rename(aside, data_dir)


def _gold_watermark(data_dir: str) -> dict:
    """Heal, then return the watermark dict persisted INSIDE the
    standing table directory ({} when the table does not exist).

    The watermark rides in the table dir (underscore-prefixed, hidden
    from the parquet reader like ``_SUCCESS``) so table and watermark
    commit in ONE atomic rename — a sidecar written after the swap
    left a crash window where the fold had landed but the watermark
    said "not yet", double-applying the batch on the next refresh
    (r11 review finding; additive golds — histogram counts, moment
    sums, hot-item counts — silently doubled; HLL/bitmap golds only
    survived by union idempotence). A table that exists WITHOUT a
    readable watermark raises: folding onto state of unknown epoch
    risks exactly that double-count.

    Migration (r12, advisor finding): golds written BEFORE r11 kept
    the watermark as a gold_dir-level sidecar (one level above
    data_dir). A table that predates the in-table format must not
    hard-fail its first post-upgrade refresh — when the in-table file
    is absent but the legacy sidecar exists, its value is migrated
    into the table dir once (write-tmp + rename, then remove the
    legacy file so a stale copy can never shadow a future epoch) and
    returned. Only a table with NEITHER raises."""
    import json as _json

    data_dir = cb.local_path(data_dir, "_gold_watermark")
    _heal_gold_aside(data_dir)
    if not os.path.exists(data_dir):
        return {}
    wm_file = os.path.join(data_dir, "_watermark")
    legacy = os.path.join(os.path.dirname(data_dir), "_watermark")
    if not os.path.exists(wm_file) and os.path.exists(legacy):
        try:
            with open(legacy) as fh:
                wm = _json.load(fh)
            tmp = f"{wm_file}.tmp.{os.getpid()}"
            with open(tmp, "w") as fh:
                _json.dump(wm, fh)
            # link, NOT replace (r12 review finding): two overlapping
            # refreshes can both reach here, and the slower one's
            # replace would clobber a watermark the faster one has
            # since ADVANCED with the stale legacy epoch — re-opening
            # the double-fold this format exists to close. link fails
            # if the in-table marker appeared meanwhile; the freshest
            # value then wins by re-read below.
            try:
                os.link(tmp, wm_file)
            except FileExistsError:
                pass  # a concurrent migrator/fold beat us — read theirs
            finally:
                os.unlink(tmp)
            # legacy may already be gone if the concurrent migrator
            # finished first — that is success, not corruption
            with contextlib.suppress(FileNotFoundError):
                os.remove(legacy)
            with open(wm_file) as fh:
                return _json.load(fh)
        except (OSError, ValueError) as exc:
            raise RuntimeError(
                f"gold table {data_dir} has no in-table _watermark and "
                f"its legacy sidecar {legacy} failed to migrate "
                f"({exc}); refusing to fold onto state of unknown "
                "epoch — restore or rebuild the gold"
            ) from exc
    try:
        with open(wm_file) as fh:
            return _json.load(fh)
    except (OSError, ValueError) as exc:
        raise RuntimeError(
            f"gold table {data_dir} exists but its _watermark is "
            f"unreadable ({exc}); refusing to fold onto state of "
            "unknown epoch — restore or rebuild the gold"
        ) from exc


def _commit_gold_swap(merged: DataFrame, data_dir: str, wm: dict) -> None:
    """Write ``merged`` + its watermark to a temp dir, then swap it in
    via the aside two-rename: a crash anywhere leaves either the old
    table+old watermark or the new table+new watermark, never a fold
    without its epoch. Groups-sized golds only (wholesale rewrite)."""
    import json as _json

    aside = f"{data_dir}.old"
    tmp = f"{data_dir}.tmp.{os.getpid()}"
    merged.coalesce(1).write.mode("overwrite").parquet(tmp)
    with open(os.path.join(tmp, "_watermark"), "w") as fh:
        _json.dump(wm, fh)
    if os.path.exists(data_dir):
        os.rename(data_dir, aside)
    os.replace(tmp, data_dir)
    if os.path.exists(aside):
        shutil.rmtree(aside)


@_serialized_writer
def refresh_owner_sketch_gold(spark, paths) -> int:
    """Incrementally maintain a gold table of per-(region, realm)
    DISTINCT-OWNER sketches from the medallion commit log.

    Each call folds only the manifest batches committed since the
    last refresh: their bronze rows (pruned via the dump-key semi
    join) are sketched per (region, realm_slug) and hll-unioned into
    the stored sketch table — the incremental COUNT(DISTINCT) upkeep
    the raw gold rebuild can't do. A sidecar `_watermark` file records
    the folded batch id; rewriting the small sketch table wholesale is
    fine (it is groups-sized, not history-sized). Returns the number
    of batches folded (0 = already current).

    Union associativity (asserted in tests) makes this refresh
    order-independent: any split of the history into refreshes yields
    the hash-identical sketch table a one-shot build produces.
    """
    import json as _json

    from pyspark.sql import functions as F  # local: matches module style

    gold_dir = os.path.join(paths.root, "gold", "owner_sketches")
    data_dir = os.path.join(gold_dir, "sketches")
    keys = ["region", "realm_slug"]

    manifest = load_manifest(spark, paths)
    last = _gold_watermark(data_dir).get("batch_id", 0)
    new_keys = manifest.filter(F.col("batch_id") > last)
    n_batches = new_keys.select("batch_id").distinct().count()
    if n_batches == 0:
        return 0
    hi = new_keys.agg(F.max("batch_id")).first()[0]

    fresh_rows = spark.read.parquet(paths.bronze).join(
        F.broadcast(new_keys.select("region", "realm_slug", "dump_ts")),
        ["region", "realm_slug", "dump_ts"],
        "left_semi",
    )
    batch_sketches = distinct_sketches(fresh_rows, keys, "owner")

    # "First refresh" is ONLY the table not existing. Any read failure
    # on an existing table (corrupt file, transient IO) must propagate
    # loudly — swallowing it here would overwrite the sketch table with
    # just this batch and silently discard all folded history.
    if os.path.exists(data_dir):
        standing = spark.read.parquet(data_dir)
        merged = merge_distinct_sketches(standing, batch_sketches, keys)
    else:
        merged = batch_sketches
    _commit_gold_swap(merged, data_dir, {"batch_id": int(hi)})
    return n_batches


def read_owner_sketch_gold(spark, paths):
    """Current per-(region, realm) distinct-owner estimates."""
    data_dir = os.path.join(paths.root, "gold", "owner_sketches", "sketches")
    return estimate_distinct(
        spark.read.parquet(data_dir), ["region", "realm_slug"]
    )


# ---------------------------------------------------------------------------
# Incremental churn gold (J3/U1–U3 maintained off the manifest commit log)
# ---------------------------------------------------------------------------


@_serialized_writer
def refresh_churn_gold(spark, paths) -> int:
    """Incrementally maintain the snapshot-churn gold table
    (new/removed/persisting auction counts per consecutive snapshot
    pair — J3/U1–U3), folding ONLY the pairs that involve a dump key
    committed since the last refresh. The one-shot form
    (`medallion.build_gold_churn`) re-pairs and re-joins the WHOLE
    silver history every run; this refresh reads silver for just the
    increment's snapshots and their timeline predecessors/successors.

    Mechanics (same watermark pattern as `refresh_owner_sketch_gold`):
    - The manifest commit log (dumps-count sized, tiny) yields each
      realm's snapshot TIMELINE; a pair is AFFECTED iff its current or
      its previous snapshot arrived after the watermark — so a
      late-arriving middle snapshot also re-pairs its successor, whose
      old (succ, old_prev) row is replaced by (succ, new).
    - Silver is scanned only for the snapshots those pairs touch
      (broadcast semi-join on the partition columns → DPP prune).
    - The output is partitioned by dump_date and only the affected
      dates' partitions are dynamically overwritten, carrying over
      their untouched rows — write cost scales with the increment,
      never the table.

    Requires silver current for the involved snapshots (run
    `build_silver_incremental` first). Returns the number of pairs
    recomputed (0 = already current, a no-op on disk). Incremental ==
    one-shot equality is asserted end-to-end in tests.
    """
    import json as _json

    from pyspark.sql import Window

    # r13 review: this refresh keeps its own raw sidecar (gold_dir-
    # level, see the crash-safety note below) rather than going
    # through _gold_watermark, so it needs the loud-URI gate itself —
    # on a bucket root os.path.exists would read absent, last would
    # reset to 0, and every refresh would silently re-pair the ENTIRE
    # history while the sidecar landed in a literal './s3:/...' dir.
    root = cb.local_path(paths.root, "refresh_churn_gold")
    gold_dir = os.path.join(root, "gold", "churn_incr")
    wm_file = os.path.join(gold_dir, "_watermark")
    data_dir = os.path.join(gold_dir, "data")

    manifest = load_manifest(spark, paths)
    last = 0
    if os.path.exists(wm_file):
        with open(wm_file) as fh:
            last = _json.load(fh)["batch_id"]
    hi = manifest.agg(F.max("batch_id")).first()[0]
    if hi is None or hi <= last:
        return 0

    # Realm timelines from the manifest alone; a pair is affected iff
    # either endpoint is new.
    w = Window.partitionBy("region", "realm_slug").orderBy("dump_ts")
    timeline = manifest.select(
        "region", "realm_slug", "dump_ts", "batch_id"
    ).withColumn("prev_ts", F.lag("dump_ts").over(w)).withColumn(
        "prev_batch", F.lag("batch_id").over(w)
    )
    # NB: unlike the additive mergeable golds, churn REPLACES the
    # affected (region, realm, dump_ts) rows with a deterministic
    # recompute, so a crash between the data write and the sidecar
    # watermark merely redoes the same replacement on the next refresh
    # — the gold_dir-level sidecar is safe here.
    pairs = timeline.filter(
        F.col("prev_ts").isNotNull()
        & ((F.col("batch_id") > last) | (F.col("prev_batch") > last))
    ).select("region", "realm_slug", "dump_ts", "prev_ts").cache()
    try:
        return _refresh_churn_inner(
            spark, paths, gold_dir, wm_file, data_dir, pairs, hi
        )
    finally:
        # a long-lived session (scheduler calling this every few
        # minutes) must not accumulate one pinned cached relation per
        # refresh (r11 review finding)
        pairs.unpersist()


def _refresh_churn_inner(
    spark, paths, gold_dir, wm_file, data_dir, pairs, hi
) -> int:
    import json as _json

    n_pairs = pairs.count()
    if n_pairs == 0:  # e.g. the very first dump of a fresh lake
        os.makedirs(gold_dir, exist_ok=True)
        with open(wm_file, "w") as fh:
            _json.dump({"batch_id": int(hi)}, fh)
        return 0

    # Snapshots the affected pairs touch, as (partition-col) keys for
    # the pruned silver scan.
    involved = (
        pairs.select("region", "realm_slug", "dump_ts")
        .unionByName(
            pairs.select(
                "region", "realm_slug", F.col("prev_ts").alias("dump_ts")
            )
        )
        .distinct()
        .withColumn("dump_date", F.to_date("dump_ts"))
    )
    aucs = (
        spark.read.parquet(paths.silver)
        .join(
            F.broadcast(involved),
            ["region", "realm_slug", "dump_date", "dump_ts"],
            "left_semi",
        )
        .select(
            "region", "realm_slug", "dump_ts",
            F.explode("auc_list").alias("auc"),
        )
    )
    cur = aucs.join(
        F.broadcast(pairs), ["region", "realm_slug", "dump_ts"]
    ).select(
        "region", "realm_slug", "dump_ts", "prev_ts", "auc",
        F.lit(1).alias("in_cur"),
    )
    prev = (
        aucs.select(
            "region", "realm_slug", F.col("dump_ts").alias("prev_ts"), "auc"
        )
        .join(F.broadcast(pairs), ["region", "realm_slug", "prev_ts"])
        .select(
            "region", "realm_slug", "dump_ts", "prev_ts", "auc",
            F.lit(1).alias("in_prev"),
        )
    )
    recomputed = (
        cur.join(
            prev,
            ["region", "realm_slug", "dump_ts", "prev_ts", "auc"],
            "full_outer",
        )
        .groupBy("region", "realm_slug", "dump_ts")
        .agg(
            F.count(F.when(F.col("in_prev").isNull(), 1)).alias("n_new"),
            F.count(F.when(F.col("in_cur").isNull(), 1)).alias("n_removed"),
            F.count(
                F.when(
                    F.col("in_cur").isNotNull() & F.col("in_prev").isNotNull(),
                    1,
                )
            ).alias("n_persisting"),
        )
        .withColumn("dump_date", F.to_date("dump_ts"))
    )

    # Rewrite ONLY the affected dump_date partitions, carrying over
    # their rows whose pair didn't change (anti-join on the churn key).
    out = recomputed
    if os.path.exists(data_dir):
        dates = recomputed.select("dump_date").distinct()
        keep = (
            spark.read.parquet(data_dir)
            .join(F.broadcast(dates), "dump_date", "left_semi")
            .join(
                F.broadcast(
                    recomputed.select("region", "realm_slug", "dump_ts")
                ),
                ["region", "realm_slug", "dump_ts"],
                "left_anti",
            )
        )
        out = keep.unionByName(recomputed)
    mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            out.repartition("dump_date")
            .write.mode("overwrite")
            .partitionBy("dump_date")
            .parquet(data_dir)
        )
    finally:
        if mode is not None:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", mode)
    os.makedirs(gold_dir, exist_ok=True)
    with open(wm_file, "w") as fh:
        _json.dump({"batch_id": int(hi)}, fh)
    return n_pairs


# ---------------------------------------------------------------------------
# Mergeable percentile sketches (incremental MEDIAN upkeep)
# ---------------------------------------------------------------------------
#
# Exact percentiles are the OTHER common statistic (besides distinct
# counts) that per-batch results can't fold: medians don't add. The
# mergeable state here is a LOG-BUCKET HISTOGRAM per group: bucket
# b = floor(ln(1+v)/w) for fixed width w, so counts merge by plain
# addition (associative + commutative, refresh-order independent) and
# any percentile reads off the bucket CDF with bounded RELATIVE error
# (≤ e^w - 1 ≈ w per side — w=0.05 → ~5%). The same idea as DDSketch
# (Masson et al., VLDB'19): relative-error-bounded, fully mergeable,
# fixed footprint (bucket count grows with the VALUE RANGE's log, not
# with rows). At 100 TB this turns "rescan history to refresh the
# median dashboard" into "add one batch's bucket counts".

_HIST_W = 0.05  # log-bucket width: ~5% relative error per side


def _bucket(value_col, w: float = _HIST_W):
    return F.floor(F.log1p(value_col) / F.lit(w)).cast("int")


def price_histograms(
    df: DataFrame, keys: list[str], value_col, w: float = _HIST_W
) -> DataFrame:
    """Per-key log-bucket counts of ``value_col`` — the stored,
    mergeable state (rows of keys + bucket + cnt). One map-combined
    hash-agg; ``value_col`` may be a Column expression."""
    return (
        df.select(*keys, _bucket(value_col, w).alias("bucket"))
        .groupBy(*keys, "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def merge_price_histograms(
    base: DataFrame, batch: DataFrame, keys: list[str]
) -> DataFrame:
    """Fold a batch's histogram into the standing one: counts ADD.
    Cost scales with groups × occupied buckets, never with history."""
    return (
        base.unionByName(batch)
        .groupBy(*keys, "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def estimate_percentile(
    hists: DataFrame, keys: list[str], q: float, w: float = _HIST_W
) -> DataFrame:
    """Per-key percentile estimate off the bucket CDF: the first
    bucket whose cumulative count reaches q·total, read back as the
    bucket's log-midpoint. Relative error ≤ e^w − 1. One window over
    each group's (few) buckets."""
    from pyspark.sql import Window

    win = Window.partitionBy(*keys).orderBy("bucket")
    tot = Window.partitionBy(*keys)
    ranked = hists.withColumn("cum", F.sum("cnt").over(win)).withColumn(
        "total", F.sum("cnt").over(tot)
    )
    hit = ranked.filter(
        F.col("cum") >= F.lit(q) * F.col("total")
    ).groupBy(*keys).agg(F.min("bucket").alias("bucket"))
    mid = F.expm1((F.col("bucket") + 0.5) * F.lit(w))
    return hit.select(*keys, mid.alias(f"p{int(q * 100)}_est"))


@_serialized_writer
def refresh_price_hist_gold(spark, paths) -> int:
    """Incrementally maintain per-(region, realm, item) BUYOUT-PER-UNIT
    histograms from the medallion commit log — the mergeable-median
    twin of `refresh_owner_sketch_gold` (same watermark sidecar, same
    aside-swap durability): each refresh buckets ONLY the new manifest
    batches' bronze rows and adds the counts into the standing table.
    Returns batches folded (0 = current). Incremental == one-shot is
    exact on the bucket counts (addition is associative), asserted in
    tests along with the ≤5% relative-error bound on the median."""
    import json as _json

    gold_dir = os.path.join(paths.root, "gold", "price_hist")
    data_dir = os.path.join(gold_dir, "hist")
    keys = ["region", "realm_slug", "item"]

    manifest = load_manifest(spark, paths)
    last = _gold_watermark(data_dir).get("batch_id", 0)
    new_keys = manifest.filter(F.col("batch_id") > last)
    n_batches = new_keys.select("batch_id").distinct().count()
    if n_batches == 0:
        return 0
    hi = new_keys.agg(F.max("batch_id")).first()[0]

    fresh = spark.read.parquet(paths.bronze).join(
        F.broadcast(new_keys.select("region", "realm_slug", "dump_ts")),
        ["region", "realm_slug", "dump_ts"],
        "left_semi",
    ).filter(F.col("buyout") > 0)  # A2's zero-buyout exclusion
    batch_hist = price_histograms(
        fresh, keys, F.col("buyout") / F.col("quantity")
    )

    if os.path.exists(data_dir):
        merged = merge_price_histograms(
            spark.read.parquet(data_dir), batch_hist, keys
        )
    else:
        merged = batch_hist
    _commit_gold_swap(merged, data_dir, {"batch_id": int(hi)})
    return n_batches


def read_price_median_gold(spark, paths):
    """Current per-(region, realm, item) median buyout-per-unit
    estimates off the standing histogram (≤ ~5% relative error)."""
    data_dir = os.path.join(paths.root, "gold", "price_hist", "hist")
    return estimate_percentile(
        spark.read.parquet(data_dir), ["region", "realm_slug", "item"], 0.5
    )


def read_churn_gold(spark, paths):
    """Current churn rows (one per non-first snapshot of each realm),
    in the one-shot builder's column shape."""
    data_dir = os.path.join(paths.root, "gold", "churn_incr", "data")
    return spark.read.parquet(data_dir).select(
        "region", "realm_slug", "dump_ts", "n_new", "n_removed",
        "n_persisting",
    )


# ---------------------------------------------------------------------------
# Mergeable EXACT distinct counts via bitmaps (integer key spaces)
# ---------------------------------------------------------------------------
#
# The HLL sketch gold above trades exactness for fixed footprint; for
# BOUNDED-INTEGER key spaces (item ids, user ids) Spark's bitmap
# aggregates give the other point on the curve: per-(group, 32k-bucket)
# bitmaps that OR-merge associatively and read back EXACT distinct
# counts (the Doris/ClickHouse roaring-bitmap warehouse pattern; a22 is
# the query-side form). State is O(key-range/8 bytes) worst case, ~1
# bit per present key when dense — for a 10M-item catalog that is
# ≤1.25 MB per group, far under an executor's memory and dwarfed by
# what rescanning history would cost every refresh.


def item_bitmaps(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """Per-(keys, bucket) bitmap of an INTEGER ``value_col`` — the
    stored, mergeable state. One map-combined hash-agg."""
    return df.groupBy(
        *keys, F.bitmap_bucket_number(value_col).alias("bucket")
    ).agg(F.bitmap_construct_agg(F.bitmap_bit_position(value_col)).alias("bm"))


def merge_item_bitmaps(
    base: DataFrame, batch: DataFrame, keys: list[str]
) -> DataFrame:
    """OR-fold a batch's bitmap table into the standing one. Cost
    scales with groups x occupied buckets, never with history; OR is
    associative + commutative, so refresh order can't change the
    result (asserted in tests)."""
    return (
        base.unionByName(batch)
        .groupBy(*keys, "bucket")
        .agg(F.bitmap_or_agg("bm").alias("bm"))
    )


def count_distinct_exact(bitmaps: DataFrame, keys: list[str]) -> DataFrame:
    """EXACT per-key distinct count read off the bitmap popcounts."""
    return bitmaps.groupBy(*keys).agg(
        F.sum(F.bitmap_count("bm")).alias("distinct_exact")
    )


@_serialized_writer
def refresh_item_bitmap_gold(spark, paths) -> int:
    """Incrementally maintain a gold table of per-(region, realm)
    EXACT distinct-ITEM bitmaps from the medallion commit log — the
    exact-count twin of ``refresh_owner_sketch_gold`` (same watermark
    sidecar, same aside-swap durability): each refresh bitmap-folds
    ONLY the new manifest batches' bronze rows. Returns batches folded
    (0 = already current). Incremental == one-shot == exact
    COUNT(DISTINCT) is asserted in tests."""
    import json as _json

    gold_dir = os.path.join(paths.root, "gold", "item_bitmaps")
    data_dir = os.path.join(gold_dir, "bitmaps")
    keys = ["region", "realm_slug"]

    manifest = load_manifest(spark, paths)
    last = _gold_watermark(data_dir).get("batch_id", 0)
    new_keys = manifest.filter(F.col("batch_id") > last)
    n_batches = new_keys.select("batch_id").distinct().count()
    if n_batches == 0:
        return 0
    hi = new_keys.agg(F.max("batch_id")).first()[0]

    fresh = spark.read.parquet(paths.bronze).join(
        F.broadcast(new_keys.select("region", "realm_slug", "dump_ts")),
        ["region", "realm_slug", "dump_ts"],
        "left_semi",
    )
    batch_bm = item_bitmaps(fresh, keys, "item")

    # First refresh is ONLY the table not existing (read failures on an
    # existing table must propagate — same contract as the sketch gold).
    if os.path.exists(data_dir):
        merged = merge_item_bitmaps(
            spark.read.parquet(data_dir), batch_bm, keys
        )
    else:
        merged = batch_bm
    _commit_gold_swap(merged, data_dir, {"batch_id": int(hi)})
    return n_batches


def read_item_bitmap_gold(spark, paths):
    """Current per-(region, realm) EXACT distinct-item counts."""
    data_dir = os.path.join(paths.root, "gold", "item_bitmaps", "bitmaps")
    return count_distinct_exact(
        spark.read.parquet(data_dir), ["region", "realm_slug"]
    )


# ---------------------------------------------------------------------------
# Mergeable HEAVY-HITTER summaries (incremental top-item upkeep)
# ---------------------------------------------------------------------------
#
# The fourth mergeable gold beside HLL distinct (approx), bitmaps
# (exact distinct) and log-histograms (percentiles): a Misra-Gries
# summary of per-item listing counts. Per-batch EXACT counts (bounded
# by the batch's distinct items) fold into the standing summary by
# plain addition, then truncate to capacity by subtracting the
# (cap+1)-th largest count — the PODS'12 mergeable-summaries step, so
# the standing estimate undercounts any item by at most
# N_total/(cap+1) regardless of how history was split into refreshes.
# Every item with true share above that bound is guaranteed present.

_MG_CAP = 256


def _mg_truncate(df: DataFrame, cap: int = _MG_CAP) -> DataFrame:
    """Keep <=cap rows: subtract the (cap+1)-th largest est, drop the
    non-positive tail. The pivot comes from a DISTRIBUTED top-(cap+1)
    (TakeOrderedAndProject — per-partition heaps), never a global
    row_number window (which would sort the whole merged table in one
    partition); the collect is bounded at cap+1 rows."""
    top = [
        r["est"]
        for r in df.select("est")
        .orderBy(F.col("est").desc())
        .limit(cap + 1)
        .collect()
    ]
    if len(top) <= cap:
        return df
    pivot = top[-1]
    return df.select(
        "item", (F.col("est") - F.lit(pivot)).alias("est")
    ).filter(F.col("est") > 0)


@_serialized_writer
def refresh_hot_items_gold(spark, paths, cap: int = _MG_CAP) -> int:
    """Incrementally maintain the HOT-ITEMS gold (Misra-Gries summary
    of listing counts) from the medallion commit log — same watermark
    sidecar + aside-swap durability as the other mergeable golds.
    Returns batches folded (0 = already current). The summary table
    additionally carries a `_total` sidecar so readers can compute the
    undercount bound N/(cap+1)."""
    import json as _json

    gold_dir = os.path.join(paths.root, "gold", "hot_items")
    data_dir = os.path.join(gold_dir, "summary")

    manifest = load_manifest(spark, paths)
    wm = _gold_watermark(data_dir)
    last, total = wm.get("batch_id", 0), wm.get("n_rows", 0)
    new_keys = manifest.filter(F.col("batch_id") > last)
    n_batches = new_keys.select("batch_id").distinct().count()
    if n_batches == 0:
        return 0
    hi = new_keys.agg(F.max("batch_id")).first()[0]

    fresh = spark.read.parquet(paths.bronze).join(
        F.broadcast(new_keys.select("region", "realm_slug", "dump_ts")),
        ["region", "realm_slug", "dump_ts"],
        "left_semi",
    )
    batch_counts = fresh.groupBy("item").agg(F.count("*").alias("est"))
    n_new = fresh.count()  # bounded: one increment's rows

    if os.path.exists(data_dir):
        standing = spark.read.parquet(data_dir)
        merged = (
            standing.unionByName(batch_counts)
            .groupBy("item")
            .agg(F.sum("est").alias("est"))
        )
    else:
        merged = batch_counts
    summary = _mg_truncate(merged, cap)

    # The cap is part of the summary's meaning (the undercount bound is
    # N/(cap+1)); persist it so readers bound against the capacity the
    # state was actually built with, not the module default.
    _commit_gold_swap(
        summary, data_dir,
        {"batch_id": int(hi), "n_rows": int(total + n_new),
         "cap": int(cap)},
    )
    return n_batches


def read_hot_items_gold(spark, paths):
    """Standing hot-item estimates plus the guaranteed undercount
    bound (N_total/(cap+1)) as a column."""
    import json as _json

    data_dir = os.path.join(paths.root, "gold", "hot_items", "summary")
    wm = _gold_watermark(data_dir)
    # Use the capacity the state was BUILT with (persisted in the
    # in-table watermark) — default only for pre-cap watermarks.
    bound = wm.get("n_rows", 0) // (wm.get("cap", _MG_CAP) + 1)
    return spark.read.parquet(data_dir).select(
        "item", "est", F.lit(bound).alias("max_undercount")
    )


# ---------------------------------------------------------------------------
# Right-to-be-forgotten: erase one owner across the medallion
# ---------------------------------------------------------------------------

# Gold state dirs that CANNOT unlearn a deletion and must rebuild from
# the cleaned bronze: HLL sketches and Misra-Gries summaries have no
# delete operation (mathematically — they are one-way folds), bitmap
# item sets can't tell whether another owner still lists an item, and
# the histogram/churn tables bake the owner's rows into their counts.
_RESET_GOLDS = (
    "owner_sketches", "item_bitmaps", "price_hist", "hot_items",
    "churn_incr", "price_moments",
)


def _overwrite_cleaned(spark, table_path: str, cleaned, affected) -> None:
    """Dynamic-overwrite the affected partitions of ``table_path``
    with ``cleaned`` rows, then REMOVE any affected partition dir the
    cleaned relation no longer has rows for (dynamic overwrite only
    touches partitions present in the written data, so a partition
    whose every row belonged to the erased owner would otherwise
    survive untouched — the one edge that would silently defeat the
    erasure)."""
    # The surviving-partition set must be computed BEFORE the write:
    # the cleaned plan's file index points at the pre-write files,
    # which the overwrite replaces (a post-write collect dies with
    # FILE_NOT_EXIST on the removed listing).
    remaining = {
        tuple(r) for r in cleaned.select(*_PART_KEYS).distinct().collect()
    }
    mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            cleaned.repartition(*_PART_KEYS)
            .write.mode("overwrite")
            .partitionBy(*_PART_KEYS)
            .parquet(table_path)
        )
    finally:
        if mode is not None:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", mode)
    for key in affected:  # bounded: partitions touched
        if key not in remaining:
            d = os.path.join(
                table_path,
                f"region={key[0]}",
                f"realm_slug={key[1]}",
                f"dump_date={key[2]}",
            )
            if os.path.exists(d):
                shutil.rmtree(d)


@_serialized_writer
def forget_owner(spark, paths, owner) -> dict:
    """GDPR-style ERASURE of one owner across the lake: rewrite only
    the bronze/silver/gold-price partitions that contain the owner
    (partition-pruned scans, dynamic overwrite, explicit removal of
    partitions the owner exclusively populated), rebuild the churn
    gold if present (its counts bake every owner in), and RESET the
    incremental sketch/summary golds — HLL and Misra-Gries state
    cannot unlearn, so their state dirs and watermarks are dropped
    and the next refresh rebuilds from the now-clean bronze. Returns
    a report dict; idempotent (a second call is a no-op). At 100 TB
    the cost is proportional to the partitions the owner appears in,
    never the table."""
    from pyspark.sql import functions as F

    bronze = spark.read.parquet(paths.bronze)
    # Materialize the affected-partition KEYS to driver rows (bounded
    # by partitions touched) BEFORE any write: a cached DataFrame over
    # the bronze path would be silently RE-COMPUTED against the
    # post-delete files by Spark's CacheManager.recacheByPath when the
    # bronze overwrite lands — becoming empty and turning every
    # downstream rewrite into a no-op (observed, not hypothetical).
    affected = [
        (r["region"], r["realm_slug"], r["dump_date"])
        for r in bronze.filter(F.col("owner") == owner)
        .select(*_PART_KEYS)
        .distinct()
        .collect()
    ]
    report = {"owner": owner, "partitions": len(affected), "golds_reset": []}
    if not affected:
        return report
    aff_df = F.broadcast(
        spark.createDataFrame(
            affected, f"{_PART_KEYS[0]} string, {_PART_KEYS[1]} string, "
            f"{_PART_KEYS[2]} date"
        )
    )

    # Null-safe inequality: the wire format allows NULL owners, and a
    # plain ``owner != x`` filter evaluates to NULL for them — silently
    # erasing every ANONYMOUS listing that shares a rewritten partition.
    keep = ~F.col("owner").eqNullSafe(F.lit(owner))
    cleaned_bronze = bronze.join(aff_df, _PART_KEYS, "left_semi").filter(keep)
    _overwrite_cleaned(spark, paths.bronze, cleaned_bronze, affected)

    if os.path.exists(paths.silver):
        silver = spark.read.parquet(paths.silver)
        cleaned_silver = silver.join(aff_df, _PART_KEYS, "left_semi").filter(
            keep
        )
        _overwrite_cleaned(spark, paths.silver, cleaned_silver, affected)

        if os.path.exists(paths.gold_prices):
            slice_ = spark.read.parquet(paths.silver).join(
                aff_df, _PART_KEYS, "left_semi"
            )
            _overwrite_cleaned(
                spark, paths.gold_prices, _price_stats(slice_), affected
            )

    if os.path.exists(paths.gold_churn):
        build_gold_churn(spark, paths)
        report["golds_reset"].append("churn")

    for name in _RESET_GOLDS:
        d = os.path.join(paths.root, "gold", name)
        if os.path.exists(d):
            shutil.rmtree(d)
            report["golds_reset"].append(name)

    # Compliance audit trail: append-only record of what was erased
    # and what it touched (the regulator-facing half of the feature).
    import json as _json

    audit_dir = os.path.join(paths.root, "_audit")
    os.makedirs(audit_dir, exist_ok=True)
    with open(os.path.join(audit_dir, "erasures.jsonl"), "a") as fh:
        fh.write(_json.dumps({
            "op": "forget_owner",
            "owner": owner,
            "partitions": [
                (k[0], k[1], str(k[2])) for k in affected
            ],
            "golds_reset": report["golds_reset"],
        }) + "\n")
    return report


# ---------------------------------------------------------------------------
# Mergeable MOMENTS gold (count / mean / std via exact-decimal sums)
# ---------------------------------------------------------------------------
#
# Fifth member of the mergeable-gold family (HLL distinct, exact
# bitmaps, log-histogram percentiles, Misra-Gries hot items): standing
# per-(region, realm) first/second moments of buyout-per-unit. The
# stored state is the SUFFICIENT STATISTICS (n, Σx, Σx²) with the sums
# in DECIMAL(38,6): decimal addition is exact, associative and
# commutative, so refresh order cannot change the result (no
# float-accumulation drift between an incremental and a one-shot
# build — the property the tests assert EXACTLY, not approximately).
# Welford/Chan merging exists to fight float cancellation in s2−s1²/n;
# exact decimal sums make that machinery unnecessary for bounded-range
# prices: the subtraction happens once at READ time on exact inputs,
# and the only rounding is the final cast to double. State per key is
# three numbers — O(groups), never O(history).

_MOM_KEYS = ["region", "realm_slug"]


def price_moments(df: DataFrame, keys: list[str], value_col) -> DataFrame:
    """Per-key (n, Σx, Σx²) of ``value_col`` — the stored, mergeable
    state. One map-combined hash-agg; the DECIMAL(38,6) snap bounds
    the quantum (1e-6 of a gold) while keeping sums exact."""
    x = value_col.cast("decimal(38,6)")
    return df.groupBy(*keys).agg(
        F.count("*").alias("n"),
        F.sum(x).alias("s1"),
        F.sum((x * x).cast("decimal(38,6)")).alias("s2"),
    )


def merge_price_moments(
    base: DataFrame, batch: DataFrame, keys: list[str]
) -> DataFrame:
    """Fold a batch's moment rows into the standing table: counts and
    decimal sums ADD (exact, order-insensitive)."""
    return (
        base.unionByName(batch)
        .groupBy(*keys)
        .agg(
            F.sum("n").alias("n"),
            F.sum("s1").alias("s1"),
            F.sum("s2").alias("s2"),
        )
    )


def read_moment_stats(moments: DataFrame) -> DataFrame:
    """mean / population std / coefficient of variation per key, read
    off the standing sufficient statistics."""
    n = F.col("n")
    mean = (F.col("s1") / n).cast("double")
    var = (F.col("s2") / n).cast("double") - mean * mean
    std = F.sqrt(F.greatest(var, F.lit(0.0)))  # quantum guard at var≈0
    return moments.select(
        *[c for c in moments.columns if c not in ("s1", "s2")],
        mean.alias("mean_price"),
        std.alias("std_price"),
        F.when(mean > 0, std / mean).alias("cv"),
    )


@_serialized_writer
def refresh_price_moments_gold(spark, paths) -> int:
    """Incrementally maintain the per-(region, realm) moments table
    from the medallion commit log — same watermark sidecar + crash-
    healing aside-swap as every other gold. Returns batches folded
    (0 = current); incremental == one-shot EXACTLY (decimal sums)."""
    import json as _json

    gold_dir = os.path.join(paths.root, "gold", "price_moments")
    data_dir = os.path.join(gold_dir, "data")

    manifest = load_manifest(spark, paths)
    last = _gold_watermark(data_dir).get("batch_id", 0)
    new_keys = manifest.filter(F.col("batch_id") > last)
    n_batches = new_keys.select("batch_id").distinct().count()
    if n_batches == 0:
        return 0
    hi = new_keys.agg(F.max("batch_id")).first()[0]

    fresh = spark.read.parquet(paths.bronze).join(
        F.broadcast(new_keys.select("region", "realm_slug", "dump_ts")),
        ["region", "realm_slug", "dump_ts"],
        "left_semi",
    ).filter(F.col("buyout") > 0)  # A2's zero-buyout exclusion
    batch_mom = price_moments(
        fresh, _MOM_KEYS, F.col("buyout") / F.col("quantity")
    )

    if os.path.exists(data_dir):
        merged = merge_price_moments(
            spark.read.parquet(data_dir), batch_mom, _MOM_KEYS
        )
    else:
        merged = batch_mom
    _commit_gold_swap(merged, data_dir, {"batch_id": int(hi)})
    return n_batches


def read_price_moments_gold(spark, paths):
    """Current per-(region, realm) mean/std/cv off the standing
    sufficient statistics."""
    data_dir = os.path.join(paths.root, "gold", "price_moments", "data")
    return read_moment_stats(spark.read.parquet(data_dir))
