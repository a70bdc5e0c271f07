"""Backend-routed versioned-table maintenance (r14, VERDICT r13 item 1).

The contract under test: compaction / Z-order / table swap work on an
OBJECT-STORE root — no rename, no os.walk — by writing immutable data
generations and CAS-swapping a current-version pointer through the
commit backend's verbs. The simulated URI root maps ``s3://bucket/…``
keys onto a tmp directory through a wrapped LocalFSBackend (the
backend the r13 mint-race contract tests use), with the optional
``io_path`` verb translating keys to the paths Spark's reader/writer
should use — so the WHOLE protocol (pointer CAS, generation listing,
Spark parquet IO) runs end-to-end without cloud credentials, and a
literal ``./s3:`` directory appearing anywhere is a routing bug.
"""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from server_spark.plans import commit_backend as cb
from server_spark.plans import versioned_table as vt


class MappedS3Backend:
    """Simulated bucket: every verb translates the ``s3://bucket/``
    key prefix onto a local directory and delegates to a wrapped
    LocalFSBackend (composition, not subclassing — the
    local backend's verbs call each other, and an inheriting mapper
    would map twice), and ``io_path`` hands Spark the same
    translation — the role a Hadoop S3 connector plays for a real
    bucket."""

    def __init__(self, local_root: str, bucket: str = "s3://bucket"):
        self.local_root = local_root
        self.bucket = bucket.rstrip("/") + "/"
        self._inner = cb.LocalFSBackend()

    def _map(self, path: str) -> str:
        assert path.startswith(self.bucket), (
            f"non-bucket key reached the bucket backend: {path!r}"
        )
        return os.path.join(self.local_root, path[len(self.bucket):])

    def io_path(self, path: str) -> str:
        return self._map(path)

    def put_if_absent(self, path, payload):
        return self._inner.put_if_absent(self._map(path), payload)

    def put(self, path, payload):
        return self._inner.put(self._map(path), payload)

    def read(self, path):
        return self._inner.read(self._map(path))

    def list_names(self, prefix):
        return self._inner.list_names(self._map(prefix))

    def delete(self, path):
        return self._inner.delete(self._map(path))

    def object_size(self, path):
        return self._inner.object_size(self._map(path))

    def replace_if_match(self, path, payload, expected):
        return self._inner.replace_if_match(
            self._map(path), payload, expected
        )


def _table(tmp_path, tmp_factory=None) -> vt.VersionedTable:
    be = MappedS3Backend(str(tmp_path / "bucket"))
    return vt.VersionedTable("s3://bucket/lake/events", backend=be)


def _mk_df(spark, rows, extra=0):
    return spark.createDataFrame(
        [("eu" if i % 2 == 0 else "us", i, float(i + extra))
         for i in range(rows)],
        "region string, k long, v double",
    )


def _collect(df):
    # column-order-insensitive: a partitioned read surfaces the
    # partition columns last, the logical df has them first
    return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())


def test_publish_read_roundtrip_on_uri_root(spark, tmp_path):
    t = _table(tmp_path)
    df = _mk_df(spark, 40)
    doc = vt.publish_table(spark, t, df, partition_by=("region",))
    assert doc["version"] == 1
    assert set(doc["generations"]) == {"region=eu", "region=us"}
    got = vt.read_table(spark, t)
    assert _collect(got) == _collect(df)
    # partition columns parse from the generation's Hive paths
    assert set(got.columns) == {"region", "k", "v"}
    # nothing leaked to a literal local './s3:' path
    assert not os.path.exists("s3:")
    # pointer + log live in the bucket keyspace
    be = t.be
    assert be.read("s3://bucket/lake/events/_current") is not None
    assert be.read("s3://bucket/lake/events/_versions/1") is not None


def test_append_then_compact_swaps_pointer_once(spark, tmp_path):
    t = _table(tmp_path)
    vt.publish_table(spark, t, _mk_df(spark, 20), partition_by=("region",))
    for i in range(4):
        vt.append_partitions(spark, t, _mk_df(spark, 20, extra=100 * (i + 1)))
    doc = vt.snapshot(t)
    assert doc["version"] == 5
    # each partition now holds 5 generations of small files
    assert all(len(gs) == 5 for gs in doc["generations"].values())
    before = _collect(vt.read_table(spark, t))

    rep = vt.compact_table(spark, t, min_files=4)
    assert rep["compacted_partitions"] == 2
    assert rep["version"] == 6
    after_doc = vt.snapshot(t)
    # every dirty partition collapsed to exactly one fresh generation
    assert all(len(gs) == 1 for gs in after_doc["generations"].values())
    after = vt.read_table(spark, t)
    assert _collect(after) == before
    # and the rewrite really merged files: one data file per partition
    n_files = after.select(
        F.input_file_name().alias("f")).distinct().count()
    assert n_files == 2
    # idempotent: a second compaction finds nothing dirty, no commit
    rep2 = vt.compact_table(spark, t, min_files=4)
    assert rep2 == {"compacted_partitions": 0, "skipped_partitions": 2,
                    "version": None}
    assert vt.snapshot(t)["version"] == 6


def test_snapshot_isolation_across_concurrent_swap(spark, tmp_path):
    """THE reader contract (VERDICT r13 item 1 'done' bar): a reader
    that resolved the pointer before a compaction commits keeps
    reading its exact version — same rows, same files — while the
    swap lands; only a fresh pointer resolution sees the new layout."""
    t = _table(tmp_path)
    vt.publish_table(spark, t, _mk_df(spark, 30), partition_by=("region",))
    for i in range(3):
        vt.append_partitions(spark, t, _mk_df(spark, 30, extra=100 * (i + 1)))

    pinned = vt.snapshot(t)
    pinned_df = vt.read_table(spark, t, pointer=pinned)
    rows_before = _collect(pinned_df)
    files_before = sorted(
        r[0] for r in pinned_df.select(
            F.input_file_name().alias("f")).distinct().collect()
    )

    # the swap lands on another thread while this reader is live
    err: list[Exception] = []

    def compact():
        try:
            vt.compact_table(spark, t, min_files=2)
        except Exception as e:  # noqa: BLE001
            err.append(e)

    th = threading.Thread(target=compact)
    th.start()
    th.join()
    assert not err

    # pinned reader: identical rows AND identical physical files —
    # the old generations are immutable and still present
    again = vt.read_table(spark, t, pointer=pinned)
    assert _collect(again) == rows_before
    files_again = sorted(
        r[0] for r in again.select(
            F.input_file_name().alias("f")).distinct().collect()
    )
    assert files_again == files_before
    # fresh resolution: same rows, new (compacted) layout
    fresh = vt.read_table(spark, t)
    assert _collect(fresh) == rows_before
    n_fresh_files = fresh.select(
        F.input_file_name().alias("f")).distinct().count()
    assert n_fresh_files < len(files_before)
    # time travel reaches the pinned version by number too
    assert _collect(
        vt.read_table_asof(spark, t, pinned["version"])
    ) == rows_before


def test_concurrent_commit_exactly_one_winner(spark, tmp_path):
    """Two commits planned from the same snapshot: the log claim is
    the serialization point — exactly one moves the pointer, the
    loser raises BEFORE publishing and its number is burned."""
    t = _table(tmp_path)
    vt.publish_table(spark, t, _mk_df(spark, 10), partition_by=("region",))
    doc, raw = vt._read_pointer(t)
    gens = {p: list(g) for p, g in doc["generations"].items()}
    first = vt._commit(t, gens, doc["meta"], raw, doc["version"])
    assert first["version"] == 2
    # the loser plans v3 (the log already carries 2), wins the log
    # claim for 3, then loses the pointer CAS — 3 is BURNED
    with pytest.raises(vt.ConcurrentSwapError, match="burned"):
        vt._commit(t, gens, doc["meta"], raw, doc["version"])
    # the pointer still shows the winner
    assert vt.snapshot(t)["version"] == 2

    # burned numbers are never reused: a fresh commit skips them
    # (same discipline as burned batch ids in the medallion mint)
    with pytest.raises(vt.ConcurrentSwapError, match="burned"):
        vt._commit(t, gens, doc["meta"], raw, prev_version=2)
    doc3, raw3 = vt._read_pointer(t)
    ok = vt._commit(t, gens, doc3["meta"], raw3, doc3["version"])
    assert ok["version"] == 5  # 3 and 4 burned, never reused
    assert vt.versions(t) == [1, 2, 3, 4, 5]
    assert vt.snapshot(t)["version"] == 5


def test_no_cas_fallback_read_verify_put(spark, tmp_path, monkeypatch):
    """A backend without replace_if_match still commits (read-verify-
    put, documented as atomic only under the commit lock) and still
    refuses a commit planned against a stale pointer."""
    t = _table(tmp_path)
    monkeypatch.delattr(MappedS3Backend, "replace_if_match")
    assert not hasattr(t.be, "replace_if_match")
    vt.publish_table(spark, t, _mk_df(spark, 10), partition_by=("region",))
    doc, raw = vt._read_pointer(t)
    vt.append_partitions(spark, t, _mk_df(spark, 10, extra=100))
    assert vt.snapshot(t)["version"] == 2
    # stale plan loses even on the fallback path
    with pytest.raises(vt.ConcurrentSwapError):
        vt._commit(t, dict(doc["generations"]), doc["meta"], raw,
                   doc["version"])


def test_zorder_rewrite_versioned(spark, tmp_path):
    t = _table(tmp_path)
    df = _mk_df(spark, 200)
    vt.publish_table(spark, t, df, partition_by=("region",))
    rep = vt.rewrite_zordered(spark, t, "k", "v")
    assert rep["version"] == 2
    doc = vt.snapshot(t)
    assert doc["meta"]["zorder"]["cols"] == ["k", "v"]
    assert len(doc["meta"]["zorder"]["bounds"]) == 4
    assert _collect(vt.read_table(spark, t)) == _collect(df)


def test_vacuum_reclaims_only_superseded_generations(spark, tmp_path):
    t = _table(tmp_path)
    vt.publish_table(spark, t, _mk_df(spark, 20), partition_by=("region",))
    vt.append_partitions(spark, t, _mk_df(spark, 20, extra=100))
    vt.compact_table(spark, t, min_files=2)  # v3: all data in new gen
    rows = _collect(vt.read_table(spark, t))

    # an orphan generation (in-flight writer's uncommitted output)
    # must survive the vacuum
    t.be.put("s3://bucket/lake/events/data/g999999-deadbeef/part-0.parquet",
             b"in-flight")

    rep = vt.vacuum(t, keep_versions=1)
    assert rep["generations_removed"] == 2  # v1's and v2's gens
    assert rep["versions_kept"] == [3]
    # current version unharmed
    assert _collect(vt.read_table(spark, t)) == rows
    # orphan untouched
    assert t.be.read(
        "s3://bucket/lake/events/data/g999999-deadbeef/part-0.parquet"
    ) == b"in-flight"
    # a snapshot older than the retention window is now broken — the
    # documented Delta-VACUUM-style contract
    with pytest.raises(Exception):
        vt.read_table_asof(spark, t, 1).collect()


def test_unpartitioned_table_swap(spark, tmp_path):
    """Whole-table swap (publish over publish) on an unpartitioned
    table: the '' partition key, atomic replacement, old version
    readable until vacuum."""
    t = _table(tmp_path)
    d1 = vt.publish_table(spark, t, _mk_df(spark, 10).repartition(6))
    assert set(d1["generations"]) == {""}
    df1_files = vt.read_table(spark, t).select(
        F.input_file_name().alias("f")).distinct().count()
    assert df1_files >= 4  # fragmented (empty split files may drop)
    d2 = vt.publish_table(spark, t, _mk_df(spark, 5, extra=1000))
    assert d2["version"] == 2
    assert vt.read_table(spark, t).count() == 5
    # compaction heals the fragmented OLD layout had it stayed:
    # republish fragmented, compact to one file
    vt.publish_table(spark, t, _mk_df(spark, 40).repartition(8))
    rep = vt.compact_table(spark, t, min_files=4)
    assert rep["compacted_partitions"] == 1
    n = vt.read_table(spark, t).select(
        F.input_file_name().alias("f")).distinct().count()
    assert n == 1


def test_uri_root_requires_backend(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_COMMIT_BACKEND", raising=False)
    with pytest.raises(ValueError, match="needs a commit backend"):
        vt.VersionedTable("s3://bucket/lake/t")


def test_local_root_works_with_default_backend(spark, tmp_path):
    """A plain local root gets the same reader-safe maintenance
    through the default POSIX backend — no object store required."""
    t = vt.VersionedTable(str(tmp_path / "t"))
    df = _mk_df(spark, 12)
    vt.publish_table(spark, t, df, partition_by=("region",))
    vt.append_partitions(spark, t, _mk_df(spark, 12, extra=7))
    pinned = vt.snapshot(t)
    rep = vt.compact_table(spark, t, min_files=2)
    assert rep["version"] == 3
    assert _collect(vt.read_table(spark, t)) == _collect(
        df.unionByName(_mk_df(spark, 12, extra=7))
    )
    # pinned pre-compaction snapshot still byte-identical
    assert _collect(vt.read_table(spark, t, pointer=pinned)) == _collect(
        vt.read_table(spark, t)
    )


def test_concurrent_appenders_all_land_with_retries(spark, tmp_path):
    """Optimistic blind-append concurrency (Delta-style): four
    lock-free appenders race one pointer; losers retry by re-planning
    against the fresh pointer WITHOUT rewriting their generation —
    every row lands exactly once and every commit got its own
    version."""
    t = _table(tmp_path)
    vt.publish_table(spark, t, _mk_df(spark, 10), partition_by=("region",))
    errs: list[Exception] = []

    def appender(i):
        try:
            vt.append_partitions(
                spark, t, _mk_df(spark, 10, extra=1000 * (i + 1)),
                retries=10,
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=appender, args=(i,))
               for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    doc = vt.snapshot(t)
    # 4 appends all committed (lost races burn log numbers, so the
    # final version is AT LEAST publish+4; the row check below proves
    # none was lost and none landed twice)
    assert doc["version"] >= 5
    expected = _mk_df(spark, 10)
    for i in range(4):
        expected = expected.unionByName(
            _mk_df(spark, 10, extra=1000 * (i + 1))
        )
    assert _collect(vt.read_table(spark, t)) == _collect(expected)


def test_versioned_stream_sink_exactly_once_gate(spark, tmp_path):
    """The foreachBatch contract is at-least-once; the sink's epoch
    gate (committed in the SAME pointer CAS as the generation list)
    makes the table exactly-once: replays of a committed batch change
    nothing, distinct sink ids gate independently."""
    t = _table(tmp_path)
    sink = vt.versioned_stream_sink(t, partition_by=("region",))
    sink(_mk_df(spark, 10), 0)  # first batch auto-publishes
    assert vt.snapshot(t)["version"] == 1
    sink(_mk_df(spark, 10, extra=100), 1)
    assert vt.snapshot(t)["version"] == 2
    rows = _collect(vt.read_table(spark, t))
    # at-least-once replay of batch 1 (crash between commit and
    # checkpoint): gate holds, no version, no rows
    sink(_mk_df(spark, 10, extra=100), 1)
    assert vt.snapshot(t)["version"] == 2
    assert _collect(vt.read_table(spark, t)) == rows
    # an OLDER epoch replay is gated too
    sink(_mk_df(spark, 10), 0)
    assert vt.snapshot(t)["version"] == 2
    # the next epoch lands normally
    sink(_mk_df(spark, 5, extra=999), 2)
    doc = vt.snapshot(t)
    assert doc["version"] == 3
    assert doc["meta"]["stream_epochs"] == {"stream": 2}
    # a second stream id keeps an independent gate on the same table
    sink_b = vt.versioned_stream_sink(t, ("region",), sink_id="other")
    sink_b(_mk_df(spark, 3, extra=5555), 0)
    doc = vt.snapshot(t)
    assert doc["version"] == 4
    assert doc["meta"]["stream_epochs"] == {"stream": 2, "other": 0}


def test_versioned_stream_sink_real_availablenow_stream(spark, tmp_path):
    """End-to-end: a real file-source stream drains into a versioned
    table via foreachBatch; a second run on the SAME checkpoint
    processes only the new files and the epoch gate advances."""
    t = vt.VersionedTable(str(tmp_path / "vt"))
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    base = _mk_df(spark, 12)
    base.write.mode("append").parquet(src)

    def drain():
        q = (
            spark.readStream.schema(base.schema).parquet(src)
            .writeStream.foreachBatch(
                vt.versioned_stream_sink(t, ("region",))
            )
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert vt.read_table(spark, t).count() == 12
    more = _mk_df(spark, 6, extra=50)
    more.write.mode("append").parquet(src)
    drain()
    assert _collect(vt.read_table(spark, t)) == _collect(
        base.unionByName(more)
    )
    # fragmentation from micro-batches heals under the normal
    # compaction, invisibly to pinned readers
    rep = vt.compact_table(spark, t, min_files=2)
    assert rep["compacted_partitions"] == 2
    assert _collect(vt.read_table(spark, t)) == _collect(
        base.unionByName(more)
    )


def test_vacuum_survives_burned_claims_above_pointer(spark, tmp_path):
    """r14 review (data-loss class): burned log claims ABOVE the
    current pointer must never crowd the retention window — the
    first cut anchored on the raw newest log entries, so two crashed
    compaction claims could push the LIVE version out of the window
    and vacuum deleted files the current pointer still references."""
    t = _table(tmp_path)
    vt.publish_table(spark, t, _mk_df(spark, 20), partition_by=("region",))
    vt.append_partitions(spark, t, _mk_df(spark, 20, extra=100))
    rows = _collect(vt.read_table(spark, t))
    doc = vt.snapshot(t)
    assert doc["version"] == 2
    # two crashed/lost maintenance claims above the pointer: their
    # docs reference only never-published generations
    for v in (3, 4):
        t.be.put_if_absent(
            f"s3://bucket/lake/events/_versions/{v}",
            json.dumps({"version": v,
                        "generations": {"region=eu": [f"g-burn{v}"]},
                        "meta": {}}).encode(),
        )
    rep = vt.vacuum(t, keep_versions=2)
    # nothing the live pointer references may be dropped
    assert _collect(vt.read_table(spark, t)) == rows
    assert rep["versions_kept"] == [1, 2]  # burns not counted


def test_publish_only_if_absent_never_clobbers_a_first_commit(
    spark, tmp_path
):
    """r14 review: the stream sink observes pointer=None, then a
    concurrent instance commits v1 before publish_table's own read —
    only_if_absent pins the commit to the observed absence, so the
    race raises instead of table-swapping over the first commit."""
    t = _table(tmp_path)
    first = _mk_df(spark, 8)
    vt.publish_table(spark, t, first, partition_by=("region",))
    with pytest.raises(vt.ConcurrentSwapError):
        vt.publish_table(
            spark, t, _mk_df(spark, 8, extra=100),
            partition_by=("region",), only_if_absent=True,
        )
    assert _collect(vt.read_table(spark, t)) == _collect(first)
    # the sink wrapper converts exactly that race into an append
    sink = vt.versioned_stream_sink(t, ("region",), sink_id="b")
    sink(_mk_df(spark, 8, extra=100), 0)
    assert vt.read_table(spark, t).count() == 16


def test_commit_hot_path_skips_log_list(spark, tmp_path):
    """r14 review: the uncontended commit must cost ONE conditional
    PUT at prev+1 — a full _versions/ LIST per append would grow
    linearly with table age on a streaming sink."""
    t = _table(tmp_path)
    calls = []
    inner_list = t.backend.list_names

    def counting_list(prefix):
        if "_versions" in prefix:
            calls.append(prefix)
        return inner_list(prefix)

    t.backend.list_names = counting_list
    vt.publish_table(spark, t, _mk_df(spark, 6), partition_by=("region",))
    vt.append_partitions(spark, t, _mk_df(spark, 6, extra=10))
    vt.append_partitions(spark, t, _mk_df(spark, 6, extra=20))
    assert calls == []  # no log LIST on any uncontended commit
    # contended path (stale plan) falls back to the LIST exactly once
    doc, raw = vt._read_pointer(t)
    vt.append_partitions(spark, t, _mk_df(spark, 6, extra=30))
    with pytest.raises(vt.ConcurrentSwapError):
        vt._commit(t, {p: list(g) for p, g in doc["generations"].items()},
                   doc["meta"], raw, doc["version"])
    assert len(calls) == 1


def test_zorder_empty_or_allnull_is_loud(spark, tmp_path):
    t = _table(tmp_path)
    df = spark.createDataFrame(
        [("eu", None, None)], "region string, k long, v double"
    )
    vt.publish_table(spark, t, df, partition_by=("region",))
    with pytest.raises(ValueError, match="all-NULL|no non-null"):
        vt.rewrite_zordered(spark, t, "k", "v")


def test_compaction_cost_scales_with_dirty_subset(spark, tmp_path):
    """The 100 TB posture claim, asserted: with one fragmented
    partition among many clean ones, compaction's rewrite touches
    ONLY the dirty partition's files (backend reads prove it) and the
    clean partitions' generation entries are carried over verbatim —
    never re-read, never re-written."""
    t = _table(tmp_path)
    df = spark.createDataFrame(
        [(f"r{i}", j, float(j)) for i in range(8) for j in range(10)],
        "region string, k long, v double",
    ).repartition("region")  # one file per partition at publish
    vt.publish_table(spark, t, df, partition_by=("region",))
    # fragment exactly one partition with four appends
    for e in range(4):
        vt.append_partitions(
            spark, t,
            spark.createDataFrame(
                [("r3", 100 + e, float(e))],
                "region string, k long, v double",
            ),
        )
    before = vt.snapshot(t)
    clean_entries = {
        p: gs for p, gs in before["generations"].items() if p != "region=r3"
    }

    read_files: list[str] = []
    inner_io = t.backend.io_path

    def spying_io(path):
        local = inner_io(path)
        read_files.append(path)
        return local

    t.backend.io_path = spying_io
    rep = vt.compact_table(spark, t, min_files=3)
    t.backend.io_path = inner_io
    assert rep["compacted_partitions"] == 1
    assert rep["skipped_partitions"] == 7
    # every data path Spark was handed belongs to the dirty partition
    # or the new generation's output — no clean partition was read
    data_paths = [p for p in read_files if "/data/" in p]
    assert data_paths, "compaction went through io_path"
    for p in data_paths:
        # dirty partition reads name region=r3; the only other data
        # path is the new generation's output ROOT (no partition
        # component — Spark appends region=... itself on write)
        assert "region=r3" in p or "region=" not in p, p
    # clean partitions' generation lists carried over verbatim
    after = vt.snapshot(t)
    assert {
        p: gs for p, gs in after["generations"].items() if p != "region=r3"
    } == clean_entries
    assert len(after["generations"]["region=r3"]) == 1


def test_pointer_corruption_is_loud(tmp_path):
    t = _table(tmp_path)
    t.be.put("s3://bucket/lake/events/_current", b"{not json")
    with pytest.raises(RuntimeError, match="unreadable _current"):
        vt.snapshot(t)
