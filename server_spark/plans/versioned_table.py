"""Backend-routed VERSIONED TABLE maintenance (r14, VERDICT r13 item 1).

The last POSIX-ism in the medallion story: compaction / Z-order /
table swap (`plans.maintenance`: `compact_partitions` and the gold
table swaps) are two-rename directory swaps, so an object-store
deployment got transactional ingest (the r13 commit backend) but no
layout rewrite — `commit_backend.local_path` rejects URI roots loudly. This module is
the standard warehouse answer, built on the SAME five-verb backend
protocol plus its optional CAS verb: data lives in IMMUTABLE
GENERATIONS and a tiny CURRENT-VERSION POINTER object is swapped
atomically via ``replace_if_match`` (S3 ``If-Match`` etag PUT / GCS
``if-generation-match``) — the Delta/Iceberg commit pattern reduced
to its minimal form.

Layout under one table root (any scheme the backend serves)::

    <table>/_current            pointer object (JSON, swapped by CAS)
    <table>/_versions/<N>       immutable commit log (put-if-absent,
                                exactly one winner per version number)
    <table>/data/<gen>/<part>/  immutable parquet data; <gen> is
                                minted per commit (version + random
                                token), <part> is the Hive-style
                                partition path ('' when unpartitioned)

The pointer document maps every partition to the ORDERED LIST of
generations that currently serve it — an append lands a new
generation and pushes it onto the affected partitions' lists; a
compaction merges a partition's whole list into one fresh generation
and replaces the list. Untouched partitions keep their old files
verbatim (file reuse across versions), so maintenance cost scales
with the fragmented subset, never the table — the property the local
two-rename swap had, now reader-safe: readers resolve the pointer
ONCE (:func:`snapshot`) and then touch only immutable prefixes, so a
concurrent swap is invisible to them. Snapshot isolation without a
lock, proven in tests/test_versioned_table.py across a live swap.

Concurrency contract:
- Reader vs writer: always safe. A reader pinned to a snapshot sees
  exactly that version's files until :func:`vacuum` reclaims
  superseded generations (run vacuum on a cadence longer than your
  longest reader — the Delta VACUUM retention contract).
- Writer vs writer: every commit first claims its version number in
  the `_versions/` log via put-if-absent (exactly one winner — the
  same burned-id discipline as the medallion batch mint), then CASes
  the pointer from the exact bytes it planned against. A lost race
  raises :class:`ConcurrentSwapError` before the pointer moves; the
  loser's generation is an unreferenced orphan (never visible,
  reclaimable). Serialize maintenance under ``medallion.commit_lock``
  to avoid wasted work, not for correctness.
- No-CAS backends: the pointer swap degrades to read-verify-put,
  which is atomic ONLY under the commit lock — documented fallback,
  same best-effort contract as the backend lock's no-CAS stale break.

Optional backend verbs used here (documented in
``plans/commit_backend.py``): ``io_path(path) -> str`` translates a
logical object key to the URL Spark's Hadoop connector should
read/write (identity by default — on a real bucket the key IS the
URL; a test backend maps ``s3://bucket/...`` onto a local directory
so the whole protocol runs end-to-end without cloud credentials).
``object_size(path) -> int | None`` lets compaction size its output
(absent sizes, the file-count criterion alone decides).
"""

from __future__ import annotations

import json
import os
import posixpath
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from server_spark.plans import commit_backend as cb

_POINTER = "_current"
_LOG_DIR = "_versions"
_DATA_DIR = "data"


class ConcurrentSwapError(RuntimeError):
    """Two writers raced one table version: the loser's commit was
    refused BEFORE the pointer moved (its generation is an invisible
    orphan). Re-read the table and retry the maintenance."""


@dataclass
class VersionedTable:
    """One versioned table root + the commit backend that serves it.
    Mirrors MedallionPaths' URI gating: a URI root requires a backend
    (explicit wins, else the ``SPARK_GRAFT_COMMIT_BACKEND`` hook);
    plain local roots default to the POSIX backend — so a local lake
    gets the same reader-safe maintenance, minus nothing."""

    root: str
    backend: object | None = None

    def __post_init__(self) -> None:
        if cb.is_uri(self.root):
            if self.backend is None and cb.injected_backend() is None:
                raise ValueError(
                    f"VersionedTable on URI root {self.root!r} needs a "
                    "commit backend (plans/commit_backend.py): supply "
                    "backend= or set SPARK_GRAFT_COMMIT_BACKEND"
                )
            return
        self.root = cb.local_path(self.root, "VersionedTable")

    @property
    def be(self):
        return cb.backend_for(self)

    def io(self, key: str) -> str:
        """Spark-facing URL for a logical object key (optional
        ``io_path`` verb; identity when the backend has none)."""
        fn = getattr(self.be, "io_path", None)
        return fn(key) if callable(fn) else key

    def _join(self, *parts: str) -> str:
        return posixpath.join(self.root, *[p for p in parts if p])


def _read_pointer(t: VersionedTable) -> tuple[dict | None, bytes | None]:
    raw = t.be.read(t._join(_POINTER))
    if raw is None:
        return None, None
    try:
        return json.loads(raw), raw
    except ValueError as exc:
        raise RuntimeError(
            f"versioned table {t.root} has an unreadable _current "
            f"pointer ({exc}); refusing to guess a version — restore "
            "it from the _versions/ log"
        ) from exc


def snapshot(t: VersionedTable) -> dict | None:
    """The current pointer document, or None for a never-published
    table. Pass it back to :func:`read_table` to PIN a version: the
    files it names are immutable, so the snapshot stays consistent
    across any number of concurrent commits (until vacuum)."""
    doc, _ = _read_pointer(t)
    return doc


def _max_logged_version(t: VersionedTable) -> int:
    """Highest version number ever CLAIMED in the commit log — like
    the medallion's burned batch ids, a claim whose pointer swap lost
    burns the number; the next commit must skip it, never reuse it."""
    return max(
        (int(n) for n in t.be.list_names(t._join(_LOG_DIR)) if n.isdigit()),
        default=0,
    )


def _commit(
    t: VersionedTable, generations: dict[str, list[str]], meta: dict,
    expected_raw: bytes | None, prev_version: int,
) -> dict:
    """Claim the next version in the log, then swap the pointer.

    The log claim (put-if-absent, exactly one winner per number) is
    the serialization point; the pointer CAS then can only fail if a
    NO-CAS writer moved the pointer without a log claim we could see
    — either way the losing commit raises before the pointer moves.

    Hot-path cost (r14 review): the uncontended commit is ONE
    conditional PUT at ``prev_version + 1`` — no log LIST. Only when
    that number is already claimed (contention, or burned claims
    above the pointer) does the commit pay one LIST to skip past the
    burn set; without this, a year-old streaming table's every
    append would re-LIST its whole commit log.
    """

    def _attempt(version: int) -> tuple[dict, bytes] | None:
        doc = {
            "version": version,
            "generations": generations,
            "meta": meta,
            "committed_at": time.time(),
        }
        payload = json.dumps(doc, sort_keys=True).encode()
        if t.be.put_if_absent(t._join(_LOG_DIR, str(version)), payload):
            return doc, payload
        return None

    version = prev_version + 1
    claimed = _attempt(version)
    if claimed is None:
        version = max(prev_version, _max_logged_version(t)) + 1
        claimed = _attempt(version)
    if claimed is None:
        raise ConcurrentSwapError(
            f"version {version} of {t.root} was claimed by another "
            "writer — re-read the table and retry"
        )
    doc, payload = claimed
    pointer = t._join(_POINTER)
    if expected_raw is None:
        ok = t.be.put_if_absent(pointer, payload)
    else:
        cas = getattr(t.be, "replace_if_match", None)
        if callable(cas):
            ok = cas(pointer, payload, expected_raw)
        else:
            # no-CAS fallback (documented): read-verify-put, atomic
            # only under the caller's commit_lock
            ok = t.be.read(pointer) == expected_raw
            if ok:
                t.be.put(pointer, payload)
    if not ok:
        raise ConcurrentSwapError(
            f"pointer swap for {t.root} v{version} lost: the pointer "
            "moved since this commit was planned (log entry "
            f"{version} is burned; the new generation is an "
            "unreferenced orphan)"
        )
    return doc


def _list_gen_partitions(t: VersionedTable, gen: str) -> set[str]:
    """Partition rel paths holding data files under one generation
    (hidden components excluded — Spark's _SUCCESS markers and
    _temporary trees are not partitions)."""
    parts: set[str] = set()
    for name in t.be.list_names(t._join(_DATA_DIR, gen)):
        comps = name.replace("\\", "/").split("/")
        if any(c.startswith(("_", ".")) for c in comps):
            continue
        parts.add("/".join(comps[:-1]))
    return parts


def _gen_token(version: int) -> str:
    return f"g{version:06d}-{os.urandom(4).hex()}"


def _write_gen(
    t: VersionedTable, df: DataFrame, gen: str,
    partition_by: tuple[str, ...], one_file_per_partition: bool,
) -> None:
    out = t.io(t._join(_DATA_DIR, gen))
    if partition_by:
        if one_file_per_partition:
            # one shuffle keyed by the partition columns -> one
            # output file per partition (maintenance-grade layout)
            df = df.repartition(*[F.col(c) for c in partition_by])
        df.write.mode("errorifexists").partitionBy(*partition_by).parquet(
            out
        )
    else:
        df.write.mode("errorifexists").parquet(out)


def publish_table(
    spark: SparkSession,
    t: VersionedTable,
    df: DataFrame,
    partition_by: tuple[str, ...] = (),
    meta: dict | None = None,
    only_if_absent: bool = False,
) -> dict:
    """Full publish (initial load or atomic whole-TABLE SWAP): write
    ``df`` as a fresh generation, then point `_current` at it. The
    replaced version's files are untouched — pinned readers keep
    them until vacuum. Returns the committed pointer doc.

    ``only_if_absent=True`` pins the commit to the NEVER-PUBLISHED
    state the caller observed: the pointer lands via put-if-absent
    regardless of what a re-read would show, so a first commit that
    raced in since the caller's check raises ConcurrentSwapError
    instead of being silently table-swapped over (r14 review — the
    stream sink's init path could clobber a concurrent instance's
    first batch without this)."""
    prev, raw = _read_pointer(t)
    if only_if_absent:
        prev, raw = None, None
    prev_version = prev["version"] if prev else 0
    gen = _gen_token(prev_version + 1)
    _write_gen(t, df, gen, partition_by, one_file_per_partition=False)
    generations = {p: [gen] for p in _list_gen_partitions(t, gen)}
    return _commit(
        t, generations,
        dict(meta or {}, partition_by=list(partition_by)),
        raw, prev_version,
    )


def append_partitions(
    spark: SparkSession, t: VersionedTable, df: DataFrame,
    retries: int = 5,
    epoch: tuple[str, int] | None = None,
) -> dict:
    """APPEND rows as a new generation: affected partitions gain the
    generation at the end of their list, untouched partitions are
    untouched — the versioned analog of the medallion's
    append-per-micro-batch sinks (and the source of the small-file
    fragmentation :func:`compact_table` exists to heal). ``df`` must
    carry the table's partition columns. Returns the pointer doc.

    OPTIMISTIC CONCURRENCY (Delta-style blind-append semantics): the
    generation is written ONCE; a lost pointer race only invalidates
    the commit PLAN, not the immutable data, so the retry re-reads
    the pointer and re-applies "push my generation onto the affected
    partitions' lists" against the fresh state — appends commute with
    concurrent appends and compactions, no rewrite, no Spark job.
    ``retries=0`` keeps the raise-on-first-conflict behavior. A
    compaction that raced in between does NOT fold this generation
    (it wasn't visible), so the appended files simply queue for the
    next compaction — correctness unaffected.

    ``epoch=(sink_id, batch_id)`` is the EXACTLY-ONCE gate for
    streaming sinks (:func:`versioned_stream_sink`): the committed
    pointer meta records the highest batch id per sink, ATOMICALLY
    with the generation list (one CAS — the pointer-swap analog of
    the epoch-inside-the-swapped-state-dir recipe every rename-based
    streaming gold here uses). An append whose epoch the fresh
    pointer already covers returns WITHOUT committing — on replay
    after a crash between commit and checkpoint, or when a
    concurrent sink instance won the race; the written generation is
    then an unreferenced orphan for vacuum."""
    doc, raw = _read_pointer(t)
    if doc is None:
        raise FileNotFoundError(f"versioned table {t.root} has no "
                                "published version")
    if epoch is not None and _epoch_covered(doc, epoch):
        return doc  # checkpoint replay — nothing to write
    partition_by = tuple(doc.get("meta", {}).get("partition_by") or ())
    gen = _gen_token(doc["version"] + 1)
    _write_gen(t, df, gen, partition_by, one_file_per_partition=False)
    touched = _list_gen_partitions(t, gen)
    for attempt in range(retries + 1):
        if epoch is not None and _epoch_covered(doc, epoch):
            return doc  # a concurrent sink instance committed it
        generations = {p: list(gs) for p, gs in doc["generations"].items()}
        for part in touched:
            generations.setdefault(part, []).append(gen)
        meta = dict(doc.get("meta", {}))
        if epoch is not None:
            epochs = dict(meta.get("stream_epochs", {}))
            epochs[epoch[0]] = epoch[1]
            meta["stream_epochs"] = epochs
        try:
            return _commit(
                t, generations, meta, raw, doc["version"]
            )
        except ConcurrentSwapError:
            if attempt == retries:
                raise
            time.sleep(0.05 * (attempt + 1))
            doc, raw = _read_pointer(t)
            if doc is None:  # table dropped out from under us
                raise


def _epoch_covered(doc: dict, epoch: tuple[str, int]) -> bool:
    sink_id, batch_id = epoch
    return (
        doc.get("meta", {}).get("stream_epochs", {}).get(sink_id, -1)
        >= batch_id
    )


def versioned_stream_sink(
    t: VersionedTable,
    partition_by: tuple[str, ...] = (),
    sink_id: str = "stream",
):
    """EXACTLY-ONCE Structured Streaming sink into a versioned table:
    a ``foreachBatch`` function that appends each micro-batch as one
    immutable generation, gated on the batch epoch recorded IN THE
    POINTER META — epoch and generation list commit in the SAME CAS,
    so a crash between the append-commit and the stream checkpoint
    replays the batch into the gate, never into the data (the
    pointer-swap analog of ``streaming.pipeline``'s
    epoch-inside-the-swapped-dir recipe; foreachBatch is
    at-least-once by contract). The first batch auto-publishes the
    table with ``partition_by``; distinct ``sink_id``s let several
    streams feed one table with independent gates. Micro-batch
    small-file buildup is the normal versioned-table fragmentation —
    heal it on a cadence with :func:`compact_table`, which a pinned
    reader never notices."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        doc, _ = _read_pointer(t)
        if doc is None:
            try:
                # only_if_absent pins the init to the None we just
                # observed — a first commit racing in between lands
                # us in ConcurrentSwapError and the append path,
                # never in a table swap over the other instance
                publish_table(
                    spark, t, batch_df, partition_by,
                    meta={"stream_epochs": {sink_id: batch_id}},
                    only_if_absent=True,
                )
                return
            except ConcurrentSwapError:
                pass  # another instance initialized — fall through
        append_partitions(
            spark, t, batch_df, epoch=(sink_id, batch_id)
        )

    return sink


def _grouped_by_gen(
    generations: dict[str, list[str]], parts: list[str] | None = None
) -> dict[str, list[str]]:
    """{gen -> [partition, ...]} over (a subset of) the pointer map."""
    by_gen: dict[str, list[str]] = {}
    for part, gens in generations.items():
        if parts is not None and part not in parts:
            continue
        for gen in gens:
            by_gen.setdefault(gen, []).append(part)
    return by_gen


def _read_gen_group(
    spark: SparkSession, t: VersionedTable, gen: str, parts: list[str]
) -> DataFrame:
    base = t.io(t._join(_DATA_DIR, gen))
    if parts == [""]:
        return spark.read.parquet(base)
    return spark.read.option("basePath", base).parquet(
        *[t.io(t._join(_DATA_DIR, gen, p)) for p in sorted(parts)]
    )


def _read_at(
    spark: SparkSession, t: VersionedTable, doc: dict,
    parts: list[str] | None = None,
) -> DataFrame:
    frames = [
        _read_gen_group(spark, t, gen, ps)
        for gen, ps in sorted(
            _grouped_by_gen(doc["generations"], parts).items()
        )
    ]
    if not frames:
        raise FileNotFoundError(
            f"versioned table {t.root}: no partitions to read"
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def read_table(
    spark: SparkSession, t: VersionedTable, pointer: dict | None = None
) -> DataFrame:
    """Read the table at ``pointer`` (default: the current version,
    resolved ONCE here — the returned plan never re-reads the
    pointer, which is what makes it a snapshot). One Spark relation
    per referenced generation — partition columns parse from the
    Hive-style paths via basePath — unioned by name; the generation
    count is bounded by maintenance cadence (each compaction
    collapses its partitions' lists to one)."""
    doc = pointer if pointer is not None else snapshot(t)
    if doc is None:
        raise FileNotFoundError(f"versioned table {t.root} has no "
                                "published version")
    return _read_at(spark, t, doc)


def _partition_file_stats(
    t: VersionedTable, gens: list[str], part: str
) -> tuple[int, int | None]:
    """(n_data_files, total_bytes|None) for one partition across its
    generation list, through the backend's LIST (+ optional
    object_size) verbs."""
    size_of = getattr(t.be, "object_size", None)
    n, total = 0, 0
    sized = callable(size_of)
    for gen in gens:
        for name in t.be.list_names(t._join(_DATA_DIR, gen, part)):
            comps = name.replace("\\", "/").split("/")
            if len(comps) != 1 or comps[0].startswith(("_", ".")):
                continue  # nested dir = a different partition's files
            n += 1
            if sized:
                s = size_of(t._join(_DATA_DIR, gen, part, name))
                if s is None:
                    sized = False
                else:
                    total += s
    return n, (total if sized else None)


def compact_table(
    spark: SparkSession,
    t: VersionedTable,
    target_bytes: int = 256 * 1024 * 1024,
    min_files: int = 4,
) -> dict:
    """Small-file compaction as ONE pointer swap: every partition
    whose generation list holds >= ``min_files`` data files (below
    target average, when the backend reports sizes) is rewritten into
    a fresh generation — one Spark job over just the dirty subset —
    and the new pointer maps each dirty partition to exactly that
    generation while every clean partition keeps its existing files
    verbatim. Readers racing the swap see the old version or the new
    one, never a mix and never a missing partition (the local
    two-rename swap's documented torn window does not exist here).
    Oversized rewrites split via ``maxRecordsPerFile`` derived from
    observed bytes-per-row when sizes are available.

    Returns {"compacted_partitions", "skipped_partitions", "version"}
    (version None when nothing qualified — no empty commits).
    """
    doc, raw = _read_pointer(t)
    if doc is None:
        raise FileNotFoundError(f"versioned table {t.root} has no "
                                "published version")
    dirty: list[str] = []
    dirty_bytes = 0
    sized = True
    for part, gens in doc["generations"].items():
        n, total = _partition_file_stats(t, gens, part)
        if n >= min_files and (total is None or total / n < target_bytes):
            dirty.append(part)
            if total is None:
                sized = False
            else:
                dirty_bytes += total
        # partitions already at target are never rewritten: cost
        # scales with the fragmented subset, not the table
    if not dirty:
        return {"compacted_partitions": 0,
                "skipped_partitions": len(doc["generations"]),
                "version": None}

    partition_by = tuple(doc.get("meta", {}).get("partition_by") or ())
    gen = _gen_token(doc["version"] + 1)
    base_df = _read_at(spark, t, doc, parts=dirty)
    # row count for maxRecordsPerFile sizing comes off the SCAN
    # (footer row counts), never off the repartitioned plan — a count
    # there would execute the shuffle once just to size it
    n_rows = base_df.count() if (sized and dirty_bytes) else 0
    if partition_by:
        dirty_df = base_df.repartition(*[F.col(c) for c in partition_by])
    else:
        dirty_df = base_df.repartition(
            max(1, round(dirty_bytes / target_bytes)) if sized else 1
        )
    writer = dirty_df.write.mode("errorifexists")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if n_rows:
        per_row = max(dirty_bytes / n_rows, 1e-9)
        writer = writer.option(
            "maxRecordsPerFile", max(int(target_bytes / per_row), 1)
        )
    writer.parquet(t.io(t._join(_DATA_DIR, gen)))

    generations = {p: list(gs) for p, gs in doc["generations"].items()}
    written = _list_gen_partitions(t, gen)
    # compaction preserves rows, so every dirty partition must come
    # back from the rewrite; assert rather than silently drop
    missing = [p for p in dirty if p not in written]
    if missing:
        raise RuntimeError(
            f"compaction of {t.root} lost partitions {missing[:5]} "
            "in the rewrite — refusing to commit"
        )
    for part in dirty:
        generations[part] = [gen]
    new_doc = _commit(
        t, generations, doc.get("meta", {}), raw, doc["version"]
    )
    return {"compacted_partitions": len(dirty),
            "skipped_partitions": len(doc["generations"]) - len(dirty),
            "version": new_doc["version"]}


def rewrite_zordered(
    spark: SparkSession,
    t: VersionedTable,
    col_x: str,
    col_y: str,
    bits: int | None = None,
    n_files: int = 16,
) -> dict:
    """Z-order LAYOUT REWRITE as a pointer swap: every partition is
    rewritten into one new generation with rows clustered by the
    Morton interleave of (col_x, col_y) — `plans.layout`'s kernel,
    JVM-side bit arithmetic, no UDFs — so parquet footer stats prune
    files/row-groups on BOTH dimensions. The grid bounds land in the
    pointer's meta (they are the layout's metadata: a later
    incremental write or manual pruner needs the same grid). Readers
    pinned to the old version are untouched; the swap is atomic."""
    from server_spark.plans.layout import ZBITS, zorder_key

    doc, raw = _read_pointer(t)
    if doc is None:
        raise FileNotFoundError(f"versioned table {t.root} has no "
                                "published version")
    bits = bits or ZBITS
    partition_by = tuple(doc.get("meta", {}).get("partition_by") or ())
    full = _read_at(spark, t, doc)
    row = full.agg(
        F.min(col_x), F.max(col_x), F.min(col_y), F.max(col_y)
    ).first()
    if row is None or any(v is None for v in row):
        # empty table or an all-NULL clustering column: there is no
        # grid to cluster on — a clear error beats float(None)'s
        # TypeError from deep inside the maintenance path
        raise ValueError(
            f"rewrite_zordered({t.root}): no non-null values for "
            f"({col_x}, {col_y}) — empty table or all-NULL column; "
            "nothing to cluster"
        )
    bounds = (float(row[0]), float(row[1]), float(row[2]), float(row[3]))
    z = zorder_key(F.col(col_x), F.col(col_y), bounds, bits)
    gen = _gen_token(doc["version"] + 1)
    out = t.io(t._join(_DATA_DIR, gen))
    clustered = full.withColumn("_z", z)
    if partition_by:
        (clustered.repartition(*[F.col(c) for c in partition_by])
         .sortWithinPartitions("_z").drop("_z")
         .write.mode("errorifexists").partitionBy(*partition_by)
         .parquet(out))
    else:
        (clustered.repartitionByRange(n_files, "_z")
         .sortWithinPartitions("_z").drop("_z")
         .write.mode("errorifexists").parquet(out))
    meta = dict(doc.get("meta", {}))
    meta["zorder"] = {"cols": [col_x, col_y], "bounds": list(bounds),
                      "bits": bits}
    new_doc = _commit(
        t, {p: [gen] for p in _list_gen_partitions(t, gen)}, meta,
        raw, doc["version"],
    )
    return {"version": new_doc["version"], "bounds": bounds}


def versions(t: VersionedTable) -> list[int]:
    """Version numbers present in the commit log, ascending (burned
    claims included — consumers resolve actual state via `_current`
    or :func:`read_table_asof`)."""
    return sorted(
        int(n) for n in t.be.list_names(t._join(_LOG_DIR)) if n.isdigit()
    )


def read_table_asof(
    spark: SparkSession, t: VersionedTable, version: int
) -> DataFrame:
    """Time travel: read the table exactly as committed at
    ``version`` (valid until vacuum reclaims its generations)."""
    raw = t.be.read(t._join(_LOG_DIR, str(version)))
    if raw is None:
        raise FileNotFoundError(
            f"{t.root} has no version {version} in its commit log"
        )
    return read_table(spark, t, pointer=json.loads(raw))


def vacuum(t: VersionedTable, keep_versions: int = 2) -> dict:
    """Reclaim generations referenced ONLY by versions older than the
    newest ``keep_versions`` COMMITTED log entries. Generations
    referenced by NO log entry are left alone — they may be an
    in-flight writer's uncommitted output (its commit will reference
    them, or lose its race and leave them for a later, coarser
    sweep). Run on a cadence longer than the longest pinned reader: a
    snapshot older than ``keep_versions`` commits can lose files to
    this — the same contract as Delta's VACUUM retention window.

    Anchoring rules (r14 review — the first cut anchored on the raw
    newest log entries and a pair of BURNED claims could crowd the
    retention window and delete the LIVE version's files):
    - the CURRENT pointer's generations are ALWAYS kept, whatever the
      log says;
    - log entries ABOVE the current pointer version are in-flight or
      burned claims — never a reason to drop anything, and never
      counted against ``keep_versions``;
    - burned entries at-or-below the current version are
      indistinguishable from committed ones by design, so they count
      toward the window and their generation references are KEPT —
      over-retention, the safe direction."""
    doc, _ = _read_pointer(t)
    current_version = doc["version"] if doc else 0
    keep_gens: set[str] = set()
    if doc:
        keep_gens.update(
            g for gs in doc["generations"].values() for g in gs
        )
    vs = [v for v in versions(t) if v <= current_version]
    kept_vs = set(vs[-keep_versions:]) if keep_versions else set()
    drop_gens: set[str] = set()
    for v in vs:
        raw = t.be.read(t._join(_LOG_DIR, str(v)))
        if raw is None:
            continue
        gens = {
            g for gs in json.loads(raw)["generations"].values() for g in gs
        }
        (keep_gens if v in kept_vs else drop_gens).update(gens)
    drop_gens -= keep_gens
    removed = 0
    for gen in sorted(drop_gens):
        prefix = t._join(_DATA_DIR, gen)
        for name in list(t.be.list_names(prefix)):
            t.be.delete(posixpath.join(prefix, name))
            removed += 1
    return {"generations_removed": len(drop_gens),
            "objects_removed": removed,
            "versions_kept": sorted(kept_vs)}
