"""Pluggable put-if-absent COMMIT BACKEND (VERDICT r12 item 2).

The medallion layer's transactional correctness rests on one
primitive: an atomic put-if-absent used to claim manifest versions
(`medallion._claim_batch_id`) and to hold THE commit lock
(`medallion.commit_lock` — the only lock implementation, on every
root). On a local filesystem the primitive is ``LocalFSBackend``'s
stage-then-``os.link`` create; on object storage it is a conditional
PUT (S3 ``If-None-Match: *`` — supported since 2024-08 — and GCS
``x-goog-if-generation-match: 0``). This module makes the primitive
INJECTABLE the same way the JPEG codec is
(``multimodal/image.py _injected_jpeg_codec``): a deployment sets
``SPARK_GRAFT_COMMIT_BACKEND=module:factory`` at launch and the claim
and lock machinery becomes multi-driver safe on a bucket without
touching any caller.

The protocol is deliberately the object-store wire surface and
nothing more — five verbs every store has:

- ``put_if_absent(path, payload) -> bool`` — atomic create; False iff
  the object already existed (the ONLY correctness-bearing verb).
- ``put(path, payload)`` — unconditional overwrite (lock heartbeats).
- ``read(path) -> bytes | None`` — GET (lock ownership checks).
- ``list_names(prefix) -> iterable[str]`` — relative keys under a
  prefix, recursive, MAY BE LAZY (claims listing, manifest
  never-written probe; object-store LIST is paginated, and the
  never-written probe stops at the first real data key — a backend
  that materializes the whole listing turns an O(1) existence probe
  into a full-tree walk on every ingest).
- ``delete(path)`` — idempotent DELETE (claim pruning, lock release).

Three OPTIONAL verbs (absent ones degrade to documented fallbacks):
``io_path(path) -> str`` translates a logical key to the URL Spark's
Hadoop connector reads/writes (identity when absent — on a real
bucket the key IS the URL; a test backend maps ``s3://bucket/...`` onto a
local directory so the versioned-table protocol runs end-to-end
without credentials); ``object_size(path) -> int | None`` surfaces
the byte size object-store LIST responses carry anyway (compaction
sizing; absent sizes, file count alone decides); and
``replace_if_match(path, payload, expected) ->
bool`` — atomic compare-and-swap, True iff the object's current
payload equalled ``expected`` and was replaced (S3 ``If-Match`` etag
/ GCS ``if-generation-match`` conditional PUT; the local analog
compares by value under a per-key advisory lock that unconditional
``put`` also takes — see ``_key_guard``). When a backend provides
it, every commit-lock transition becomes conditional on exact prior
bytes: stale BREAK (one of N racing breakers wins), HEARTBEAT (a
delayed beat can't overwrite a thief), and RELEASE (tombstone swap
instead of delete) — closing the read-check-then-write residuals;
backends without the verb keep the documented best-effort forms.
The verb also carries the versioned-table pointer swap
(``plans.versioned_table``): compaction/layout rewrites publish a
new immutable data generation and CAS the table's current-version
pointer, which is how layout maintenance works on a bucket at all.

NOT in the protocol: rename, mtime, directory semantics. Those are
POSIX-isms the backend-routed machinery must not rely on (the lock's
liveness is the ``beat_at`` in its payload, not a file mtime) — the
two-rename partition compactor in ``plans.maintenance`` therefore stays
LOCAL-FS ONLY and rejects URI roots loudly rather than pretending a
bucket can rename. The object-store answer for compaction / Z-order
/ table swap is ``plans.versioned_table`` (r14): immutable data
generations plus a current-version pointer swapped via the CAS verb
— rename-free by construction, so it routes through this protocol
on any root.
"""

from __future__ import annotations

import importlib
import json
import os
import re
import tempfile
import time
from contextlib import contextmanager as _contextlib_contextmanager


_URI_RE = re.compile(r"^([a-zA-Z][a-zA-Z0-9+.-]+):")


def local_path(path: str, what: str) -> str:
    """THE one scheme gate for every POSIX-machinery entry point
    (r13 review: the check was copy-pasted four ways and already
    drifting — one variant case-insensitive, the others not, and
    lowercase ``file:`` URIs slipped through to os.walk/open, which
    silently no-op on them). Non-file URI schemes raise; ``file:``
    URIs normalize to the plain path (rejecting remote hosts); plain
    paths pass through. Case-insensitive per RFC 3986."""
    m = _URI_RE.match(path)
    if not m:
        return path
    if m.group(1).lower() != "file":
        raise ValueError(
            f"{what} is local-FS only (rename/walk/sidecar machinery); "
            f"got URI path {path!r}. Use a commit-backend/table-format "
            "deployment for object stores."
        )
    from urllib.parse import unquote, urlparse

    parsed = urlparse(path)
    if parsed.netloc not in ("", "localhost"):
        raise ValueError(
            f"{what} rejects remote-host file URIs: {path!r} "
            f"(netloc {parsed.netloc!r})"
        )
    return unquote(parsed.path)


def is_uri(path: str) -> bool:
    """True for any non-file URI scheme (the backend-routed case)."""
    m = _URI_RE.match(path)
    return bool(m) and m.group(1).lower() != "file"


class LocalFSBackend:
    """The default for local roots: POSIX primitives with object-store
    EXPOSURE semantics — every object appears fully-written or not at
    all. put_if_absent stages the payload to a temp file and claims
    the key with ``os.link`` (atomic fail-if-exists): the r13 review
    showed a create-then-write form exposed a torn (empty) payload
    between create and write, which the lock's staleness reader
    misread as an infinitely-stale claim and broke a milliseconds-old
    LIVE lock."""

    def put_if_absent(self, path: str, payload: bytes) -> bool:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        fd, staged = tempfile.mkstemp(dir=os.path.dirname(path), prefix=".staged-")
        try:
            os.write(fd, payload)
        finally:
            os.close(fd)
        try:
            os.link(staged, path)  # atomic: fails iff key exists
        except FileExistsError:
            return False
        finally:
            os.unlink(staged)
        return True

    @staticmethod
    @_contextlib_contextmanager
    def _key_guard(path: str):
        """Per-key advisory flock serializing every conditional-
        sensitive writer of one key (CAS and unconditional put). The
        r13 advisor finding: with only replace_if_match taking the
        guard, an unconditional put (lock heartbeat) landing between
        the CAS's read and its os.replace was silently overwritten —
        the local backend's 'atomic stale break' claim did not hold
        against a live holder's late heartbeat. Guard files are
        HIDDEN-named (dot-prefixed basename) so list_names consumers
        never mistake one for table data (the old ``<key>.cas_guard``
        sibling of a claims file was listable)."""
        import fcntl

        head, base = os.path.split(path)
        os.makedirs(head, exist_ok=True)
        gfd = os.open(
            os.path.join(head, f".{base}.cas_guard"),
            os.O_CREAT | os.O_WRONLY,
        )
        try:
            fcntl.flock(gfd, fcntl.LOCK_EX)
            yield
        finally:
            os.close(gfd)  # closing drops the flock

    def _put_unguarded(self, path: str, payload: bytes) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        # write-then-rename so a concurrent read never sees a torn
        # payload (object-store PUTs are all-or-nothing; match that)
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), prefix=".staged-")
        try:
            os.write(fd, payload)
        finally:
            os.close(fd)
        os.replace(tmp, path)

    def put(self, path: str, payload: bytes) -> None:
        with self._key_guard(path):
            self._put_unguarded(path, payload)

    def read(self, path: str) -> bytes | None:
        try:
            with open(path, "rb") as fh:
                return fh.read()
        except OSError:
            return None

    def list_names(self, prefix: str):
        # a GENERATOR: the never-written probe consumes one element of
        # a huge tree; materializing would walk all of bronze per
        # ingest (r13 self-review). Hidden/temporary SUBTREES are
        # pruned during the walk (r13 review: a crashed first write's
        # _temporary tree holds thousands of task files the probe
        # would otherwise enumerate one-by-one per ingest) — files
        # directly under the prefix still list even when the prefix
        # itself is hidden-named (the _claims dir). Object-store
        # backends can't prune a flat keyspace; the consumers'
        # hidden-component filters remain the semantic gate there.
        for root, dirs, files in os.walk(prefix):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            rel = os.path.relpath(root, prefix)
            for f in files:
                # dot-prefixed FILES are this backend's own
                # coordination state (.cas_guard flock files, .staged-
                # temps, .commit.lock) — object-store keys they are
                # not; listing them would make every put() leave a
                # phantom sibling in the caller's keyspace
                if f.startswith("."):
                    continue
                yield f if rel == "." else os.path.join(rel, f)

    def delete(self, path: str) -> None:
        try:
            os.unlink(path)
        except FileNotFoundError:
            pass

    def object_size(self, path: str) -> int | None:
        """Optional sizing verb (see module docstring) — a real
        object store reads this off its LIST page for free."""
        try:
            return os.path.getsize(path)
        except OSError:
            return None

    def replace_if_match(self, path: str, payload: bytes,
                         expected: bytes) -> bool:
        """Optional CAS verb (see module docstring). POSIX cannot
        compare-and-swap a file's content atomically, so all
        conditional-sensitive writers of one key — CAS AND
        unconditional put, see ``_key_guard`` — serialize on a
        per-key advisory flock; the swap itself is an os.replace so
        readers still never see a torn payload. Host-local by design
        — the multi-host CAS is the real object store's etag PUT."""
        with self._key_guard(path):
            if self.read(path) != expected:
                return False
            self._put_unguarded(path, payload)
            return True


def injected_backend():
    """Resolve an external backend from ``SPARK_GRAFT_COMMIT_BACKEND``
    ("module:factory" — the factory is CALLED, returning a backend
    instance), or None when unset. Same contract as the JPEG codec
    hook: a configured-but-broken spec raises loudly (silently falling
    back to the local backend on a bucket deployment would silently
    lose multi-driver exclusion — the exact failure the backend was
    deployed to prevent). Resolution is cached per spec value, and the
    env is read at CALL time: like the codec hook, changing it after
    launch affects new claims only."""
    spec = os.environ.get("SPARK_GRAFT_COMMIT_BACKEND")
    if not spec:
        return None
    cache = getattr(injected_backend, "_cache", None)
    if cache is not None and cache[0] == spec:
        return cache[1]
    mod, _, fn = spec.partition(":")
    try:
        backend = getattr(importlib.import_module(mod), fn)()
    except Exception as exc:
        raise ImportError(
            f"SPARK_GRAFT_COMMIT_BACKEND={spec!r} failed to load: {exc}"
        ) from exc
    for verb in ("put_if_absent", "put", "read", "list_names", "delete"):
        if not callable(getattr(backend, verb, None)):
            raise TypeError(
                f"SPARK_GRAFT_COMMIT_BACKEND={spec!r} resolved to "
                f"{type(backend).__name__} missing verb {verb!r}"
            )
    injected_backend._cache = (spec, backend)
    return backend


_LOCAL = LocalFSBackend()


def backend_for(paths) -> LocalFSBackend:
    """The backend a MedallionPaths root commits through: the
    explicit ``paths.backend`` when given (wins, same rule as the
    JPEG codec's explicit argument), else the env-injected one, else
    local POSIX. MedallionPaths' constructor guarantees a URI root
    only exists when one of the first two is present AT CONSTRUCTION
    — but the env hook is read at CALL time (by design, matching the
    codec hook), so a process that unsets/loses
    ``SPARK_GRAFT_COMMIT_BACKEND`` after constructing URI-rooted
    paths would otherwise fall through to _LOCAL and write claims to
    a literal ``./s3:/...`` directory, silently voiding multi-driver
    exclusion (r13 advisor finding). A URI root with no resolvable
    backend therefore raises here too, not only in the constructor."""
    backend = getattr(paths, "backend", None) or injected_backend()
    if backend is not None:
        return backend
    root = getattr(paths, "root", "")
    if isinstance(root, str) and is_uri(root):
        raise RuntimeError(
            f"no commit backend resolvable for URI root {root!r}: the "
            "explicit backend is gone and SPARK_GRAFT_COMMIT_BACKEND "
            "is unset in this process — refusing the local POSIX "
            "fallback (its claims would land in a literal local "
            f"'./{root.split(':', 1)[0]}:/...' directory and exclude "
            "nothing)"
        )
    return _LOCAL


def lock_payload(token: str) -> bytes:
    return json.dumps(
        {"token": token, "claimed_at": time.time(), "beat_at": time.time()}
    ).encode()
