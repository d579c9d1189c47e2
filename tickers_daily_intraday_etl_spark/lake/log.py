"""Atomic JSON commit log for the lake-table format.

Design (public knowledge: the Delta Lake transaction-log protocol and the
Iceberg snapshot/manifest model, re-implemented from scratch):

* ``<table>/_log/v{version:020d}.json`` — one JSON document per commit:
  the canonical table schema at that version, data files added/removed,
  and an optional commit *manifest* (batch_id + lineage) used for
  exactly-once epoch fencing.
* Commits are made atomic with the store's create-if-absent primitive
  (``os.link`` locally; conditional PUT on an object store): two
  concurrent writers racing for the same version — only one succeeds,
  the loser retries against the new snapshot.
* Snapshot state = fold of all entries ``<= version``.  Every K commits
  a checkpoint file collapses the fold so log replay stays O(K) at
  10^10-event scale (same role as Delta checkpoints / Iceberg manifest
  lists), and a ``_last_checkpoint`` pointer file records the newest
  checkpoint so the read path never has to LIST the whole log
  directory: resolving the latest version is one pointer GET plus a
  bounded forward existence probe (<= K + a few files touched, however
  old the table is).  Without the pointer, a million-commit table pays
  an O(#commits) directory listing on EVERY snapshot call — the same
  per-batch-cost-grows-with-table-age class as the round-2 bench drift.
* ``expire_log`` prunes entries already folded into a retained
  checkpoint (mirroring ``vacuum``'s data-file retention window): the
  epoch-fence batch ids survive because the checkpoint snapshot carries
  the full accumulated ``committed_batch_ids`` list.

The reference repo's analog is ``CREATE TABLE IF NOT EXISTS`` probing
``information_schema`` (reference: staging/create_staging_tables.py:43-57)
plus the ``audit_datetime`` upload stamp (staging/load_staging_data.py:40);
here both become first-class, atomic, and queryable.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field
from typing import Any

CHECKPOINT_INTERVAL = 20
_LOG_DIR = "_log"
_LAST_CKPT_NAME = "_last_checkpoint"


class LogStore:
    """Minimal storage interface the commit protocol needs.  Each method
    names the object-store primitive it maps to, so porting the log off
    the local filesystem means implementing exactly these six calls:

    * ``read(name)``            -> GET object
    * ``put_if_absent(name,d)`` -> conditional PUT (``If-None-Match: *`` /
      S3 conditional write / GCS ``ifGenerationMatch=0``) — MUST raise
      ``FileExistsError`` when ``name`` already exists.  This is the one
      primitive the commit protocol's atomicity rests on.
    * ``put_overwrite(name,d)`` -> plain PUT (atomic replace; used only
      for the ``_last_checkpoint`` pointer, which is a monotonic HINT —
      losing a race here costs a few extra existence probes, never
      correctness)
    * ``exists(name)``          -> HEAD object
    * ``delete(name)``          -> DELETE object
    * ``list_names()``          -> LIST with prefix — kept OFF the
      merge/read hot path; only admin operations (history queries,
      ``expire_log``) may call it.
    """

    def read(self, name: str) -> str:
        raise NotImplementedError

    def put_if_absent(self, name: str, data: str) -> None:
        raise NotImplementedError

    def put_overwrite(self, name: str, data: str) -> None:
        raise NotImplementedError

    def exists(self, name: str) -> bool:
        raise NotImplementedError

    def delete(self, name: str) -> None:
        raise NotImplementedError

    def list_names(self) -> list[str]:
        raise NotImplementedError


class LocalLogStore(LogStore):
    """Filesystem implementation: ``os.link`` is create-if-absent,
    ``os.replace`` is atomic overwrite, both fsynced."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def read(self, name: str) -> str:
        with open(self._path(name)) as f:
            return f.read()

    def _write_tmp(self, data: str) -> str:
        tmp = self._path(f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        return tmp

    def put_if_absent(self, name: str, data: str) -> None:
        tmp = self._write_tmp(data)
        try:
            os.link(tmp, self._path(name))  # atomic create-if-absent
        finally:
            os.unlink(tmp)

    def put_overwrite(self, name: str, data: str) -> None:
        tmp = self._write_tmp(data)
        os.replace(tmp, self._path(name))

    def exists(self, name: str) -> bool:
        return os.path.exists(self._path(name))

    def delete(self, name: str) -> None:
        try:
            os.unlink(self._path(name))
        except FileNotFoundError:
            pass

    def list_names(self) -> list[str]:
        return os.listdir(self.root)


class InMemoryLogStore(LogStore):
    """Object-store-semantics test double (no filesystem, no rename):

    * ``put_if_absent`` is a CONDITIONAL PUT — atomic under a lock, and
      raises ``FileExistsError`` on conflict exactly like S3
      ``If-None-Match: *`` / GCS ``ifGenerationMatch=0``;
    * ``put_overwrite`` is last-writer-wins, and ``lose_next_overwrite``
      arms a LOST-RACE injection: the victim's value is accepted and
      then immediately superseded by the value present before it (the
      crash-between-checkpoint-and-pointer / delayed-stale-PUT scenario
      ``expire_log`` must tolerate);
    * ``latency`` injects a sleep before every primitive (object-store
      RTT) so multi-writer interleavings actually overlap in tests.

    Shared across ``CommitLog`` instances to model concurrent writers /
    fresh readers over one bucket; all per-reader caches live in
    CommitLog, never here."""

    def __init__(self, latency: float = 0.0):
        import threading

        self._objects: dict[str, str] = {}
        self._lock = threading.Lock()
        self._lose_overwrite: set[str] = set()
        self.latency = latency

    def _rtt(self) -> None:
        if self.latency:
            import time

            time.sleep(self.latency)

    def lose_next_overwrite(self, name: str) -> None:
        """Arm a lost put_overwrite race for ``name``: the next overwrite
        is applied and then reverted to the prior value, as if a slower
        concurrent writer's stale PUT landed last."""
        with self._lock:
            self._lose_overwrite.add(name)

    def read(self, name: str) -> str:
        self._rtt()
        with self._lock:
            if name not in self._objects:
                raise FileNotFoundError(name)
            return self._objects[name]

    def put_if_absent(self, name: str, data: str) -> None:
        self._rtt()
        with self._lock:
            if name in self._objects:
                raise FileExistsError(name)
            self._objects[name] = data

    def put_overwrite(self, name: str, data: str) -> None:
        self._rtt()
        with self._lock:
            if name in self._lose_overwrite:
                self._lose_overwrite.discard(name)
                # accepted, then superseded by the concurrent stale PUT
                return
            self._objects[name] = data

    def exists(self, name: str) -> bool:
        self._rtt()
        with self._lock:
            return name in self._objects

    def delete(self, name: str) -> None:
        self._rtt()
        with self._lock:
            self._objects.pop(name, None)

    def list_names(self) -> list[str]:
        self._rtt()
        with self._lock:
            return list(self._objects)


@dataclass
class LogEntry:
    version: int
    schema_json: str  # canonical Spark schema (StructType.json()) at this version
    adds: list[dict[str, Any]] = field(default_factory=list)
    # each add: {"path": rel_path, "bucket": int, "rows": int, "schema_version": int}
    removes: list[str] = field(default_factory=list)
    manifest: dict[str, Any] | None = None  # {"batch_id": ..., lineage...}
    properties: dict[str, Any] = field(default_factory=dict)

    def to_json(self) -> str:
        return json.dumps(
            {
                "version": self.version,
                "schema_json": self.schema_json,
                "adds": self.adds,
                "removes": self.removes,
                "manifest": self.manifest,
                "properties": self.properties,
            },
            sort_keys=True,
        )

    @staticmethod
    def from_json(text: str) -> "LogEntry":
        d = json.loads(text)
        return LogEntry(
            version=d["version"],
            schema_json=d["schema_json"],
            adds=d.get("adds", []),
            removes=d.get("removes", []),
            manifest=d.get("manifest"),
            properties=d.get("properties", {}),
        )


@dataclass
class Snapshot:
    """Folded log state at a version."""

    version: int
    schema_json: str
    # rel_path -> add-record (keeps bucket + schema_version for pruned reads)
    live_files: dict[str, dict[str, Any]]
    committed_batch_ids: list[Any]
    schemas: dict[int, str]  # version -> schema_json for every schema change
    properties: dict[str, Any]

    def to_json(self) -> str:
        return json.dumps(
            {
                "version": self.version,
                "schema_json": self.schema_json,
                "live_files": self.live_files,
                "committed_batch_ids": self.committed_batch_ids,
                "schemas": {str(k): v for k, v in self.schemas.items()},
                "properties": self.properties,
            },
            sort_keys=True,
        )

    @staticmethod
    def from_json(text: str) -> "Snapshot":
        d = json.loads(text)
        return Snapshot(
            version=d["version"],
            schema_json=d["schema_json"],
            live_files=d["live_files"],
            committed_batch_ids=d["committed_batch_ids"],
            schemas={int(k): v for k, v in d["schemas"].items()},
            properties=d.get("properties", {}),
        )


class CommitConflict(Exception):
    """Another writer committed this version first; re-read and retry."""


class VersionNotRetained(Exception):
    """The requested version's log entries were expired (``expire_log``);
    only versions at or above the oldest retained checkpoint resolve."""


class CommitLog:
    # how many folded snapshots to memoize per log (a commit re-reads the
    # version it planned from on conflict; vacuum walks its retention window)
    _SNAP_CACHE_SIZE = 8

    def __init__(self, table_path: str, store: LogStore | None = None):
        self.table_path = table_path
        self.log_dir = os.path.join(table_path, _LOG_DIR)
        self.store = store if store is not None else LocalLogStore(self.log_dir)
        # version -> folded Snapshot.  A snapshot at an EXPLICIT version is
        # immutable (the log is append-only and entry files are never
        # rewritten), so memoizing the fold is safe across writers too.
        # Without this every snapshot() call re-reads O(versions-since-
        # checkpoint) entry files — ~4 calls per merge made the per-batch
        # fixed cost grow with table age (the round-2 bench drift).
        # Callers must treat returned snapshots as read-only.
        self._snap_cache: dict[int, Snapshot] = {}
        # highest version this process has OBSERVED to exist — forward
        # existence probes start here (multi-writer-safe: the log is
        # append-only, so an observed version never disappears from
        # under the probe while it is the latest).
        self._latest_seen: int = -1

    # ---- names ----
    @staticmethod
    def _entry_name(version: int) -> str:
        return f"v{version:020d}.json"

    @staticmethod
    def _ckpt_name(version: int) -> str:
        return f"ckpt-v{version:020d}.json"

    # ---- read side ----
    def versions(self) -> list[int]:
        """All retained entry versions.  ADMIN path (history queries,
        tests): this is the one read that LISTs the log directory — the
        merge/read hot path resolves versions via the ``_last_checkpoint``
        pointer instead and never calls this."""
        out = []
        for name in self.store.list_names():
            if name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

    def _pointer_version(self) -> int | None:
        """Newest-checkpoint hint from the ``_last_checkpoint`` pointer
        file (one GET; None when the table has no checkpoint yet)."""
        try:
            return int(json.loads(self.store.read(_LAST_CKPT_NAME))["version"])
        except (FileNotFoundError, ValueError, KeyError):
            return None

    def latest_version(self) -> int | None:
        """Resolve the newest committed version WITHOUT listing the log
        directory: start from max(checkpoint pointer, highest version
        already observed) and probe forward while the next entry exists.
        Files touched: 1 pointer GET + (#commits since that floor) + 1
        existence probes — bounded by the checkpoint interval on any
        table that checkpoints, regardless of total table age."""
        # no checkpoint yet (young table: < CHECKPOINT_INTERVAL commits)
        # and nothing observed: probe from v0 — bounded by the checkpoint
        # interval, since older tables have a pointer
        floor = v = max(self._latest_seen, self._pointer_version() or 0)
        while self.store.exists(self._entry_name(v + 1)):
            v += 1
        if v == floor and not self.store.exists(self._entry_name(v)):
            # The floor landed in an EXPIRED region (or the log is empty):
            # a stale ``_last_checkpoint`` pointer (crash between a
            # checkpoint's put_if_absent and the pointer overwrite, or a
            # lost pointer race) can sit below ``expire_log``'s retained
            # floor, where both the entry and its checkpoint are gone; a
            # MISSING pointer over an expired log leaves v0 gone too.
            # The forward probe then sees nothing and would silently
            # return a version ``snapshot()`` cannot reconstruct (or call
            # the table empty).  Recover with one LIST (rare: never taken
            # while the pointer is healthy, so the hot path stays
            # LIST-free; a genuinely empty log pays it at create time).
            entries = self.versions()
            if not entries:
                return None
            v = entries[-1]
        self._latest_seen = v
        return v

    def read_entry(self, version: int) -> LogEntry:
        return LogEntry.from_json(self.store.read(self._entry_name(version)))

    def _latest_checkpoint_at_or_below(self, version: int) -> Snapshot | None:
        """Nearest checkpoint <= version.  Common case (version >= newest
        checkpoint) is one pointer GET + one checkpoint GET; time-travel
        below the pointer probes checkpoint slots downward (multiples of
        the interval), stopping at the first retained one."""
        ptr = self._pointer_version()
        if ptr is not None and ptr <= version:
            try:
                return Snapshot.from_json(self.store.read(self._ckpt_name(ptr)))
            except FileNotFoundError:
                pass  # pointer ahead of a lagging/expired ckpt: fall through
        c = (version // CHECKPOINT_INTERVAL) * CHECKPOINT_INTERVAL
        while c > 0:
            try:
                return Snapshot.from_json(self.store.read(self._ckpt_name(c)))
            except FileNotFoundError:
                c -= CHECKPOINT_INTERVAL
        return None

    def snapshot(self, version: int | None = None) -> Snapshot | None:
        """Fold the log up to ``version`` (default: latest).  Folds are
        memoized per explicit version (immutable once committed); treat
        the returned Snapshot as read-only."""
        if version is not None:
            hit = self._snap_cache.get(version)
            if hit is not None:  # explicit-version hit: zero I/O
                return hit
        latest = self.latest_version()
        if latest is None:
            return None
        version = latest if version is None else version
        hit = self._snap_cache.get(version)
        if hit is not None:
            return hit
        # start from the nearest memoized fold below, else a checkpoint
        base: Snapshot | None = None
        lower = [v for v in self._snap_cache if v < version]
        if lower:
            base = self._snap_cache[max(lower)]
        if base is None or base.version < (version // CHECKPOINT_INTERVAL) * CHECKPOINT_INTERVAL:
            ckpt = self._latest_checkpoint_at_or_below(version)
            if ckpt is not None and (base is None or ckpt.version > base.version):
                base = ckpt
        if base is not None and base.version == version:
            self._remember(version, base)
            return base
        if base is None:
            snap = Snapshot(
                version=-1,
                schema_json="",
                live_files={},
                committed_batch_ids=[],
                schemas={},
                properties={},
            )
        else:
            # fold on a copy — the cached base must stay frozen
            snap = Snapshot(
                version=base.version,
                schema_json=base.schema_json,
                live_files=dict(base.live_files),
                committed_batch_ids=list(base.committed_batch_ids),
                schemas=dict(base.schemas),
                properties=dict(base.properties),
            )
        for v in range(snap.version + 1, version + 1):
            try:
                entry = self.read_entry(v)
            except FileNotFoundError as exc:
                raise VersionNotRetained(
                    f"log entry v{v} was expired; snapshots below the oldest "
                    "retained checkpoint are no longer reconstructible"
                ) from exc
            if entry.schema_json != snap.schema_json:
                snap.schemas[v] = entry.schema_json
                snap.schema_json = entry.schema_json
            for rel in entry.removes:
                snap.live_files.pop(rel, None)
            for add in entry.adds:
                snap.live_files[add["path"]] = add
            if entry.manifest is not None and "batch_id" in entry.manifest:
                snap.committed_batch_ids.append(entry.manifest["batch_id"])
            snap.properties.update(entry.properties)
            snap.version = v
        self._remember(version, snap)
        return snap

    def _remember(self, version: int, snap: Snapshot) -> None:
        self._snap_cache[version] = snap
        while len(self._snap_cache) > self._SNAP_CACHE_SIZE:
            del self._snap_cache[min(self._snap_cache)]

    # ---- write side ----
    def try_commit(self, entry: LogEntry) -> None:
        """Atomically publish ``entry`` as its version, or raise CommitConflict."""
        try:
            self.store.put_if_absent(self._entry_name(entry.version), entry.to_json())
        except FileExistsError as exc:
            raise CommitConflict(f"version {entry.version} already committed") from exc
        if entry.version > self._latest_seen:
            self._latest_seen = entry.version
        if entry.version > 0 and entry.version % CHECKPOINT_INTERVAL == 0:
            self._write_checkpoint(entry.version)

    def _write_checkpoint(self, version: int) -> None:
        snap = self.snapshot(version)
        if snap is None:
            return
        try:
            self.store.put_if_absent(self._ckpt_name(version), snap.to_json())
        except FileExistsError:
            pass  # another writer checkpointed the same version — identical content
        # advance the pointer (plain PUT: monotonic hint, last writer
        # wins; a lost race only means the next reader probes a few more
        # entry files forward)
        ptr = self._pointer_version()
        if ptr is None or version > ptr:
            self.store.put_overwrite(
                _LAST_CKPT_NAME, json.dumps({"version": version})
            )

    # ---- retention ----
    def expire_log(self, retain_checkpoints: int = 2) -> dict[str, Any]:
        """Delete log entries already folded into a retained checkpoint
        (and checkpoints older than the newest ``retain_checkpoints``).
        Mirrors ``vacuum``'s data-file retention: time travel below the
        oldest retained checkpoint stops working (``VersionNotRetained``),
        while the epoch fence is unaffected — checkpoint snapshots carry
        the full accumulated ``committed_batch_ids``.  ADMIN operation
        (uses LIST); call it on the vacuum cadence."""
        if retain_checkpoints < 1:
            raise ValueError("must retain at least one checkpoint")
        ckpts = sorted(
            int(n[6:-5])
            for n in self.store.list_names()
            if n.startswith("ckpt-v") and n.endswith(".json")
        )
        if len(ckpts) < 1:
            return {"expired_entries": 0, "expired_checkpoints": 0}
        retained = ckpts[-retain_checkpoints:]
        floor = retained[0]
        # Revalidate the pointer BEFORE deleting anything: it is a
        # last-writer-wins HINT and can lag the newest checkpoint (crash
        # between checkpoint publish and pointer overwrite, or a lost
        # overwrite race).  Before expiry that only costs extra probes;
        # AFTER expiry a pointer below the retained floor would strand
        # fresh readers in the deleted region (entry and checkpoint both
        # gone).  Repair-then-delete ordering means a crash ANYWHERE in
        # this method leaves the pointer valid — the reverse order had a
        # window (deletions done, repair pending) where a fresh reader
        # saw a dangling pointer.
        ptr = self._pointer_version()
        if ptr is None or ptr < retained[-1]:
            self.store.put_overwrite(
                _LAST_CKPT_NAME, json.dumps({"version": retained[-1]})
            )
        dropped_entries = 0
        for v in self.versions():
            if v < floor:
                self.store.delete(self._entry_name(v))
                dropped_entries += 1
        for c in ckpts:
            if c not in retained:
                self.store.delete(self._ckpt_name(c))
        # expired folds must not be served from memory either
        for v in [v for v in self._snap_cache if v < floor]:
            del self._snap_cache[v]
        return {
            "expired_entries": dropped_entries,
            "expired_checkpoints": len(ckpts) - len(retained),
            "retained_floor": floor,
        }
