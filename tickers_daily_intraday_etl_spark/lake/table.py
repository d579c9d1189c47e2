"""LakeTable — bucket-partitioned transactional parquet table with MERGE.

The engine's answer to the reference repo's Redshift tables
(reference: staging/create_staging_tables.py:16-41): schemas are declared,
creation is idempotent, and the 4-statement temp-table merge dance
(reference: analytics/etl_dim_analytics.py:142-211) collapses into one
key-partitioned, copy-on-write MERGE that rewrites only the key-buckets a
change batch touches.

Scale design (for a 1000-executor cluster over ~100 TB):

* Data is laid out as ``data/<commit>/_bucket=K/*.parquet`` where
  ``K = pmod(xxhash64(key), num_buckets)``.  A MERGE prunes to the
  buckets present in the change batch, so its cost is proportional to
  the touched fraction of the table, not table size.
* The MERGE itself is **union + last-writer-wins aggregation**, not a
  join: target rows of affected buckets and deduped change rows are
  unioned and the winner per key is picked with one aggregation
  (``max_by`` over the ordering struct ``(_lsn, _commit_ts, ...)``)
  CLUSTERED ON THE BUCKET COLUMN — the single bucket repartition
  satisfies both the aggregation's clustering and the partitioned
  write's layout, so the row payload crosses exactly one shuffle per
  merge (a sort-merge full-outer join + write would cost three).
* Deletes keep **tombstones** (``_deleted = true``): a stale update
  (lower LSN) arriving after a delete must lose to the tombstone, or
  replay equality breaks.  Reads filter tombstones; ``vacuum``/compaction
  can purge them once the feed's LSN low-water mark passes them.
* Schema evolution: adds + int->long / float->double widenings merge into
  the canonical schema at commit time; old files are never rewritten —
  reads align every file group to the canonical schema (missing columns
  null-filled, narrow types cast).
* Every public read and maintenance operation sees exactly one committed
  version: its entry point resolves ``log.snapshot(version)`` once and
  passes that pinned ``Snapshot`` to the private scan, resolution,
  schema and visibility helpers.  Only ``_commit``'s optimistic retry
  loop re-reads the latest version.
"""

from __future__ import annotations

import json
import os
import uuid
from collections import Counter
from collections.abc import Collection
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tickers_daily_intraday_etl_spark.lake.log import CommitConflict, CommitLog, LogEntry, Snapshot

# Internal columns stored in every data file (not part of the user schema).
LSN_COL = "_lsn"
COMMIT_TS_COL = "_commit_ts"
DELETED_COL = "_deleted"
BUCKET_COL = "_bucket"

_INTERNAL_FIELDS = [
    T.StructField(LSN_COL, T.LongType(), True),
    T.StructField(COMMIT_TS_COL, T.TimestampType(), True),
    T.StructField(DELETED_COL, T.BooleanType(), True),
]

_WIDENINGS = {
    ("integer", "long"): True,
    ("short", "integer"): True,
    ("short", "long"): True,
    ("byte", "short"): True,
    ("byte", "integer"): True,
    ("byte", "long"): True,
    ("float", "double"): True,
    ("integer", "double"): True,
    ("long", "double"): True,
}


def _stat_value(v: Any) -> Any:
    """Normalize a parquet row-group statistic to a JSON-safe, totally
    ordered value: ints/floats/strings pass through (strings are
    truncated later, at record-build time, under the safe-bounds
    convention), timestamps become micros-since-epoch (naive = NTZ,
    compared against naive bounds), binary is dropped."""
    import datetime as _dt

    if isinstance(v, bool):  # bool is an int subclass; min/max not useful
        return None
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return v
    if isinstance(v, str):
        return v
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
        else:
            epoch = _dt.datetime(1970, 1, 1)
        return (v - epoch) // _dt.timedelta(microseconds=1)
    if isinstance(v, _dt.date):
        return (v - _dt.date(1970, 1, 1)).days
    return None


# String zone-map stats are truncated to this many characters so the JSON
# log stays small however long the values get (100 TB of documents can
# carry multi-KB keys/sources).
_STRING_STAT_PREFIX = 16


def _truncate_stat_bounds(lo: str, hi: str) -> tuple[str, str] | None:
    """Parquet's truncated-statistics convention, re-applied at the
    zone-map layer: a truncated MIN prefix is still <= every value (safe
    lower bound as-is), but a truncated MAX prefix would be < the true
    max — so the max prefix's last code point is incremented to yield a
    bound strictly above everything sharing the prefix.  UTF-8 byte order
    equals code-point order, so these compare consistently with the
    Python-string predicates used at scan time.  Returns None when no
    safe upper bound exists (pathological all-U+10FFFF prefix)."""
    lo_t = lo[:_STRING_STAT_PREFIX]
    if len(hi) <= _STRING_STAT_PREFIX:
        return lo_t, hi
    p = hi[:_STRING_STAT_PREFIX]
    for i in range(len(p) - 1, -1, -1):
        cp = ord(p[i])
        if cp < 0x10FFFF:
            nxt = cp + 1
            if 0xD800 <= nxt <= 0xDFFF:  # skip the surrogate gap
                nxt = 0xE000
            return lo_t, p[:i] + chr(nxt)
    return None


def ts_micros(iso: str) -> int:
    """Bound helper: ISO timestamp string -> naive micros-since-epoch,
    the domain zone-map stats store timestamps in."""
    import datetime as _dt

    return (
        _dt.datetime.fromisoformat(iso) - _dt.datetime(1970, 1, 1)
    ) // _dt.timedelta(microseconds=1)


def _widen(a: T.DataType, b: T.DataType) -> T.DataType:
    """Least common widened type of a and b, or raise."""
    if a == b:
        return a
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(_widen(a.elementType, b.elementType), True)
    if _WIDENINGS.get((a.typeName(), b.typeName())):
        return b
    if _WIDENINGS.get((b.typeName(), a.typeName())):
        return a
    raise ValueError(f"incompatible schema evolution: {a} vs {b}")


def merge_schemas(current: T.StructType, incoming: T.StructType) -> T.StructType:
    """Schema-merge on write: keep current field order, widen in place,
    append brand-new fields at the end (Iceberg-style add-column)."""
    by_name = {f.name: f for f in incoming.fields}
    fields: list[T.StructField] = []
    for f in current.fields:
        if f.name in by_name:
            fields.append(T.StructField(f.name, _widen(f.dataType, by_name[f.name].dataType), True))
        else:
            fields.append(T.StructField(f.name, f.dataType, True))
    known = {f.name for f in current.fields}
    for f in incoming.fields:
        if f.name not in known:
            fields.append(T.StructField(f.name, f.dataType, True))
    return T.StructType(fields)


def align_to_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project df onto ``schema``: missing columns become typed NULLs,
    present columns are cast (widening only, by construction)."""
    cols = []
    have = set(df.columns)
    for f in schema.fields:
        if f.name in have:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def buckets_over(
    snap: Snapshot,
    max_files_per_bucket: int | None = None,
    max_delta_files_per_bucket: int | None = None,
) -> set[int]:
    """Buckets of ``snap`` whose live files, or live merge-on-read delta
    files, exceed a threshold (None disables one); with
    ``max_delta_files_per_bucket=0`` the buckets holding any delta.
    Commit-log metadata only: no Spark job, no filesystem probe."""
    live = snap.live_files.values()
    files = Counter(a["bucket"] for a in live)
    deltas = Counter(a["bucket"] for a in live if a.get("kind") == "delta")
    return {
        b for b in files
        if (max_files_per_bucket is not None and files[b] > max_files_per_bucket)
        or (max_delta_files_per_bucket is not None and deltas[b] > max_delta_files_per_bucket)
    }


class ConcurrentModificationError(Exception):
    """A concurrent commit rewrote files this commit was based on."""


class LakeTable:
    """A transactional, bucket-partitioned parquet table."""

    def __init__(self, spark: SparkSession, path: str, key_col: str = "doc_id", num_buckets: int = 16):
        self.spark = spark
        self.path = path
        self.key_col = key_col
        self.num_buckets = num_buckets
        self.log = CommitLog(path)

    # ------------------------------------------------------------------ DDL
    @classmethod
    def create_if_not_exists(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        key_col: str = "doc_id",
        num_buckets: int = 16,
    ) -> "LakeTable":
        """Idempotent create (reference analog: information_schema probe +
        CREATE TABLE IF NOT EXISTS, staging/create_staging_tables.py:43-57)."""
        tbl = cls(spark, path, key_col=key_col, num_buckets=num_buckets)
        if tbl.log.latest_version() is None:
            stored = T.StructType(list(schema.fields) + _INTERNAL_FIELDS)
            entry = LogEntry(
                version=0,
                schema_json=stored.json(),
                properties={"key_col": key_col, "num_buckets": num_buckets},
            )
            try:
                tbl.log.try_commit(entry)
            except CommitConflict:
                pass  # concurrent creator won; fall through to read its state
        snap = tbl.log.snapshot()
        tbl.key_col = snap.properties.get("key_col", key_col)
        tbl.num_buckets = int(snap.properties.get("num_buckets", num_buckets))
        return tbl

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LakeTable":
        tbl = cls(spark, path)
        snap = tbl.log.snapshot()
        if snap is None:
            raise FileNotFoundError(f"no lake table at {path}")
        tbl.key_col = snap.properties.get("key_col", "doc_id")
        tbl.num_buckets = int(snap.properties.get("num_buckets", 16))
        return tbl

    # ----------------------------------------------------------- schema ops
    def stored_schema(self, version: int | None = None) -> T.StructType:
        return self._schema(self.log.snapshot(version))

    def user_schema(self, version: int | None = None) -> T.StructType:
        internal = {LSN_COL, COMMIT_TS_COL, DELETED_COL}
        return T.StructType([f for f in self.stored_schema(version).fields if f.name not in internal])

    def bucket_expr(self, key=None):
        key = F.col(self.key_col) if key is None else key
        return F.pmod(F.xxhash64(key), F.lit(self.num_buckets)).cast("int")

    @staticmethod
    def _schema(snap: Snapshot, schema_version: int | None = None) -> T.StructType:
        """The canonical schema at ``snap``, or with ``schema_version``
        the schema that version's data files were written under."""
        js = snap.schema_json if schema_version is None else snap.schemas[schema_version]
        return T.StructType.fromJson(json.loads(js))

    # ------------------------------------------------------------- read side
    @staticmethod
    def _prune_adds_by_bounds(
        adds: list[dict[str, Any]], bounds: dict[str, tuple[Any, Any]]
    ) -> list[dict[str, Any]]:
        """Zone-map skip: keep a file only if, for every bounded column,
        its stored (min, max) range overlaps [lo, hi] (None = open end).
        Files without stats for a column are conservatively kept."""
        out = []
        for a in adds:
            stats = a.get("stats") or {}
            keep = True
            for col, (lo, hi) in bounds.items():
                st = stats.get(col)
                if st is None:
                    continue
                fmin, fmax = st
                if (hi is not None and fmin > hi) or (lo is not None and fmax < lo):
                    keep = False
                    break
            if keep:
                out.append(a)
        return out

    def _scan(
        self,
        snap: Snapshot,
        buckets: list[int] | None = None,
        bounds: dict[str, tuple[Any, Any]] | None = None,
    ) -> DataFrame:
        """The live files of ``snap`` (pruned by bucket and zone-map
        bounds), each schema-version group aligned to the canonical
        schema (schema evolution without rewrites)."""
        adds = list(snap.live_files.values())
        if buckets is not None:
            want = set(buckets)
            adds = [a for a in adds if a["bucket"] in want]
        if bounds:
            adds = self._prune_adds_by_bounds(adds, bounds)
        canonical = self._schema(snap)
        if not adds:
            return self.spark.createDataFrame([], canonical)
        groups: dict[int, list[str]] = {}
        for a in adds:
            groups.setdefault(a["schema_version"], []).append(os.path.join(self.path, a["path"]))
        parts = [
            align_to_schema(self.spark.read.schema(self._schema(snap, sv)).parquet(*paths), canonical)
            for sv, paths in sorted(groups.items())
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _resolved(self, snap: Snapshot, buckets: list[int] | None = None) -> DataFrame:
        """``_scan`` with merge-on-read resolution when ``snap`` has live
        deltas (no extra shuffle otherwise)."""
        raw = self._scan(snap, buckets)
        if not buckets_over(snap, max_delta_files_per_bucket=0):
            return raw
        from tickers_daily_intraday_etl_spark.cdc.dedup import lww_winner

        return lww_winner(raw, self.key_col, LSN_COL, COMMIT_TS_COL)

    @staticmethod
    def _visible(df: DataFrame) -> DataFrame:
        """Drop tombstones and the internal columns."""
        return df.where(~F.coalesce(F.col(DELETED_COL), F.lit(False))).drop(
            LSN_COL, COMMIT_TS_COL, DELETED_COL
        )

    def read_raw(
        self,
        version: int | None = None,
        buckets: list[int] | None = None,
        bounds: dict[str, tuple[Any, Any]] | None = None,
    ) -> DataFrame:
        """All stored rows incl. tombstones + internal columns.
        ``buckets`` prunes to the given key-buckets (file-level skip);
        ``bounds`` ({col: (lo, hi)}, timestamps as micros — ``ts_micros``)
        prunes by the per-file zone-map stats.  NB: bounds-pruning is a
        SCAN optimization — callers still apply the row-level predicate;
        and on a merge-on-read table, pruning before LWW resolution is
        only sound for predicates on immutable-per-key columns (use
        ``read_incremental`` for the guarded form)."""
        return self._scan(self.log.snapshot(version), buckets, bounds)

    def has_deltas(self, version: int | None = None) -> bool:
        """True if any live file is a merge-on-read delta (holds candidate
        row versions that must be LWW-resolved at read time)."""
        return bool(buckets_over(self.log.snapshot(version), max_delta_files_per_bucket=0))

    def read_resolved(self, version: int | None = None, buckets: list[int] | None = None) -> DataFrame:
        """Stored rows with merge-on-read resolution applied: when delta
        files are live, the winner per key is the max (lsn, commit_ts,
        fingerprint) across base + all deltas — the SAME total order the
        copy-on-write merge applies at write time, so a table is free to
        mix modes batch-by-batch.  Without deltas this is read_raw (no
        extra shuffle)."""
        return self._resolved(self.log.snapshot(version), buckets)

    def read(self, version: int | None = None) -> DataFrame:
        """Current visible rows (MoR-resolved, tombstones filtered,
        internal cols dropped)."""
        return self._visible(self._resolved(self.log.snapshot(version)))

    def read_incremental(
        self, col: str, lo: Any = None, hi: Any = None, version: int | None = None
    ) -> DataFrame:
        """Bounded-lookback read: visible rows with ``lo <= col <= hi``
        (open ends allowed).  The reference's incremental fact pattern
        (reference: analytics/etl_fact_analytics.py:56,79 — reprocess the
        last N days) is exactly this shape; here the zone-map stats make
        it open only the files whose (min, max) range overlaps the window
        instead of scanning the table.

        Correctness at file level: on a pure-base (CoW) snapshot each key
        is stored once, so file-skip + row-filter is exact.  When
        merge-on-read deltas are live, a pruned read could miss a
        superseding row version outside the window — but keys never
        cross buckets, so only the DELTA-BEARING buckets need
        resolution-first (their files are read in full); every clean
        bucket keeps the zone-map skip.  A skewed feed concentrates
        deltas in hot buckets, so at scale this reads
        O(files-in-window + files-in-hot-buckets), not O(table)."""
        import datetime as _dt

        snap = self.log.snapshot(version)
        is_time_col = isinstance(
            self._schema(snap)[col].dataType, (T.TimestampType, T.TimestampNTZType, T.DateType)
        )

        def _b(v: Any) -> Any:
            # ISO strings are timestamp bounds ONLY for time-typed
            # columns; on a string column they are literal values (the
            # zone maps store truncated string bounds for those)
            if isinstance(v, str) and is_time_col:
                return ts_micros(v)
            if isinstance(v, _dt.datetime):
                return _stat_value(v)
            return v

        bounds = {col: (_b(lo), _b(hi))}
        delta_buckets = buckets_over(snap, max_delta_files_per_bucket=0)
        if delta_buckets:
            clean_buckets = sorted({a["bucket"] for a in snap.live_files.values()} - delta_buckets)
            raw = self._resolved(snap, sorted(delta_buckets))
            if clean_buckets:
                raw = raw.unionByName(self._scan(snap, clean_buckets, bounds))
        else:
            raw = self._scan(snap, bounds=bounds)
        cond = F.lit(True)
        c = F.col(col)
        col_type = raw.schema[col].dataType
        if lo is not None:
            cond = cond & (c >= F.lit(lo).cast(col_type))
        if hi is not None:
            cond = cond & (c <= F.lit(hi).cast(col_type))
        return self._visible(raw.where(cond))

    def lookup(self, value: Any, version: int | None = None) -> DataFrame:
        """Point read: current visible row(s) whose key equals ``value``.
        The string zone maps make this open only the files whose
        (truncated) key range covers the value — the engine-side analog
        of the reference's per-ticker probe
        (reference: staging/extract_staging_data.py:44-45).

        MoR-safe WITHOUT resolving whole buckets: the pruning predicate
        is on the KEY column itself, and every stored version of a key
        has the same key value, so key-bounds pruning can never drop a
        superseding version — LWW then resolves across whatever files
        remain."""
        from tickers_daily_intraday_etl_spark.cdc.dedup import lww_winner

        snap = self.log.snapshot(version)
        # bucket of the literal, computed with the SAME hash the writer
        # used — keys hash across buckets, so without this every
        # bucket's base file survives pruning.  String keys hash
        # driver-pure (lake.xxh64, bit-equality with Spark's xxhash64
        # pinned by test); other key types fall back to a 1-row job.
        if isinstance(value, str):
            from tickers_daily_intraday_etl_spark.lake.xxh64 import bucket_of_string

            bucket = bucket_of_string(value, self.num_buckets)
        else:
            # cast the literal to the key column's STORED type before
            # hashing: xxhash64 hashes an IntegerType literal over 4
            # bytes but a LongType column over 8, so an uncast Python
            # int probes the wrong bucket and silently returns empty
            key_type = self._schema(snap)[self.key_col].dataType
            bucket = self.spark.range(1).select(
                self.bucket_expr(F.lit(value).cast(key_type))
            ).first()[0]
        raw = self._scan(snap, [bucket], {self.key_col: (value, value)}).where(
            F.col(self.key_col) == F.lit(value)
        )
        return self._visible(lww_winner(raw, self.key_col, LSN_COL, COMMIT_TS_COL))

    def committed_batch_ids(self) -> set:
        snap = self.log.snapshot()
        return set(snap.committed_batch_ids) if snap else set()

    # ------------------------------------------------------------ write side
    def _write_data(self, df: DataFrame, base_buckets: Collection[int]) -> list[dict[str, Any]]:
        """Write df (carrying BUCKET_COL, hash-partitioned by it so each
        bucket lives in one task) into a fresh commit dir, one file per
        (bucket, schema version); return their add-records.  A file of a
        bucket in ``base_buckets`` is a base file; any other is a
        merge-on-read delta, LWW-resolved at read time until a rewrite of
        its bucket folds it."""
        commit_dir = f"data/c-{uuid.uuid4().hex}"
        (
            df.sortWithinPartitions(BUCKET_COL, self.key_col)
            .write.partitionBy(BUCKET_COL)
            .parquet(os.path.join(self.path, commit_dir))
        )
        return self._scan_commit_dir(commit_dir, base_buckets)

    def _scan_commit_dir(self, commit_dir: str, base_buckets: Collection[int]) -> list[dict[str, Any]]:
        """Build add-records for the files a write produced (``kind`` is
        ``base`` iff the file's bucket is in ``base_buckets``).  The footer
        reads are driver-side and there is one per bucket file (up to
        num_buckets per commit) — done on a thread pool because a serial
        Python loop here is a fixed per-commit cost that eats into
        scaling (pyarrow releases the GIL for the I/O+decode).

        Each add-record carries zone-map ``stats``: per-file (min, max)
        for every int/float/timestamp column, harvested from the parquet
        row-group statistics the write already produced (timestamps
        stored as micros-since-epoch so the JSON log stays typed).  Scans
        prune on them (``read_raw(bounds=...)``) — the file-skipping that
        makes bounded-lookback reads O(files-in-window) instead of
        O(files-in-table) at 10^10-event scale."""
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        paths: list[str] = []
        base = os.path.join(self.path, commit_dir)
        for root, _dirs, files in os.walk(base):
            for name in files:
                if name.endswith(".parquet"):
                    paths.append(os.path.join(root, name))

        def one(full: str) -> dict[str, Any]:
            rel = os.path.relpath(full, self.path)
            bucket_part = [p for p in rel.split(os.sep) if p.startswith(f"{BUCKET_COL}=")]
            bucket = int(bucket_part[0].split("=")[1]) if bucket_part else -1
            md = pq.ParquetFile(full).metadata
            stats: dict[str, list[Any]] = {}
            for rg_i in range(md.num_row_groups):
                rg = md.row_group(rg_i)
                for c_i in range(rg.num_columns):
                    col = rg.column(c_i)
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        continue
                    lo, hi = _stat_value(st.min), _stat_value(st.max)
                    if lo is None or hi is None:
                        continue
                    name = col.path_in_schema
                    if "." in name:
                        # nested paths (array elements, struct leaves) —
                        # no scan predicate keys on them; recording them
                        # would bloat every add-record for nothing
                        continue
                    if name in stats:
                        stats[name][0] = min(stats[name][0], lo)
                        stats[name][1] = max(stats[name][1], hi)
                    else:
                        stats[name] = [lo, hi]
            # string columns: store truncated-but-safe bounds (exact
            # min/max were merged above; truncate once per file here)
            for name in list(stats):
                lo, hi = stats[name]
                if isinstance(lo, str):
                    t = _truncate_stat_bounds(lo, hi)
                    if t is None:
                        del stats[name]
                    else:
                        stats[name] = list(t)
            rec: dict[str, Any] = {
                "path": rel,
                "bucket": bucket,
                "rows": md.num_rows,
                "kind": "base" if bucket in base_buckets else "delta",
            }
            if stats:
                rec["stats"] = stats
            return rec

        if len(paths) <= 1:
            return [one(p) for p in paths]
        with ThreadPoolExecutor(min(16, len(paths))) as pool:
            return list(pool.map(one, paths))

    def _commit(
        self,
        adds: list[dict[str, Any]],
        removes: list[str],
        schema: T.StructType,
        manifest: dict[str, Any] | None,
        base_version: int | None = None,
        affected_buckets: set[int] | None = None,
    ) -> int:
        """Optimistic-concurrency commit; returns the committed version.

        On version conflict the commit is retried against the new
        snapshot ONLY if every file this commit removes is still live —
        i.e. the interleaved commit touched disjoint buckets.  If a
        removed file is gone, our data files were computed against a
        stale snapshot and blindly committing would drop the other
        writer's changes: raise instead (caller re-runs the merge).

        The removes-still-live check cannot see ADD-ONLY interleavings
        (an append, or a merge into a previously-empty bucket): the
        concurrent files stay live while our rewrite of the same bucket
        would duplicate any of their rows it copied from nowhere — so
        when the caller passes its planning ``base_version`` +
        ``affected_buckets``, any file that became live in an affected
        bucket after the base snapshot also aborts the commit."""
        while True:
            snap = self.log.snapshot()
            version = snap.version + 1
            missing = [r for r in removes if r not in snap.live_files]
            if missing:
                raise ConcurrentModificationError(
                    f"{len(missing)} file(s) this commit replaces were already "
                    f"rewritten by a concurrent commit (e.g. {missing[0]}); "
                    "recompute the merge against the current snapshot"
                )
            if base_version is not None and snap.version != base_version:
                base_live = set(self.log.snapshot(base_version).live_files)
                late = [
                    p
                    for p, a in snap.live_files.items()
                    if p not in base_live
                    and (affected_buckets is None or a["bucket"] in affected_buckets)
                ]
                if late:
                    raise ConcurrentModificationError(
                        f"{len(late)} file(s) were added to affected bucket(s) by a "
                        f"concurrent commit after the planning snapshot v{base_version} "
                        f"(e.g. {late[0]}); recompute the merge against the current snapshot"
                    )
            # a concurrent commit may have evolved the canonical schema
            # after this merge was planned; publishing our stale schema
            # would null-fill the concurrent column away on every aligned
            # read.  Our data files were written under OUR schema, so the
            # only safe resolutions are (a) ours is a superset -> commit,
            # (b) anything else -> abort and let the caller replan.
            merged = merge_schemas(self._schema(snap), schema)
            # merge_schemas normalizes nullability; compare like-for-like
            normalized = T.StructType(
                [T.StructField(f.name, f.dataType, True) for f in schema.fields]
            )
            if merged.json() != normalized.json():
                raise ConcurrentModificationError(
                    "canonical schema evolved concurrently while this commit "
                    "was in flight; recompute the merge against the current snapshot"
                )
            schema_json = schema.json()
            for a in adds:
                # files written under the outgoing canonical schema
                a["schema_version"] = version if schema_json != snap.schema_json else max(snap.schemas, default=0)
            entry = LogEntry(
                version=version,
                schema_json=schema_json,
                adds=adds,
                removes=removes,
                manifest=manifest,
            )
            try:
                self.log.try_commit(entry)
                return version
            except CommitConflict:
                continue  # re-read snapshot, retry at next version

    def append(self, df: DataFrame, manifest: dict[str, Any] | None = None) -> int:
        """Plain append (no key semantics) — schema-merged on write."""
        evolved = merge_schemas(self._schema(self.log.snapshot()), df.schema)
        n = max(1, min(self.num_buckets, int(self.spark.conf.get("spark.sql.shuffle.partitions"))))
        aligned = align_to_schema(df, evolved).withColumn(BUCKET_COL, self.bucket_expr())
        adds = self._write_data(aligned.repartition(n, BUCKET_COL), range(self.num_buckets))
        return self._commit(adds, [], evolved, manifest)
