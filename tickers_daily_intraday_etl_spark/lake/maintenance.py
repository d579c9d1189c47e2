"""Table maintenance: compaction, tombstone purge, vacuum.

These are the operations that keep a continuously-MERGEd table healthy
at 10^10-event scale: every micro-batch rewrites its affected buckets,
so file counts grow linearly with batches until compaction folds them,
deleted keys linger as tombstones until the feed's LSN low-water mark
passes them, and superseded files hold disk until vacuumed.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from tickers_daily_intraday_etl_spark.lake.log import Snapshot, VersionNotRetained
from tickers_daily_intraday_etl_spark.lake.table import (
    BUCKET_COL,
    DELETED_COL,
    LSN_COL,
    LakeTable,
)


def buckets_over(
    snap: Snapshot,
    max_files_per_bucket: int | None = None,
    max_delta_files_per_bucket: int | None = None,
) -> dict[int, list[dict[str, Any]]]:
    """Buckets of ``snap`` whose live files exceed a threshold (pass None
    to disable one), mapped to their add-records.  Commit-log metadata
    only: no Spark job, no filesystem probe."""
    by_bucket: dict[int, list[dict[str, Any]]] = {}
    for a in snap.live_files.values():
        by_bucket.setdefault(a["bucket"], []).append(a)

    def over(adds: list[dict[str, Any]]) -> bool:
        n_delta = sum(a.get("kind") == "delta" for a in adds)
        return (max_files_per_bucket is not None and len(adds) > max_files_per_bucket) or (
            max_delta_files_per_bucket is not None and n_delta > max_delta_files_per_bucket
        )

    return {b: adds for b, adds in by_bucket.items() if over(adds)}


def _rewrite_buckets(
    table: LakeTable, snap: Snapshot, buckets: list[int], manifest: dict[str, Any], keep: Column | None = None
) -> dict[str, Any]:
    """Rewrite ``buckets`` from their resolved rows at ``snap`` (filtered
    by the ``keep`` predicate, if any) into one base file per bucket,
    replacing exactly the files that were read, under ``snap``'s schema."""
    df = table._resolved(snap, buckets)
    if keep is not None:
        df = df.where(keep)
    new_adds = table._write_data(df.withColumn(BUCKET_COL, table.bucket_expr()), len(buckets))
    want = set(buckets)
    removes = [p for p, a in snap.live_files.items() if a["bucket"] in want]
    version = table._commit(new_adds, removes, table._schema(snap), manifest)
    return {"files_removed": len(removes), "files_added": len(new_adds), "version": version}


def compact(
    table: LakeTable,
    max_files_per_bucket: int | None = 1,
    max_delta_files_per_bucket: int | None = None,
) -> dict[str, Any]:
    """Rewrite buckets that exceed a threshold into one file each.
    Metadata-only for untouched buckets.  Merge-on-read delta files are
    FOLDED here (the rewrite applies the LWW total order), so the
    rewritten buckets come out as plain base files with one row per key
    again.

    Thresholds (``buckets_over``; a bucket qualifying under either is
    rewritten, pass None to disable one):
    * ``max_files_per_bucket`` — total live files (base + delta);
    * ``max_delta_files_per_bucket`` — merge-on-read delta pressure only.
      A skewed feed concentrates deltas in its hot buckets; a
      count-of-batches cadence would either over-compact the cold buckets
      or let the hot one accumulate unbounded deltas (every read of it
      LWW-resolves the whole pile).  The size-based trigger folds exactly
      the hot buckets."""
    snap = table.log.snapshot()
    buckets = sorted(buckets_over(snap, max_files_per_bucket, max_delta_files_per_bucket))
    if not buckets:
        return {"compacted_buckets": 0, "files_removed": 0, "files_added": 0}
    return {"compacted_buckets": len(buckets), **_rewrite_buckets(table, snap, buckets, {"op": "compact"})}


def purge_tombstones(table: LakeTable, lsn_low_water_mark: int) -> dict[str, Any]:
    """Physically drop tombstones whose LSN is below the feed's low-water
    mark — no change event with a lower LSN can ever arrive, so the
    tombstone can no longer lose an LWW comparison it needs to win."""
    snap = table.log.snapshot()
    # resolved rows, NOT the raw scan: on a merge-on-read table a raw scan
    # still holds superseded row versions — purging a winning tombstone
    # while a stale non-deleted version of the same key survives would
    # resurrect it.  Resolution keeps only winners, so dropping a
    # below-LWM tombstone is safe (nothing older can ever arrive).
    purgeable = F.coalesce(F.col(DELETED_COL), F.lit(False)) & (F.col(LSN_COL) < lsn_low_water_mark)
    tombstoned = table._resolved(snap).where(purgeable).select(table.bucket_expr().alias(BUCKET_COL))
    buckets = sorted(r[BUCKET_COL] for r in tombstoned.distinct().collect())
    if not buckets:
        return {"purged_buckets": 0, "version": snap.version}
    manifest = {"op": "purge_tombstones", "lwm": lsn_low_water_mark}
    out = _rewrite_buckets(table, snap, buckets, manifest, keep=~purgeable)
    return {"purged_buckets": len(buckets), "version": out["version"]}


def vacuum(
    table: LakeTable,
    retain_last_n_versions: int = 1,
    dry_run: bool = False,
    min_age_seconds: float = 3600.0,
    expire_log_checkpoints: int | None = None,
) -> dict[str, Any]:
    """Delete data files no snapshot in the retention window references.
    Time travel to vacuumed-away versions stops working — exactly the
    Iceberg/Delta retention trade-off.

    ``min_age_seconds`` protects files written by an in-flight merge that
    has not committed yet (they are unreferenced by ANY snapshot until the
    commit lands) — the same modification-time guard Delta's VACUUM uses.
    Tests pass 0 to vacuum eagerly.

    ``expire_log_checkpoints``: additionally prune the COMMIT LOG down to
    the newest N checkpoints (``CommitLog.expire_log``) — the log-side
    twin of data-file vacuum, without which a continuously-merged table
    accumulates one log entry per micro-batch forever.
    """
    import time

    latest = table.log.latest_version()
    if latest is None:  # empty log: nothing referenced, nothing to vacuum
        return {"orphan_files": 0, "deleted": not dry_run}
    keep_versions = range(max(0, latest - retain_last_n_versions + 1), latest + 1)
    referenced: set[str] = set()
    for v in keep_versions:
        try:
            snap = table.log.snapshot(v)
        except VersionNotRetained:
            # the retention window can dip below the commit log's retained
            # floor after expire_log (e.g. maintain_every <
            # retain_last_n_versions-1 around a checkpoint boundary); a
            # version that cannot be reconstructed cannot be time-traveled
            # to either, so its exclusively-referenced files are fair game
            continue
        referenced.update(snap.live_files.keys())
    data_root = os.path.join(table.path, "data")
    now = time.time()
    orphans = []
    for root, _dirs, files in os.walk(data_root):
        for name in files:
            full = os.path.join(root, name)
            rel = os.path.relpath(full, table.path)
            if rel not in referenced and now - os.path.getmtime(full) >= min_age_seconds:
                orphans.append(rel)
    if not dry_run:
        for rel in orphans:
            os.unlink(os.path.join(table.path, rel))
        # prune now-empty commit dirs
        for root, dirs, files in os.walk(data_root, topdown=False):
            if not dirs and not files and root != data_root:
                os.rmdir(root)
    out: dict[str, Any] = {"orphan_files": len(orphans), "deleted": not dry_run}
    if expire_log_checkpoints is not None and not dry_run:
        out["log"] = table.log.expire_log(retain_checkpoints=expire_log_checkpoints)
    return out
