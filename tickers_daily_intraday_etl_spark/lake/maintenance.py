"""Table maintenance: compaction, tombstone purge, vacuum.

These keep a continuously-MERGEd table healthy at 10^10-event scale:
merge-on-read deltas pile up per bucket until folded, deleted keys
linger as tombstones until the feed's LSN low-water mark passes them,
and superseded files hold disk until vacuumed.

Compaction and tombstone purge are merges of no batch: each picks a
bucket set from one pinned snapshot and rewrites it with the merge's own
body (``cdc.merge.fold_buckets``: one bucket-clustered LWW exchange, one
base file per bucket).  Their commits check only that the files they
replace are still live: a delta another writer adds to such a bucket
meanwhile stays live and resolves against the new base file.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import functions as F

from tickers_daily_intraday_etl_spark.cdc.merge import fold_buckets
from tickers_daily_intraday_etl_spark.lake.log import VersionNotRetained
from tickers_daily_intraday_etl_spark.lake.table import (
    BUCKET_COL,
    DELETED_COL,
    LSN_COL,
    LakeTable,
    buckets_over,
)


def compact(table: LakeTable, max_files_per_bucket: int = 1) -> dict[str, Any]:
    """Rewrite every bucket holding more than ``max_files_per_bucket``
    live files (base + delta) into one base file.  Metadata-only for
    untouched buckets.  The rewrite always applies the LWW total order,
    so merge-on-read deltas are folded and keys an ``append`` stored
    twice collapse to one row per key.  A stream bounds its per-bucket
    delta pressure inside its own merges instead
    (``merge_into(max_delta_files_per_bucket=...)``)."""
    snap = table.log.snapshot()
    buckets = buckets_over(snap, max_files_per_bucket)
    if not buckets:
        return {"compacted_buckets": 0, "files_removed": 0, "files_added": 0}
    schema = table._schema(snap)
    new_adds, old_adds, _ = fold_buckets(table, snap, buckets, schema)
    version = table._commit(new_adds, [a["path"] for a in old_adds], schema, {"op": "compact"})
    return {"compacted_buckets": len(buckets), "files_removed": len(old_adds),
            "files_added": len(new_adds), "version": version}


def purge_tombstones(table: LakeTable, lsn_low_water_mark: int) -> dict[str, Any]:
    """Physically drop tombstones whose LSN is below the feed's low-water
    mark — no change event with a lower LSN can ever arrive, so the
    tombstone can no longer lose an LWW comparison it needs to win."""
    snap = table.log.snapshot()
    # resolved rows, NOT the raw scan: on a merge-on-read table a raw scan
    # still holds superseded row versions — purging a winning tombstone
    # while a stale non-deleted version of the same key survives would
    # resurrect it.  The rewrite likewise filters only AFTER its LWW.
    purgeable = F.coalesce(F.col(DELETED_COL), F.lit(False)) & (F.col(LSN_COL) < lsn_low_water_mark)
    tombstoned = table._resolved(snap).where(purgeable).select(table.bucket_expr().alias(BUCKET_COL))
    buckets = {r[BUCKET_COL] for r in tombstoned.distinct().collect()}
    if not buckets:
        return {"purged_buckets": 0, "version": snap.version}
    schema = table._schema(snap)
    new_adds, old_adds, _ = fold_buckets(table, snap, buckets, schema, keep=~purgeable)
    manifest = {"op": "purge_tombstones", "lwm": lsn_low_water_mark}
    version = table._commit(new_adds, [a["path"] for a in old_adds], schema, manifest)
    return {"purged_buckets": len(buckets), "version": version}


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
