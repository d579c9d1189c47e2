"""MERGE a change batch into a LakeTable (key-partitioned upsert).

Collapses the reference's 4-statement SCD/upsert dance (temp table ->
retire -> touch -> insert, reference: analytics/etl_dim_analytics.py:142-211)
and its watermark filter (staging/transform_staging_data.py:47-62) into one
copy-on-write MERGE with these semantics:

* the source row wins iff its ordering tuple (lsn, commit_ts,
  content fingerprint) is STRICTLY greater than the target row's — so a
  higher LSN always wins, an equal-LSN source wins only with a newer
  commit_ts (and fingerprint as the final total-order tiebreak; the
  feed generator deliberately emits equal-LSN ties and the replay
  oracle pins this contract)
* otherwise the target row stands (stale change, late arrival)
* key absent in target      -> insert (op='D' inserts a tombstone so a
  later-arriving stale update still loses — replay equality demands it)

Physical plan (scale-first, one or two jobs per batch).  Every bucket
rewrite in the engine is ``fold_buckets`` over a REWRITE SET: those
buckets' live rows (base and deltas) join the batch in the LWW and
commit as base files replacing exactly the files read; any other bucket
the batch touches gets a delta file.  CoW = the touched buckets; MoR =
none, plus any bucket at the delta threshold; ``compact`` = the buckets
over its file threshold, no batch; ``purge_tombstones`` = that plus a filter.
1. op counts — a SPARSE copy-on-write batch runs one small stats
   aggregation ((op x bucket) counts: rows_in, per-op counts and the
   touched-bucket list in one pass); a merge-on-read or DENSE batch
   (Catalyst row estimate says every bucket is touched) skips that scan
   and the counts ride the write as an Observation;
2. one fused LWW aggregation over batch rows UNION the rewrite set's
   rows, winner per key = max(lsn, commit_ts, fingerprint) — in-batch
   dedup, target-vs-batch resolution and delta folding are the same max,
   so there is no separate dedup shuffle and no join anywhere;
3. the aggregation is CLUSTERED ON THE STORAGE BUCKET
   (``lww_winner(cluster_col=_bucket)``): one explicit
   ``repartition(n, bucket)`` satisfies both the groupBy's clustering
   requirement AND the bucket-partitioned write's layout, so the full
   row payload (token arrays) crosses exactly ONE shuffle per rewrite —
   the floor for a copy-on-write rewrite (BENCH/shuffle_bytes.md and
   BENCH/roofline.md measured the cost of any second payload crossing);
then the commit (data files + batch manifest + per-bucket lineage) is
atomic.  At 100 TB a batch touching 1% of buckets reads/writes 1% of the
table; a bulk-load batch pays a single pass over its data.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tickers_daily_intraday_etl_spark.cdc import schemas as S
from tickers_daily_intraday_etl_spark.cdc.dedup import lww_winner
from tickers_daily_intraday_etl_spark.lake.table import (
    BUCKET_COL,
    COMMIT_TS_COL,
    DELETED_COL,
    LSN_COL,
    LakeTable,
    Snapshot,
    align_to_schema,
    buckets_over,
    merge_schemas,
)


# A batch with >= this many rows PER BUCKET almost surely touches every
# bucket (untouched-bucket probability per bucket: e^-8 ~= 3e-4), so the
# pre-merge stats scan buys no pruning — skip it and fuse the op counts
# into the write via an Observation, exactly like the MoR path.
# ASSUMES roughly uniform key hashing: a large batch of updates to FEW
# hot keys passes the row threshold while touching few buckets, and the
# dense path then rewrites the whole table (correct output, severe CoW
# write amplification).  Callers ingesting hot-key feeds should pass
# dense=False explicitly (or use mode='mor', which never rewrites the
# target); a future refinement is gating AUTO on a distinct-key
# estimate rather than raw row count.
_DENSE_BATCH_ROWS_PER_BUCKET = 8
# conservative (high) compressed-bytes-per-row guess for the size-based
# row estimate: overestimating bytes/row UNDERestimates rows, which only
# ever keeps the pruning pre-scan — never skips it wrongly
_EST_BYTES_PER_ROW = 256
# absolute floor for the AUTO dense decision: parquet footers make tiny
# files look like tens of phantom rows each, so a size-derived estimate
# under this is noise — keep the pruning path (deterministically so for
# small unit-test batches; callers can force `dense=True` explicitly)
_DENSE_MIN_EST_ROWS = 10_000


# Target rows per clustered-exchange partition: sorts of ~100k wide
# rows stay in-memory (measured good at 62-100k; the collapse began at
# ~1M rows/partition), while fewer partitions cut per-task fixed cost
# (measured ~9% on 50k-row sustained micro-batches).  Round 6 A/B'd the
# round-5 "bulk -9%" suspect (this band vs fixed num_buckets vs a 50k
# target, interleaved on the 2M-event bulk batch): identical-code
# spread ±15% swamped every variant delta — noise verdict, band kept
# (BENCH/drift_r06.md has the draws).
_CLUSTER_TARGET_ROWS = 100_000


def _cluster_partitions(table: LakeTable, est_total_rows: int | None = None) -> int:
    """Partition count for the bucket-clustered LWW exchange, clamped to
    ``[shuffle.partitions, max(shuffle.partitions, num_buckets)]`` and
    row-targeted inside that band (``est_total_rows`` is the
    metadata-only batch + pruned-target estimate; None = unknown).

    The per-partition unit must NEVER become (rows / cores)-sized: the
    aggregate above the exchange is a SortAggregate (max_by over a
    struct is not hash-aggregable), and at low parallelism a cores-
    sized count put millions of token-array rows into each partition's
    sort, spilling and collapsing core-scaling to ~1.4x (measured on
    the 8M-event feed; bucket-bounded counts restored 185k/485k ev/s
    at 2/8 cores).  Within the safe band, fewer partitions mean fewer
    tiny tasks for small micro-batches.  A count below num_buckets
    only co-locates whole buckets (hash(bucket) % n); a bucket is
    never split, so the write still emits one file per bucket — and
    ``sortWithinPartitions(bucket, key)`` keeps one parquet writer
    open at a time inside each task."""
    conf = int(table.spark.conf.get("spark.sql.shuffle.partitions"))
    hi = max(conf, table.num_buckets)
    if est_total_rows is None:
        return hi
    need = -(-est_total_rows // _CLUSTER_TARGET_ROWS)
    return max(conf, min(hi, need))


def _estimated_rows(changes: DataFrame) -> int | None:
    """Catalyst-statistics row estimate, METADATA-ONLY (no job): exact
    rowCount when the optimizer knows it, else sizeInBytes divided by a
    conservative row width.  None when the plan carries no stats."""
    try:
        stats = changes._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            return int(str(rc.get()))
        size = int(str(stats.sizeInBytes()))
        if size >= 1 << 50:
            # Spark reports defaultSizeInBytes (Long.MaxValue) for plans
            # it cannot size (e.g. RDD-backed frames) — that is "UNKNOWN",
            # not "huge"; treating it as huge would force every such
            # batch down the no-pruning path
            return None
        return size // _EST_BYTES_PER_ROW
    except Exception:
        return None


def _to_stored_rows(changes: DataFrame, stored_schema: T.StructType) -> DataFrame:
    """Project change events onto the table's stored layout:
    payload columns + (_lsn, _commit_ts, _deleted)."""
    src = changes.select(
        *[F.col(f.name) for f in S.payload_fields(changes.schema)],
        F.col(S.LSN_SRC_COL).alias(LSN_COL),
        F.col(S.COMMIT_TS_SRC_COL).alias(COMMIT_TS_COL),
        (F.col(S.OP_COL) == F.lit("D")).alias(DELETED_COL),
    )
    return align_to_schema(src, stored_schema)


def merge_into(
    table: LakeTable,
    changes: DataFrame,
    batch_id: Any,
    salt_partitions: int = 0,
    extra_manifest: dict[str, Any] | None = None,
    mode: str = "cow",
    max_conflict_retries: int = 2,
    dense: bool | None = None,
    max_delta_files_per_bucket: int | None = None,
) -> dict[str, Any]:
    """Apply one change batch exactly-once. Returns the lineage manifest.

    Epoch fencing: a batch_id already present in the commit log is a
    replay (foreachBatch retry after failure, resume overlap) — skipped
    without touching data, which is what makes re-runs idempotent
    (the guard the reference lacks at staging/load_staging_data.py:41).

    ``mode`` picks the rewrite set (module docstring):
    * ``'cow'`` (copy-on-write, default): rewrite every touched bucket —
      read cost stays minimal, but a batch whose keys touch all buckets
      rewrites the whole table.
    * ``'mor'`` (merge-on-read): write ONLY the batch's deduped rows as
      per-bucket delta files (no target read, no removes — write volume
      is proportional to the BATCH); reads LWW-resolve base + deltas with
      the identical total order.  The right choice when batches touch a
      small fraction of rows per bucket — the main write-amplification
      risk of CoW at 10^10-event scale.  Modes can be mixed
      batch-by-batch on one table.

    ``max_delta_files_per_bucket`` (k >= 1, None = off): every bucket
    already holding k live deltas joins the rewrite set and is folded
    into one base file by this batch, so no bucket holds more than k
    deltas after it (snapshot metadata, no job; a skewed feed folds only
    its hot buckets).

    ``dense`` (CoW only): True skips the bucket-pruning stats job and
    rewrites every bucket, False always runs it; None (default) decides
    from the metadata-only row estimate (module docstring §1).

    ``max_conflict_retries``: a ConcurrentModificationError means another
    writer changed a bucket of the rewrite set between this merge's
    planning snapshot and its commit; the merge is simply RE-PLANNED
    against the new snapshot (the whole function is a pure function of
    table state + batch, and the epoch fence re-check makes the retry
    replay-safe).  After the retries are exhausted the error propagates.
    """
    from tickers_daily_intraday_etl_spark.lake.table import ConcurrentModificationError

    attempt = 0
    while True:
        try:
            return _merge_once(table, changes, batch_id, salt_partitions, extra_manifest, mode, dense,
                               max_delta_files_per_bucket)
        except ConcurrentModificationError:
            if attempt >= max_conflict_retries:
                raise
            attempt += 1


def _rows_per_bucket(adds: list[dict[str, Any]]) -> dict[str, int]:
    out: dict[str, int] = {}
    for a in adds:
        b = str(a["bucket"])
        out[b] = out.get(b, 0) + a["rows"]
    return out


def fold_buckets(
    table: LakeTable, snap: Snapshot, rewrite: set[int], schema: T.StructType,
    batch: DataFrame | None = None, est_batch_rows: int | None = 0,
    salt_partitions: int = 0, keep: Column | None = None,
) -> tuple[list[dict[str, Any]], list[dict[str, Any]], float]:
    """The engine's one bucket-rewrite body: every live row of the
    ``rewrite`` buckets at ``snap`` joins the ``batch`` rows (stored
    layout under ``schema``; None = no batch) in one bucket-clustered
    LWW, rows failing ``keep`` are dropped after it, and one write emits
    the rewrite buckets as base files and any other bucket the batch
    touches as a delta file.  Returns (new add-records, the add-records
    they replace, seconds spent writing); the caller commits them."""
    old_adds = [a for a in snap.live_files.values() if a["bucket"] in rewrite]
    src = batch
    if rewrite:
        target = align_to_schema(table._scan(snap, sorted(rewrite)), schema)
        # batch side on the LEFT: a union's Dataset inherits the left
        # side's SparkSession, and inside foreachBatch the batch df lives
        # in a CLONED session — the Observation listener registers there,
        # so the write must execute there too or `obs.get` waits forever
        # on a listener bus that never fires (the round-4 hang)
        src = target if src is None else src.unionByName(target)
    # union volume estimate, all metadata: the batch estimate plus the
    # rewrite set's committed row counts from the snapshot
    est_rows = None if est_batch_rows is None else est_batch_rows + sum(a["rows"] for a in old_adds)
    merged = lww_winner(
        src.withColumn(BUCKET_COL, table.bucket_expr()), table.key_col, LSN_COL, COMMIT_TS_COL,
        salt_partitions=salt_partitions, cluster_col=BUCKET_COL,
        cluster_partitions=_cluster_partitions(table, est_rows),
    )
    if keep is not None:
        merged = merged.where(keep)
    t_write = time.time()
    return table._write_data(merged, rewrite), old_adds, time.time() - t_write


def _merge_once(
    table: LakeTable,
    changes: DataFrame,
    batch_id: Any,
    salt_partitions: int,
    extra_manifest: dict[str, Any] | None,
    mode: str,
    dense: bool | None,
    max_delta_files_per_bucket: int | None,
) -> dict[str, Any]:
    if mode not in ("cow", "mor"):
        raise ValueError(f"unknown merge mode {mode!r} (expected 'cow' or 'mor')")
    if max_delta_files_per_bucket is not None and max_delta_files_per_bucket < 1:
        raise ValueError(f"max_delta_files_per_bucket must be >= 1, got {max_delta_files_per_bucket}")
    t0 = time.time()
    cow = mode == "cow"

    # -- 1. pin the planning snapshot ONCE: the epoch fence, schema, the
    #       rewrite set, its rows and the removes list all come from the
    #       same version, and _commit aborts if a rewrite bucket gained
    #       files after it (otherwise a concurrent add-only commit's rows
    #       would be copied into our new files while its own files stay
    #       live -> duplicate keys).
    snap = table.log.snapshot()
    if batch_id is not None and batch_id in snap.committed_batch_ids:
        return {"batch_id": batch_id, "skipped": True, "reason": "already committed"}
    evolved = merge_schemas(table._schema(snap), T.StructType(S.payload_fields(changes.schema)))

    # -- 2. the rewrite set and the op counts.  Delta pressure is
    #       snapshot metadata.  A SPARSE CoW batch runs one small
    #       (op x bucket) stats job (<= 3 * num_buckets rows) whose bucket
    #       list bounds the rewrite to the touched fraction of the table.
    #       MoR (nothing to prune) and DENSE CoW (the metadata-only
    #       estimate says every bucket is touched) skip that scan:
    #       rows_in / op counts ride the write as an Observation — one
    #       fewer batch scan, the dominant FIXED cost per micro-batch.
    #       NB: the batch is scanned twice on the sparse path and is NOT
    #       persisted on purpose: the columnar cache for array-typed rows
    #       costs ~3x the merge itself in CPU (measured 19.7s vs 6.7s for
    #       a 4M-event batch at local[32]); a file-source rescan is cheaper.
    est = _estimated_rows(changes)  # metadata-only; reused for partition sizing
    if dense is None:  # auto: dense iff the estimate clears every bucket
        dense = est is not None and est >= max(
            _DENSE_BATCH_ROWS_PER_BUCKET * table.num_buckets, _DENSE_MIN_EST_ROWS
        )
    rewrite: set[int] = set()
    if cow and dense:
        rewrite = set(range(table.num_buckets))
    elif max_delta_files_per_bucket is not None:
        rewrite = buckets_over(snap, max_delta_files_per_bucket=max_delta_files_per_bucket - 1)
    op_counts: dict[str, int] = {}
    stats_s = 0.0
    obs = None
    if cow and not dense:
        t_stats = time.time()
        stats = (
            changes.select(S.OP_COL, table.bucket_expr().alias(BUCKET_COL))
            .groupBy(S.OP_COL, BUCKET_COL)
            .agg(F.count("*").alias("n"))
            .collect()
        )
        for r in stats:
            op_counts[r[S.OP_COL]] = op_counts.get(r[S.OP_COL], 0) + r["n"]
        rewrite |= {r[BUCKET_COL] for r in stats}
        rows_in = sum(op_counts.values())
        stats_s = time.time() - t_stats
    else:
        obs = Observation()
        changes = changes.observe(
            obs,
            F.count(F.lit(1)).alias("rows_in"),
            *[F.count(F.when(F.col(S.OP_COL) == o, 1)).alias(f"n_{o}") for o in ("I", "U", "D")],
        )
        rows_in = -1  # counted while the write runs

    # -- 3. fold_buckets: one union/LWW winner clustered on the storage
    #       bucket (single payload shuffle), one pre-partitioned write.
    old_adds: list[dict[str, Any]] = []
    new_adds: list[dict[str, Any]] = []
    if rows_in != 0:
        new_adds, old_adds, write_s = fold_buckets(
            table, snap, rewrite, evolved,
            batch=_to_stored_rows(changes, evolved),
            # exact batch rows when the stats job ran, else the estimate
            est_batch_rows=rows_in if rows_in >= 0 else est,
            salt_partitions=salt_partitions,
        )
        t_write = time.time()
        t_plan = t_write - write_s
        if obs is not None:
            # an empty metrics row means adaptive execution proved the
            # observed input empty and pruned the observation with it
            # (an empty MoR batch, whose plan has no target side)
            metrics = obs.get if obs._jo.getRow().length() else {}
            rows_in = int(metrics.get("rows_in", 0))
            op_counts = {o: int(metrics[f"n_{o}"]) for o in ("I", "U", "D") if metrics.get(f"n_{o}")}

    if rows_in == 0 and not old_adds:
        # Conditional-skip sink (reference: staging/load_staging_data.py:38-48)
        # — still record the epoch so the fence holds.  Files an observed
        # write produced stay uncommitted orphans for vacuum's min-age sweep.
        # An empty batch that already folded its rewrite set commits the
        # fold below: it is valid on its own and would otherwise be redone.
        version = table._commit([], [], evolved, {"batch_id": batch_id, "rows_in": 0})
        return {"batch_id": batch_id, "rows_in": 0, "version": version, "skipped": False}

    # -- 4. atomic commit with the lineage manifest.  A commit without a
    #       rewrite set is add-only and conflict-free; otherwise its
    #       removes are validated against the pinned snapshot for every
    #       bucket of the set.
    lineage: dict[str, Any] = {
        "batch_id": batch_id,
        "rows_in": rows_in,
        "timings_sec": {
            "stats": round(stats_s, 3),
            "plan": round(t_plan - t0 - stats_s, 3),
            "write": round(t_write - t_plan, 3),
        },
        "op_counts": op_counts,
        "affected_buckets": sorted(rewrite | {a["bucket"] for a in new_adds}),
        "files_removed": len(old_adds),
        "files_added": len(new_adds),
    }
    if cow:
        lineage["rows_before"] = _rows_per_bucket(old_adds)
        lineage["rows_after"] = _rows_per_bucket(new_adds)
    else:
        lineage["mode"] = "mor"
        lineage["rows_written"] = sum(a["rows"] for a in new_adds)
    if extra_manifest:
        lineage.update(extra_manifest)
    version = table._commit(
        new_adds,
        [a["path"] for a in old_adds],
        evolved,
        lineage,
        base_version=snap.version if rewrite else None,
        affected_buckets=rewrite,
    )
    lineage["version"] = version
    lineage["skipped"] = False
    return lineage
