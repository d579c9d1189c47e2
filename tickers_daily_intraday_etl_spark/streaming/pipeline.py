"""Structured Streaming CDC pipeline: binlog tail -> lake upsert.

Replaces the reference's daily cron poll + watermark diff loop
(reference: dags/etl_dag.py:27 schedule, staging/transform_staging_data.py:47-62
incremental filter) with a real stream:

    readStream(file source over the binlog segment directory)
      -> foreachBatch(batch_id, df):
           epoch fence (commit manifest)  -> skip replayed batches
           LWW dedup -> bucket-pruned MERGE -> atomic commit w/ lineage

Exactly-once: Spark's checkpoint gives at-least-once delivery of each
micro-batch to foreachBatch; the commit manifest (batch_id recorded in
the same atomic log commit as the data files) downgrades duplicates to
no-ops.  Killing the query and restarting from the same checkpoint —or
replaying from scratch with a fresh checkpoint— converges to the same
final table state (tested against the replay oracle).

`compact` vs `full` API fetch in the reference
(staging/extract_staging_data.py:47-53) maps to resume-from-checkpoint
vs full replay here.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from tickers_daily_intraday_etl_spark.cdc.merge import merge_into
from tickers_daily_intraday_etl_spark.cdc.schemas import CDC_SCHEMA
from tickers_daily_intraday_etl_spark.lake.table import LakeTable


class CdcPipeline:
    def __init__(
        self,
        spark: SparkSession,
        feed_dir: str,
        table_path: str,
        checkpoint_dir: str,
        feed_schema: T.StructType = CDC_SCHEMA,
        target_schema: T.StructType | None = None,
        key_col: str = "doc_id",
        num_buckets: int = 16,
        salt_partitions: int = 0,
        max_files_per_trigger: int | None = None,
        feed_format: str = "parquet",
        compact_delta_files_threshold: int | None = None,
        merge_mode: str = "cow",
        maintain_every: int | None = None,
        vacuum_retain_versions: int = 8,
        expire_log_checkpoints: int = 2,
    ):
        if compact_delta_files_threshold is not None and compact_delta_files_threshold < 1:
            # rejected here, not inside the first foreachBatch's merge
            raise ValueError(f"compact_delta_files_threshold must be >= 1, got {compact_delta_files_threshold}")
        self.spark = spark
        self.feed_dir = feed_dir
        self.checkpoint_dir = checkpoint_dir
        self.feed_schema = feed_schema
        self.salt_partitions = salt_partitions
        self.max_files_per_trigger = max_files_per_trigger
        self.feed_format = feed_format
        # merge-on-read delta pressure bound, per bucket: merge_into folds
        # a bucket holding this many deltas into one base file (hot
        # buckets only) inside the batch's own merge
        self.compact_delta_files_threshold = compact_delta_files_threshold
        self.merge_mode = merge_mode
        # Self-maintenance cadence (off by default): every N applied
        # batches run vacuum (+ commit-log expiry) so a long-running
        # stream keeps its _log directory and orphan count BOUNDED
        # instead of growing one entry per micro-batch forever.  The
        # vacuum uses min_age_seconds=0 here: within one pipeline there
        # is no concurrent in-flight merge whose uncommitted files need
        # the age guard (multi-writer deployments should run vacuum out
        # of band with the default age guard instead).
        self.maintain_every = maintain_every
        self.vacuum_retain_versions = vacuum_retain_versions
        self.expire_log_checkpoints = expire_log_checkpoints
        self._batches_applied = 0
        from tickers_daily_intraday_etl_spark.cdc import schemas as S

        if target_schema is None:
            target_schema = T.StructType(S.payload_fields(feed_schema))
        self.table = LakeTable.create_if_not_exists(
            spark, table_path, target_schema, key_col=key_col, num_buckets=num_buckets
        )
        self.lineage: list[dict[str, Any]] = []  # this process's applied batches

    def _batch_input_files(self, batch_id: int) -> list[str]:
        """Source offsets for a micro-batch: the file-stream source's
        checkpoint log (``sources/0/<batch>``) records exactly which feed
        files the batch consumed — metadata-only (no data scan), written
        by Spark before foreachBatch runs, and exactly-once aligned.
        Handles the source log's periodic ``.compact`` rollups (entries
        carry their batchId)."""
        import json as _json

        src_dir = os.path.join(self.checkpoint_dir, "sources", "0")
        candidates = [
            os.path.join(src_dir, str(batch_id)),
            os.path.join(src_dir, f"{batch_id}.compact"),
        ]
        try:
            compacts = sorted(
                (int(n.split(".")[0]), n)
                for n in os.listdir(src_dir)
                if n.endswith(".compact") and int(n.split(".")[0]) >= batch_id
            )
            candidates += [os.path.join(src_dir, n) for _, n in compacts]
        except OSError:
            pass
        for path in candidates:
            if not os.path.isfile(path):
                continue
            files = []
            with open(path) as f:
                for ln in f.read().splitlines():
                    if not ln.startswith("{"):
                        continue
                    try:
                        entry = _json.loads(ln)
                    except ValueError:
                        continue
                    if entry.get("batchId", batch_id) == batch_id and "path" in entry:
                        files.append(entry["path"])
            if files:
                return sorted(files)
        return []

    def _apply_batch(self, batch_df, batch_id: int) -> None:
        # per-batch lineage: source offsets (feed files consumed), capped
        # so manifests stay small at 10^10-event scale — count stays exact
        in_files = self._batch_input_files(batch_id)
        manifest = merge_into(
            self.table,
            batch_df,
            batch_id=batch_id,
            salt_partitions=self.salt_partitions,
            mode=self.merge_mode,
            max_delta_files_per_bucket=self.compact_delta_files_threshold,
            extra_manifest={
                "n_input_files": len(in_files),
                "input_files": [os.path.basename(f) for f in in_files[:64]],
            },
        )
        self.lineage.append(manifest)
        if manifest.get("skipped"):
            return
        self._batches_applied += 1
        if self.maintain_every and self._batches_applied % self.maintain_every == 0:
            # imported at call time so a wrapper installed on the module
            # (tracing) sees every maintenance call
            from tickers_daily_intraday_etl_spark.lake.maintenance import vacuum

            self.lineage.append(
                {
                    "maintenance": vacuum(
                        self.table,
                        retain_last_n_versions=self.vacuum_retain_versions,
                        min_age_seconds=0.0,
                        expire_log_checkpoints=self.expire_log_checkpoints,
                    )
                }
            )

    def run_available_now(self) -> list[dict[str, Any]]:
        """Drain everything currently in the feed dir, then stop.
        Resumable: a later call picks up only new segments (checkpoint)."""
        from tickers_daily_intraday_etl_spark.sources.changefeed import read_feed

        options = {"recursiveFileLookup": "true"}
        if self.max_files_per_trigger is not None:
            options["maxFilesPerTrigger"] = str(self.max_files_per_trigger)
        reader = read_feed(
            self.spark,
            self.feed_dir,
            fmt=self.feed_format,
            schema=self.feed_schema,
            streaming=True,
            options=options,
        )
        query = (
            reader.writeStream.foreachBatch(self._apply_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        return self.lineage

    def reset_checkpoint(self, *, reset_table: bool) -> None:
        """Full replay = fresh checkpoint AND fresh table (reference's
        `full` fetch mode).

        Epoch fencing is checkpoint-scoped: batch ids restart at 0 under
        a fresh checkpoint, and re-batching under maxFilesPerTrigger can
        place DIFFERENT data under a batch id the old table has already
        committed — the fence would then silently drop it.  A full replay
        therefore requires a fresh table; ``reset_table=False`` is only
        for callers replaying the byte-identical feed into a table they
        reset themselves.

        ``reset_table`` is deliberately keyword-only with NO default:
        ``reset_table=True`` DELETES the table directory, and silently
        defaulting a destructive action bit a previous caller — every
        call site must state its intent."""
        import shutil

        if os.path.exists(self.checkpoint_dir):
            shutil.rmtree(self.checkpoint_dir)
        if reset_table:
            if os.path.exists(self.table.path):
                shutil.rmtree(self.table.path)
            self.table = LakeTable.create_if_not_exists(
                self.spark,
                self.table.path,
                self._fresh_schema(),
                key_col=self.table.key_col,
                num_buckets=self.table.num_buckets,
            )

    def _fresh_schema(self):
        from tickers_daily_intraday_etl_spark.cdc import schemas as S

        return T.StructType(S.payload_fields(self.feed_schema))
