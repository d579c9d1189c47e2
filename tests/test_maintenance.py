"""Compaction, tombstone purge, vacuum — the LWW-resolved state must be invariant."""

import datetime as dt
import os

from pyspark.sql import Row

from tickers_daily_intraday_etl_spark.cdc.merge import merge_into
from tickers_daily_intraday_etl_spark.cdc.schemas import CDC_SCHEMA, TARGET_SCHEMA
from tickers_daily_intraday_etl_spark.lake import LakeTable
from tickers_daily_intraday_etl_spark.lake.maintenance import compact, purge_tombstones, vacuum


def _ev(op, doc, lsn, tokens=None):
    return Row(
        op=op, doc_id=doc, lsn=lsn,
        commit_ts=dt.datetime(2024, 1, 1) + dt.timedelta(seconds=lsn),
        tokens=tokens, n_tok=None if tokens is None else len(tokens), source="s",
    )


def _setup(spark, tmpdir_path, n_batches=4):
    t = LakeTable.create_if_not_exists(
        spark, os.path.join(tmpdir_path, "t"), TARGET_SCHEMA, num_buckets=4
    )
    lsn = 0
    for b in range(n_batches):
        rows = [_ev("U" if b else "I", f"d{i}", lsn + i + 1, [b, i]) for i in range(12)]
        lsn += 12
        merge_into(t, spark.createDataFrame(rows, CDC_SCHEMA), batch_id=b)
    return t


def _state(t):
    return sorted((r.doc_id, list(r.tokens)) for r in t.read().collect())


def test_compact_preserves_state_and_reduces_files(spark, tmpdir_path):
    t = _setup(spark, tmpdir_path)
    before = _state(t)
    n_files_before = len(t.log.snapshot().live_files)
    res = compact(t, max_files_per_bucket=1)
    assert res["files_added"] <= res["files_removed"]
    assert len(t.log.snapshot().live_files) <= n_files_before
    assert _state(t) == before
    # idempotent: second compact is a no-op
    assert compact(t, max_files_per_bucket=1)["compacted_buckets"] == 0


def test_compact_collapses_keys_an_append_stored_twice(spark, tmpdir_path):
    """Compaction always applies the LWW: a key two plain appends stored
    (read() shows both, no delta is live) leaves it as one row."""
    t = LakeTable.create_if_not_exists(
        spark, os.path.join(tmpdir_path, "t"), TARGET_SCHEMA, num_buckets=2
    )
    for tok in (1, 2):
        t.append(spark.createDataFrame([Row(doc_id="a", tokens=[tok], n_tok=1, source="s")], TARGET_SCHEMA))
    assert t.read().count() == 2
    assert compact(t, max_files_per_bucket=1)["files_removed"] == 2
    assert [r.doc_id for r in t.read().collect()] == ["a"]


def test_purge_tombstones_respects_low_water_mark(spark, tmpdir_path):
    t = _setup(spark, tmpdir_path, n_batches=1)
    merge_into(t, spark.createDataFrame([_ev("D", "d0", 100)], CDC_SCHEMA), batch_id=10)
    raw_tomb = t.read_raw().where("_deleted").count()
    assert raw_tomb == 1
    # lwm below the tombstone's lsn: kept (a staler update could still arrive)
    purge_tombstones(t, lsn_low_water_mark=50)
    assert t.read_raw().where("_deleted").count() == 1
    # lwm above: physically dropped, visible state unchanged
    before = _state(t)
    purge_tombstones(t, lsn_low_water_mark=101)
    assert t.read_raw().where("_deleted").count() == 0
    assert _state(t) == before


def test_vacuum_deletes_only_unreferenced(spark, tmpdir_path):
    t = _setup(spark, tmpdir_path)
    before = _state(t)
    dry = vacuum(t, retain_last_n_versions=1, dry_run=True, min_age_seconds=0)
    assert dry["orphan_files"] > 0  # superseded files from the 4 merges
    res = vacuum(t, retain_last_n_versions=1, min_age_seconds=0)
    assert res["orphan_files"] == dry["orphan_files"]
    assert _state(t) == before  # latest snapshot fully readable
    assert vacuum(t, retain_last_n_versions=1, dry_run=True, min_age_seconds=0)["orphan_files"] == 0


def test_vacuum_with_log_expiry(spark, tmpdir_path):
    """vacuum(expire_log_checkpoints=...) runs both retentions: data
    files AND commit-log entries below the retained checkpoints, with
    the table still fully readable and the epoch fence intact."""
    from tickers_daily_intraday_etl_spark.lake.log import CHECKPOINT_INTERVAL

    t = _setup(spark, tmpdir_path, n_batches=1)
    # push the log past two checkpoints with no-op-sized merges
    next_batch = 100
    while (t.log.latest_version() or 0) < 2 * CHECKPOINT_INTERVAL + 2:
        merge_into(
            t,
            spark.createDataFrame(
                [_ev("U", "d0", 1000 + next_batch, [next_batch])], CDC_SCHEMA
            ),
            batch_id=next_batch,
        )
        next_batch += 1
    before = _state(t)
    fence_before = t.committed_batch_ids()
    res = vacuum(
        t, retain_last_n_versions=1, min_age_seconds=0, expire_log_checkpoints=1
    )
    assert res["log"]["expired_entries"] > 0
    assert _state(t) == before
    assert t.committed_batch_ids() == fence_before  # fence survives expiry
    # replayed batch id still fenced after log expiry
    m = merge_into(
        t, spark.createDataFrame([_ev("U", "d0", 1, [9])], CDC_SCHEMA), batch_id=100
    )
    assert m["skipped"] is True


def test_streaming_self_maintenance_bounds_log_and_orphans(spark, tmpdir_path):
    """A long-running stream with the every-N-batches maintenance hook
    (maintain_every) must be SELF-maintaining: after 300 one-file
    micro-batches the _log directory and the data-file count are both
    bounded by the retention windows, not by batch count — and the final
    state still equals the replay oracle."""
    from tickers_daily_intraday_etl_spark.cdc.feedgen import (
        generate_feed,
        write_feed_segments,
    )
    from tickers_daily_intraday_etl_spark.cdc.oracle import final_state_frame
    from tickers_daily_intraday_etl_spark.lake.log import CHECKPOINT_INTERVAL
    from tickers_daily_intraday_etl_spark.streaming import CdcPipeline

    events = generate_feed(n_events=1500, n_docs=120, seed=11)
    feed = os.path.join(tmpdir_path, "feed")
    write_feed_segments(events, feed, n_segments=300)
    pipe = CdcPipeline(
        spark,
        feed,
        os.path.join(tmpdir_path, "t"),
        os.path.join(tmpdir_path, "c"),
        num_buckets=4,
        max_files_per_trigger=1,
        maintain_every=20,
        vacuum_retain_versions=4,
        expire_log_checkpoints=2,
    )
    lineage = pipe.run_available_now()
    n_batches = len([m for m in lineage if "batch_id" in m])
    assert n_batches >= 300
    maint = [m["maintenance"] for m in lineage if "maintenance" in m]
    assert len(maint) >= 14  # the hook actually fired on cadence

    # _log stays bounded: entries above the retained floor (< 2
    # checkpoint intervals after the last expiry, + <=20 since) +
    # retained checkpoints + pointer — NOT ~300 files
    log_files = os.listdir(os.path.join(tmpdir_path, "t", "_log"))
    assert len(log_files) <= 3 * CHECKPOINT_INTERVAL + 10, len(log_files)

    # data files stay bounded by the vacuum retention window, not by
    # 300 rewrites x 4 buckets
    data_files = [
        f
        for root, _d, files in os.walk(os.path.join(tmpdir_path, "t", "data"))
        for f in files
        if f.endswith(".parquet")
    ]
    assert len(data_files) <= 24 * 4 + 16, len(data_files)

    # and the maintained table still replays to the oracle state
    oracle = final_state_frame(events)
    exp = sorted(
        (r["doc_id"], list(r["tokens"]))
        for _, r in oracle.iterrows()
        if r["tokens"] is not None
    )
    got = sorted((r.doc_id, list(r.tokens)) for r in pipe.table.read().collect())
    assert got == exp


def test_vacuum_window_clamps_to_expired_log_floor(spark, tmpdir_path):
    """ADVICE r05 (medium): after expire_log, a vacuum whose
    retain_last_n_versions window reaches below the log's retained floor
    must skip the unreconstructible versions instead of raising
    VersionNotRetained — the crash path was CdcPipeline.maintain_every <
    retain_last_n_versions-1 around a checkpoint boundary."""
    from tickers_daily_intraday_etl_spark.lake.log import CHECKPOINT_INTERVAL

    t = _setup(spark, tmpdir_path, n_batches=1)
    next_batch = 100
    while (t.log.latest_version() or 0) < CHECKPOINT_INTERVAL + 2:
        merge_into(
            t,
            spark.createDataFrame(
                [_ev("U", "d0", 1000 + next_batch, [next_batch])], CDC_SCHEMA
            ),
            batch_id=next_batch,
        )
        next_batch += 1
    t.log.expire_log(retain_checkpoints=1)  # floor = CHECKPOINT_INTERVAL
    before = _state(t)
    # window [latest-7, latest] dips below the floor — must not raise
    res = vacuum(t, retain_last_n_versions=8, min_age_seconds=0)
    assert res["deleted"] is True
    assert _state(t) == before
