"""Merge-on-read: delta-file MERGE path.

Invariants:
* replay equality — a table built with mode='mor' (and with modes mixed
  batch-by-batch) reads back identical to the single-threaded oracle;
* write volume — on a sparse-update feed MoR writes ~batch-sized deltas
  while CoW rewrites whole buckets;
* compaction folds deltas into base files (has_deltas -> False) without
  changing the visible rows;
* tombstone purge on a delta-bearing table must not resurrect superseded
  row versions.
"""

import os

import pytest
from pyspark.sql import functions as F

from tickers_daily_intraday_etl_spark.cdc.feedgen import generate_feed
from tickers_daily_intraday_etl_spark.cdc.merge import merge_into
from tickers_daily_intraday_etl_spark.cdc.oracle import final_state_frame
from tickers_daily_intraday_etl_spark.cdc.schemas import CDC_SCHEMA, TARGET_SCHEMA
from tickers_daily_intraday_etl_spark.lake import LakeTable
from tickers_daily_intraday_etl_spark.lake.maintenance import compact, purge_tombstones


def _tokens_map(df):
    return {
        r["doc_id"]: (None if r["tokens"] is None else list(r["tokens"]))
        for r in df.collect()
    }


def _oracle_map(events):
    oracle = final_state_frame(events)
    return {
        r["doc_id"]: (None if r["tokens"] is None else list(r["tokens"]))
        for _, r in oracle.iterrows()
    }


def _apply(spark, table, events, n_batches, modes):
    bounds = [int(len(events) * i / n_batches) for i in range(n_batches + 1)]
    manifests = []
    for b in range(n_batches):
        chunk = events.iloc[bounds[b] : bounds[b + 1]]
        sdf = spark.createDataFrame(chunk, schema=CDC_SCHEMA)
        manifests.append(
            merge_into(table, sdf, batch_id=b, salt_partitions=4, mode=modes[b % len(modes)])
        )
    return manifests


def test_mor_matches_replay_oracle(spark, tmpdir_path):
    events = generate_feed(n_events=900, n_docs=80, seed=11, p_delete=0.15, p_lsn_tie=0.05)
    table = LakeTable.create_if_not_exists(
        spark, os.path.join(tmpdir_path, "mor"), TARGET_SCHEMA, num_buckets=8
    )
    _apply(spark, table, events, 3, modes=["mor"])
    assert table.has_deltas()
    assert _tokens_map(table.read()) == _oracle_map(events)


def test_mixed_modes_match_replay_oracle(spark, tmpdir_path):
    """cow, mor, cow over one table — the CoW merge folds live deltas of
    affected buckets through the same union+LWW aggregation."""
    events = generate_feed(n_events=900, n_docs=60, seed=12, p_delete=0.1, p_duplicate=0.1)
    table = LakeTable.create_if_not_exists(
        spark, os.path.join(tmpdir_path, "mixed"), TARGET_SCHEMA, num_buckets=8
    )
    _apply(spark, table, events, 3, modes=["cow", "mor", "cow"])
    assert _tokens_map(table.read()) == _oracle_map(events)


def test_compact_folds_deltas(spark, tmpdir_path):
    events = generate_feed(n_events=600, n_docs=50, seed=13)
    table = LakeTable.create_if_not_exists(
        spark, os.path.join(tmpdir_path, "fold"), TARGET_SCHEMA, num_buckets=4
    )
    _apply(spark, table, events, 3, modes=["mor"])
    before = _tokens_map(table.read())
    stats = compact(table, max_files_per_bucket=1)
    assert stats["compacted_buckets"] > 0
    assert not table.has_deltas()
    assert _tokens_map(table.read()) == before


def test_mor_write_volume_below_cow_on_sparse_updates(spark, tmpdir_path):
    """Seed a wide table, then apply a tiny update batch: CoW rewrites the
    touched buckets wholesale, MoR writes only ~the batch."""
    base = generate_feed(n_events=4000, n_docs=2000, seed=14, p_delete=0.0)
    update = generate_feed(n_events=40, n_docs=2000, seed=15, p_delete=0.0).copy()
    update["lsn"] = update["lsn"] + 10_000  # strictly newer

    def build(mode, name):
        t = LakeTable.create_if_not_exists(
            spark, os.path.join(tmpdir_path, name), TARGET_SCHEMA, num_buckets=8
        )
        merge_into(t, spark.createDataFrame(base, schema=CDC_SCHEMA), batch_id=0,
                   salt_partitions=4)
        m = merge_into(t, spark.createDataFrame(update, schema=CDC_SCHEMA), batch_id=1,
                       salt_partitions=4, mode=mode)
        snap = t.log.snapshot()
        written = sum(
            a["rows"] for a in t.log.read_entry(snap.version).adds
        )
        return t, m, written

    t_cow, _, cow_rows = build("cow", "cow")
    t_mor, m_mor, mor_rows = build("mor", "mor")
    assert m_mor["rows_written"] <= len(update)
    assert mor_rows * 10 < cow_rows, (mor_rows, cow_rows)
    assert _tokens_map(t_cow.read()) == _tokens_map(t_mor.read())


def test_mor_schema_evolution(spark, tmpdir_path):
    """Delta files written before and after an add-column evolution must
    read back aligned (old winners NULL-filled) and LWW-resolve across
    the schema boundary."""
    from tickers_daily_intraday_etl_spark.cdc.schemas import CDC_SCHEMA_V2

    events = generate_feed(n_events=800, n_docs=60, seed=17, evolve_at=0.5)
    table = LakeTable.create_if_not_exists(
        spark, os.path.join(tmpdir_path, "evo"), TARGET_SCHEMA, num_buckets=4
    )
    half = len(events) // 2
    pre = events.iloc[:half].drop(columns=["source_version"])
    post = events.iloc[half:]
    merge_into(table, spark.createDataFrame(pre, schema=CDC_SCHEMA), batch_id=0, mode="mor")
    merge_into(table, spark.createDataFrame(post, schema=CDC_SCHEMA_V2), batch_id=1, mode="mor")
    assert table.has_deltas()
    out = table.read()
    assert "source_version" in out.columns
    assert out.where(F.col("source_version").isNull()).count() > 0   # pre-evo winners
    assert out.where(F.col("source_version").isNotNull()).count() > 0
    assert _tokens_map(out) == _oracle_map(events)


def test_purge_does_not_resurrect_superseded_rows(spark, tmpdir_path):
    """Key k: insert (lsn 1) via MoR, delete (lsn 2) via MoR; purge with
    LWM 10 removes the tombstone — the stale lsn-1 row must NOT come back."""
    import pandas as pd

    rows = pd.DataFrame(
        {
            "op": ["I", "D"],
            "doc_id": ["k", "k"],
            "lsn": [1, 2],
            "commit_ts": [pd.Timestamp("2024-01-01"), pd.Timestamp("2024-01-02")],
            "tokens": [[1, 2, 3], None],
            "n_tok": [3, None],
            "source": ["feed_a", "feed_a"],
        }
    )
    table = LakeTable.create_if_not_exists(
        spark, os.path.join(tmpdir_path, "purge"), TARGET_SCHEMA, num_buckets=2
    )
    merge_into(table, spark.createDataFrame(rows.iloc[:1], schema=CDC_SCHEMA),
               batch_id=0, mode="mor")
    merge_into(table, spark.createDataFrame(rows.iloc[1:], schema=CDC_SCHEMA),
               batch_id=1, mode="mor")
    assert table.read().where(F.col("doc_id") == "k").count() == 0
    purge_tombstones(table, lsn_low_water_mark=10)
    assert table.read().where(F.col("doc_id") == "k").count() == 0
    # and the raw storage no longer holds ANY version of k
    assert table.read_raw().where(F.col("doc_id") == "k").count() == 0


def test_size_based_compaction_folds_hot_bucket_only(spark, tmpdir_path):
    """A skewed feed piles deltas into one hot bucket; the delta-file
    threshold must fold exactly that bucket while cold buckets keep
    their (few) delta files untouched."""
    import datetime as dt

    from pyspark.sql import Row

    table = LakeTable.create_if_not_exists(
        spark, os.path.join(tmpdir_path, "hot"), TARGET_SCHEMA, num_buckets=8
    )
    # find two keys hashing to different buckets
    probe = spark.createDataFrame([(f"k{i}",) for i in range(16)], "doc_id string")
    by_bucket = {}
    for r in probe.select("doc_id", table.bucket_expr().alias("b")).collect():
        by_bucket.setdefault(r.b, r.doc_id)
    (hot_b, hot_key), (cold_b, cold_key) = list(by_bucket.items())[:2]

    def ev(doc, lsn):
        return Row(op="U" if lsn > 1 else "I", doc_id=doc, lsn=lsn,
                   commit_ts=dt.datetime(2024, 1, 1) + dt.timedelta(seconds=lsn),
                   tokens=[lsn], n_tok=1, source="s")

    bid = 0
    for lsn in range(1, 6):  # 5 delta files into the hot bucket
        merge_into(table, spark.createDataFrame([ev(hot_key, lsn)], CDC_SCHEMA),
                   batch_id=bid, mode="mor")
        bid += 1
    merge_into(table, spark.createDataFrame([ev(cold_key, 1)], CDC_SCHEMA),
               batch_id=bid, mode="mor")

    def delta_counts():
        snap = table.log.snapshot()
        out = {}
        for a in snap.live_files.values():
            if a.get("kind") == "delta":
                out[a["bucket"]] = out.get(a["bucket"], 0) + 1
        return out

    before = delta_counts()
    assert before[hot_b] == 5 and before[cold_b] == 1
    res = compact(table, max_files_per_bucket=1)  # 5 files in the hot bucket, 1 in the cold
    assert res["compacted_buckets"] == 1
    after = delta_counts()
    assert hot_b not in after          # hot bucket folded to base
    assert after[cold_b] == 1          # cold bucket untouched
    assert _tokens_map(table.read()) == {hot_key: [5], cold_key: [1]}

    # the same fold inside a merge: a MoR batch touching only the cold
    # key rewrites the hot bucket (1 base + 2 deltas), not the cold one
    for lsn in (6, 7):
        merge_into(table, spark.createDataFrame([ev(hot_key, lsn)], CDC_SCHEMA),
                   batch_id=bid + lsn, mode="mor")
    hot_files = [a for a in table.log.snapshot().live_files.values() if a["bucket"] == hot_b]
    m = merge_into(table, spark.createDataFrame([ev(cold_key, 2)], CDC_SCHEMA),
                   batch_id="cold", mode="mor", max_delta_files_per_bucket=2)
    assert m["files_removed"] == len(hot_files) == 3
    after = delta_counts()
    assert hot_b not in after and after[cold_b] == 2
    assert _tokens_map(table.read()) == {hot_key: [7], cold_key: [2]}

    # an empty batch still commits the fold of a bucket at the threshold
    m = merge_into(table, spark.createDataFrame([], CDC_SCHEMA),
                   batch_id="empty", mode="mor", max_delta_files_per_bucket=2)
    assert m["rows_in"] == 0 and m["files_removed"] == 2
    assert delta_counts() == {}
    assert _tokens_map(table.read()) == {hot_key: [7], cold_key: [2]}


def test_pipeline_delta_threshold_triggers_compaction(spark, tmpdir_path, monkeypatch):
    """End-to-end: a MoR pipeline with compact_delta_files_threshold folds
    delta pressure inside its merges (no separate compaction job), and
    no bucket ever holds more deltas than the threshold."""
    from tickers_daily_intraday_etl_spark.cdc.feedgen import write_feed_segments
    from tickers_daily_intraday_etl_spark.lake import maintenance
    from tickers_daily_intraday_etl_spark.streaming import CdcPipeline

    def no_compact(*a, **k):
        raise AssertionError("the pipeline must fold deltas inside its merges")

    monkeypatch.setattr(maintenance, "compact", no_compact)
    events = generate_feed(n_events=600, n_docs=10, seed=3, p_delete=0.0)  # hot keys
    feed_dir = os.path.join(tmpdir_path, "feed")
    write_feed_segments(events, feed_dir, n_segments=8)
    with pytest.raises(ValueError):  # rejected at construction, not in the first batch
        CdcPipeline(spark, feed_dir, os.path.join(tmpdir_path, "t"), os.path.join(tmpdir_path, "ck"),
                    compact_delta_files_threshold=0)
    pipe = CdcPipeline(
        spark, feed_dir, os.path.join(tmpdir_path, "t"), os.path.join(tmpdir_path, "ck"),
        feed_schema=CDC_SCHEMA, num_buckets=8, max_files_per_trigger=1,
        merge_mode="mor", compact_delta_files_threshold=2,
    )
    pipe.run_available_now()
    assert any(m.get("files_removed", 0) > 0 for m in pipe.lineage)  # the fold fired
    counts = {}
    for a in pipe.table.log.snapshot().live_files.values():
        if a.get("kind") == "delta":
            counts[a["bucket"]] = counts.get(a["bucket"], 0) + 1
    assert all(v <= 2 for v in counts.values()), counts  # pressure bounded
    assert _tokens_map(pipe.table.read()) == _oracle_map(events)
