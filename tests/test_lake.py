"""LakeTable format: create, append, snapshot isolation, schema evolution,
time travel, bucket pruning."""

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tickers_daily_intraday_etl_spark.lake import LakeTable
from tickers_daily_intraday_etl_spark.lake.table import merge_schemas

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)


def _mk(spark, path, **kw):
    return LakeTable.create_if_not_exists(spark, path, SCHEMA, **kw)


def test_create_is_idempotent(spark, tmpdir_path):
    p = os.path.join(tmpdir_path, "t")
    t1 = _mk(spark, p, num_buckets=4)
    t2 = _mk(spark, p, num_buckets=8)  # second create must not reset props
    assert t1.log.latest_version() == 0
    assert t2.num_buckets == 4
    assert [f.name for f in t2.user_schema().fields] == ["doc_id", "tokens", "n_tok", "source"]


def test_append_and_read(spark, tmpdir_path):
    t = _mk(spark, os.path.join(tmpdir_path, "t"), num_buckets=4)
    df = spark.createDataFrame(
        [Row(doc_id="a", tokens=[1, 2], n_tok=2, source="s1"),
         Row(doc_id="b", tokens=[3], n_tok=1, source="s1")],
        SCHEMA,
    )
    v = t.append(df)
    assert v == 1
    out = {r.doc_id: r for r in t.read().collect()}
    assert out["a"].tokens == [1, 2]
    assert out["b"].n_tok == 1


def test_time_travel(spark, tmpdir_path):
    t = _mk(spark, os.path.join(tmpdir_path, "t"), num_buckets=2)
    t.append(spark.createDataFrame([Row(doc_id="a", tokens=[1], n_tok=1, source="s")], SCHEMA))
    t.append(spark.createDataFrame([Row(doc_id="b", tokens=[2], n_tok=1, source="s")], SCHEMA))
    assert t.read(version=1).count() == 1
    assert t.read(version=2).count() == 2
    assert t.read().count() == 2


def test_schema_evolution_add_column(spark, tmpdir_path):
    t = _mk(spark, os.path.join(tmpdir_path, "t"), num_buckets=2)
    t.append(spark.createDataFrame([Row(doc_id="a", tokens=[1], n_tok=1, source="s")], SCHEMA))
    v2 = T.StructType(SCHEMA.fields + [T.StructField("source_version", T.IntegerType(), True)])
    t.append(
        spark.createDataFrame([Row(doc_id="b", tokens=[2], n_tok=1, source="s", source_version=3)], v2)
    )
    out = {r.doc_id: r for r in t.read().collect()}
    # pre-evolution rows read back with NULL-filled new column, no rewrite
    assert out["a"].source_version is None
    assert out["b"].source_version == 3


def test_schema_evolution_widen(spark, tmpdir_path):
    a = T.StructType([T.StructField("x", T.IntegerType())])
    b = T.StructType([T.StructField("x", T.LongType())])
    assert merge_schemas(a, b)["x"].dataType == T.LongType()
    assert merge_schemas(b, a)["x"].dataType == T.LongType()
    arr_a = T.StructType([T.StructField("x", T.ArrayType(T.IntegerType()))])
    arr_b = T.StructType([T.StructField("x", T.ArrayType(T.LongType()))])
    assert merge_schemas(arr_a, arr_b)["x"].dataType == T.ArrayType(T.LongType(), True)
    bad = T.StructType([T.StructField("x", T.StringType())])
    with pytest.raises(ValueError):
        merge_schemas(a, bad)


def test_bucket_pruned_read(spark, tmpdir_path):
    t = _mk(spark, os.path.join(tmpdir_path, "t"), num_buckets=4)
    rows = [Row(doc_id=f"d{i}", tokens=[i], n_tok=1, source="s") for i in range(20)]
    t.append(spark.createDataFrame(rows, SCHEMA))
    # per-bucket reads partition the table exactly
    total = 0
    for b in range(4):
        part = t.read_raw(buckets=[b])
        got = part.select(t.bucket_expr().alias("b")).distinct().collect()
        assert all(r.b == b for r in got)
        total += part.count()
    assert total == 20


def test_empty_table_read(spark, tmpdir_path):
    t = _mk(spark, os.path.join(tmpdir_path, "t"))
    assert t.read().count() == 0
    assert t.read().columns == ["doc_id", "tokens", "n_tok", "source"]


def test_concurrent_commit_disjoint_buckets_retries(spark, tmpdir_path):
    """Two writers on different buckets: the loser's retry succeeds."""
    from tickers_daily_intraday_etl_spark.lake.log import LogEntry

    t = _mk(spark, os.path.join(tmpdir_path, "t"), num_buckets=4)
    t.append(spark.createDataFrame([Row(doc_id="a", tokens=[1], n_tok=1, source="s")], SCHEMA))
    # interleave a disjoint commit between snapshot read and our commit
    v = t.log.latest_version()
    t.log.try_commit(LogEntry(version=v + 1, schema_json=t.stored_schema().json(), adds=[], removes=[]))
    # our append still lands (no overlap with the interleaved commit)
    v2 = t.append(spark.createDataFrame([Row(doc_id="b", tokens=[2], n_tok=1, source="s")], SCHEMA))
    assert v2 == v + 2
    assert t.read().count() == 2


def test_concurrent_commit_overlapping_files_raises(spark, tmpdir_path):
    """A concurrent rewrite of the same files aborts the stale commit."""
    import pytest as _pytest

    from tickers_daily_intraday_etl_spark.lake.log import LogEntry
    from tickers_daily_intraday_etl_spark.lake.table import ConcurrentModificationError

    t = _mk(spark, os.path.join(tmpdir_path, "t"), num_buckets=2)
    t.append(spark.createDataFrame([Row(doc_id="a", tokens=[1], n_tok=1, source="s")], SCHEMA))
    snap = t.log.snapshot()
    victim = list(snap.live_files)[0]
    # concurrent writer removes the file we also want to replace
    t.log.try_commit(
        LogEntry(version=snap.version + 1, schema_json=snap.schema_json, adds=[], removes=[victim])
    )
    with _pytest.raises(ConcurrentModificationError):
        t._commit([], [victim], t.stored_schema(), None)


# ----------------------------------------------------------------- zone maps
def _append_range(spark, t, lo, hi, prefix):
    rows = [Row(doc_id=f"{prefix}{i}", tokens=[i], n_tok=i, source="s")
            for i in range(lo, hi + 1)]
    t.append(spark.createDataFrame(rows, SCHEMA))


def test_zone_map_stats_recorded(spark, tmpdir_path):
    t = _mk(spark, os.path.join(tmpdir_path, "t"), num_buckets=2)
    _append_range(spark, t, 1, 10, "a")
    snap = t.log.snapshot()
    for a in snap.live_files.values():
        st = a.get("stats") or {}
        assert "n_tok" in st and 1 <= st["n_tok"][0] <= st["n_tok"][1] <= 10
        # round 4: string columns carry truncated-safe bounds so key
        # point-lookups can file-skip; nested array paths stay out
        assert "doc_id" in st
        assert not any("." in k for k in st)


def test_zone_map_file_skipping(spark, tmpdir_path):
    """Three commits with disjoint n_tok ranges: a bounded read must open
    only the overlapping commit's files and still return exact rows."""
    t = _mk(spark, os.path.join(tmpdir_path, "t"), num_buckets=2)
    _append_range(spark, t, 1, 10, "a")
    _append_range(spark, t, 11, 20, "b")
    _append_range(spark, t, 21, 30, "c")
    snap = t.log.snapshot()
    adds = list(snap.live_files.values())
    pruned = t._prune_adds_by_bounds(adds, {"n_tok": (21, None)})
    assert len(pruned) < len(adds)          # files skipped
    assert sum(a["rows"] for a in pruned) == 10  # only the last commit
    out = t.read_incremental("n_tok", lo=21)
    assert sorted(r.n_tok for r in out.collect()) == list(range(21, 31))
    # half-open window crossing a commit boundary
    out2 = t.read_incremental("n_tok", lo=8, hi=13)
    assert sorted(r.n_tok for r in out2.collect()) == list(range(8, 14))


def test_zone_map_merge_records_lsn_and_ts(spark, tmpdir_path):
    import datetime as dt

    from tickers_daily_intraday_etl_spark.cdc.merge import merge_into
    from tickers_daily_intraday_etl_spark.cdc.schemas import CDC_SCHEMA, TARGET_SCHEMA

    t = LakeTable.create_if_not_exists(
        spark, os.path.join(tmpdir_path, "m"), TARGET_SCHEMA, num_buckets=2
    )
    batch = spark.createDataFrame(
        [Row(op="I", doc_id="a", lsn=7, commit_ts=dt.datetime(2024, 1, 2, 3, 4, 5),
             tokens=[1], n_tok=1, source="s")],
        CDC_SCHEMA,
    )
    merge_into(t, batch, batch_id=0)
    snap = t.log.snapshot()
    st = next(iter(snap.live_files.values()))["stats"]
    assert st["_lsn"] == [7, 7]
    from tickers_daily_intraday_etl_spark.lake.table import ts_micros

    assert st["_commit_ts"] == [ts_micros("2024-01-02T03:04:05")] * 2


def test_zone_map_mor_guarded(spark, tmpdir_path):
    """With live MoR deltas, bounded reads must resolve the delta-bearing
    buckets first (their files read in full) so a superseding
    out-of-window version still wins — while CLEAN buckets keep the
    zone-map file skip."""
    import datetime as dt

    from tickers_daily_intraday_etl_spark.cdc.merge import merge_into
    from tickers_daily_intraday_etl_spark.cdc.schemas import CDC_SCHEMA, TARGET_SCHEMA

    t = LakeTable.create_if_not_exists(
        spark, os.path.join(tmpdir_path, "mor"), TARGET_SCHEMA, num_buckets=2
    )
    # two keys in different buckets: "hot" gets a MoR delta, "cold" stays CoW
    probe = spark.createDataFrame([(f"k{i}",) for i in range(8)], "doc_id string")
    by_b = {}
    for r in probe.select("doc_id", t.bucket_expr().alias("b")).collect():
        by_b.setdefault(r.b, r.doc_id)
    assert len(by_b) == 2
    (hot_b, hot), (cold_b, cold) = list(by_b.items())

    def ev(doc, op, lsn, n):
        return Row(op=op, doc_id=doc, lsn=lsn,
                   commit_ts=dt.datetime(2024, 1, 1) + dt.timedelta(seconds=lsn),
                   tokens=list(range(n)), n_tok=n, source="s")

    merge_into(t, spark.createDataFrame([ev(hot, "I", 1, 5), ev(cold, "I", 2, 7)], CDC_SCHEMA), batch_id=0)
    merge_into(t, spark.createDataFrame([ev(cold, "U", 3, 200)], CDC_SCHEMA), batch_id=1)
    # delta supersedes hot with n_tok OUTSIDE the queried window
    merge_into(t, spark.createDataFrame([ev(hot, "U", 4, 50)], CDC_SCHEMA), batch_id=2, mode="mor")
    assert t.has_deltas()
    # window covers hot's OLD version only: resolution must hide it (its
    # current version has n_tok=50, outside the window) -> empty result
    assert t.read_incremental("n_tok", lo=1, hi=10).count() == 0
    assert {r.doc_id for r in t.read_incremental("n_tok", lo=40).collect()} == {hot, cold}
    # the cold bucket's out-of-window file (n_tok=200 only) is zone-map
    # skipped: a window over hot's range opens no cold-bucket files beyond
    # the overlapping ones
    out = t.read_incremental("n_tok", lo=45, hi=60)
    snap = t.log.snapshot()
    cold_files = {a["path"] for a in snap.live_files.values() if a["bucket"] == cold_b}
    opened = {os.path.relpath(f.replace("file:", ""), t.path) for f in out.inputFiles()}
    assert not (opened & cold_files)  # every cold file skipped
    assert [r.doc_id for r in out.collect()] == [hot]


def test_zone_map_stats_survive_checkpoint_fold(spark, tmpdir_path, monkeypatch):
    """Snapshot checkpoints serialize live_files (incl. zone-map stats)
    through JSON; a fold that starts from a checkpoint must still prune
    files by bounds."""
    from tickers_daily_intraday_etl_spark.lake import log as log_mod

    monkeypatch.setattr(log_mod, "CHECKPOINT_INTERVAL", 2)
    t = _mk(spark, os.path.join(tmpdir_path, "t"), num_buckets=2)
    _append_range(spark, t, 1, 5, "a")    # v1
    _append_range(spark, t, 11, 15, "b")  # v2 -> checkpoint written
    _append_range(spark, t, 21, 25, "c")  # v3 folds FROM the checkpoint
    # fresh CommitLog instance: no memoized folds, must go through ckpt
    t2 = LakeTable.load(spark, t.path)
    assert any(
        name.startswith("ckpt-") for name in os.listdir(t2.log.log_dir)
    )
    snap = t2.log.snapshot()
    adds = list(snap.live_files.values())
    assert all("stats" in a for a in adds)
    pruned = t2._prune_adds_by_bounds(adds, {"n_tok": (21, None)})
    assert sum(a["rows"] for a in pruned) == 5
    out = t2.read_incremental("n_tok", lo=21)
    assert sorted(r.n_tok for r in out.collect()) == list(range(21, 26))


def _lake_ev(i, op, lsn):
    import datetime as dt

    return Row(op=op, doc_id=f"k{i:02d}", lsn=lsn,
               commit_ts=dt.datetime(2024, 1, 1) + dt.timedelta(seconds=lsn),
               tokens=[i, lsn], n_tok=2, source="s")


def _cow_mor_batches():
    cow = [_lake_ev(i, "I", 1 + i) for i in range(40)]
    mor = [_lake_ev(i, "D" if i % 10 == 0 else "U", 100 + i) for i in range(0, 40, 2)]
    return cow, mor


def _cow_then_mor_with_deletes(spark, path):
    """4-bucket table: one CoW batch inserting k00..k39, then one MoR
    batch over every other key, a fifth of it deletes (k00, k10, k20,
    k30).  Every bucket ends up holding a base file and a delta file."""
    from tickers_daily_intraday_etl_spark.cdc.merge import merge_into
    from tickers_daily_intraday_etl_spark.cdc.schemas import CDC_SCHEMA, TARGET_SCHEMA

    t = LakeTable.create_if_not_exists(spark, path, TARGET_SCHEMA, num_buckets=4)
    cow, mor = _cow_mor_batches()
    merge_into(t, spark.createDataFrame(cow, CDC_SCHEMA), batch_id=0)
    merge_into(t, spark.createDataFrame(mor, CDC_SCHEMA), batch_id=1, mode="mor")
    assert t.has_deltas()
    return t


def _compact_after_first_snapshot(spark, t):
    """Hook ``t.log.snapshot`` so that, right after its first call
    returns, a second handle on the same table compacts it — a commit
    landing in the middle of whatever read ``t`` is running."""
    from tickers_daily_intraday_etl_spark.lake.maintenance import compact

    orig = t.log.snapshot
    fired = []

    def hooked(version=None):
        snap = orig(version)
        if not fired:
            fired.append(compact(LakeTable.load(spark, t.path)))
        return snap

    t.log.snapshot = hooked
    return fired


def test_reads_see_one_version_under_concurrent_compaction(spark, tmpdir_path):
    """One read sees one committed version: a compaction committing after
    the read resolved its snapshot must not leak in.  Mixing the two
    versions (the old files with the new version's "no deltas left")
    returns base and delta rows unresolved — duplicate keys and deleted
    keys coming back."""
    deleted = {"k00", "k10", "k20", "k30"}

    def rows(df):
        return sorted((r.doc_id, list(r.tokens)) for r in df.collect())

    t = _cow_then_mor_with_deletes(spark, os.path.join(tmpdir_path, "read"))
    expected = rows(t.read())
    assert len(expected) == 36 and not deleted & {k for k, _ in expected}

    fired = _compact_after_first_snapshot(spark, t)
    got = rows(t.read())
    assert fired and fired[0]["compacted_buckets"] == 4
    assert len({k for k, _ in got}) == len(got)  # one row per key
    assert not deleted & {k for k, _ in got}
    assert got == expected

    t = _cow_then_mor_with_deletes(spark, os.path.join(tmpdir_path, "incremental"))
    fired = _compact_after_first_snapshot(spark, t)
    assert rows(t.read_incremental("n_tok")) == expected
    assert fired and fired[0]["compacted_buckets"] == 4

    t = _cow_then_mor_with_deletes(spark, os.path.join(tmpdir_path, "lookup"))
    fired = _compact_after_first_snapshot(spark, t)
    assert t.lookup("k10").collect() == []
    assert fired and fired[0]["compacted_buckets"] == 4


def test_compact_keeps_a_delta_committed_while_it_runs(spark, tmpdir_path):
    """Out-of-band compaction only checks that the files it replaces are
    still live.  A MoR batch another writer commits into a bucket being
    compacted, after compact resolved its snapshot, neither aborts the
    compaction nor gets lost: its delta stays live and resolves against
    the new base file."""
    import pandas as pd

    from tickers_daily_intraday_etl_spark.cdc.merge import merge_into
    from tickers_daily_intraday_etl_spark.cdc.oracle import replay
    from tickers_daily_intraday_etl_spark.cdc.schemas import CDC_SCHEMA
    from tickers_daily_intraday_etl_spark.lake.maintenance import compact

    t = _cow_then_mor_with_deletes(spark, os.path.join(tmpdir_path, "late"))
    late = [_lake_ev(1, "U", 500), _lake_ev(10, "I", 501)]  # k10 was deleted
    orig, landed = t.log.snapshot, []

    def hooked(version=None):
        snap = orig(version)
        t.log.snapshot = orig
        other = LakeTable.load(spark, t.path)
        landed.append(merge_into(other, spark.createDataFrame(late, CDC_SCHEMA), batch_id=2, mode="mor"))
        return snap

    t.log.snapshot = hooked
    res = compact(t)
    assert res["compacted_buckets"] == 4 and res["version"] == landed[0]["version"] + 1
    live = t.log.snapshot().live_files
    late_paths = [a["path"] for a in t.log.read_entry(landed[0]["version"]).adds]
    assert late_paths and all(live[p]["kind"] == "delta" for p in late_paths)
    cow, mor = _cow_mor_batches()
    want = replay(pd.DataFrame([r.asDict() for r in cow + mor + late]))
    got = {r.doc_id: list(r.tokens) for r in t.read().collect()}
    assert got == {k: list(v["tokens"]) for k, v in want.items()}
