"""Multi-format change-feed sources (parquet/json/csv) through the full
streaming pipeline, plus the file count of a copy-on-write stream."""

import datetime as dt
import os

import pytest
from pyspark.sql import Row

from tickers_daily_intraday_etl_spark.cdc.schemas import CDC_SCHEMA
from tickers_daily_intraday_etl_spark.sources.changefeed import read_feed, write_feed
from tickers_daily_intraday_etl_spark.streaming import CdcPipeline


def _events(spark, n=20):
    rows = [
        Row(
            op="I" if i < 10 else "U",
            doc_id=f"d{i % 10}",
            lsn=i + 1,
            commit_ts=dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i),
            tokens=[i, i + 1],
            n_tok=2,
            source="s",
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, CDC_SCHEMA)


@pytest.mark.parametrize("fmt", ["parquet", "json", "csv"])
def test_feed_roundtrip_through_pipeline(spark, tmpdir_path, fmt):
    feed_dir = os.path.join(tmpdir_path, "feed")
    df = _events(spark)
    if fmt == "csv":
        # csv cannot carry arrays; the envelope without tokens still flows
        df = df.drop("tokens")
        from pyspark.sql import types as T

        schema = T.StructType([f for f in CDC_SCHEMA.fields if f.name != "tokens"])
    else:
        schema = CDC_SCHEMA
    write_feed(df, feed_dir, fmt=fmt)

    back = read_feed(spark, feed_dir, fmt=fmt, schema=schema)
    assert back.count() == 20
    assert dict(back.dtypes)["lsn"] == "bigint"

    pipe = CdcPipeline(
        spark, feed_dir, os.path.join(tmpdir_path, f"t_{fmt}"),
        os.path.join(tmpdir_path, f"c_{fmt}"),
        feed_schema=schema, num_buckets=4, feed_format=fmt,
    )
    pipe.run_available_now()
    state = {r.doc_id for r in pipe.table.read().collect()}
    assert state == {f"d{i}" for i in range(10)}


def test_pipeline_auto_compaction(spark, tmpdir_path):
    """A copy-on-write stream needs no compaction option: every merge
    rewrites its touched buckets into one file each, so after four
    one-segment batches each bucket still holds exactly one live file."""
    feed_dir = os.path.join(tmpdir_path, "feed")
    for seg in range(4):
        write_feed(_events(spark).coalesce(1), feed_dir, fmt="parquet")
    pipe = CdcPipeline(
        spark, feed_dir, os.path.join(tmpdir_path, "t"), os.path.join(tmpdir_path, "c"),
        num_buckets=4, max_files_per_trigger=1,
    )
    lineage = pipe.run_available_now()
    assert not [m for m in lineage if "maintenance" in m]
    assert pipe.table.read().count() == 10
    per_bucket: dict[int, int] = {}
    for a in pipe.table.log.snapshot().live_files.values():
        per_bucket[a["bucket"]] = per_bucket.get(a["bucket"], 0) + 1
    assert all(n == 1 for n in per_bucket.values())
