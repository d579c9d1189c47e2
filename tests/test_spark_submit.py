"""The deploy story: the job runs via spark-submit --py-files (north
rule), resumes from its checkpoint on resubmit, and the written table
matches the replay oracle."""

import json
import os
import subprocess
import sys

import pyspark

from tickers_daily_intraday_etl_spark.cdc.feedgen import generate_feed, write_feed_segments
from tickers_daily_intraday_etl_spark.cdc.oracle import final_state_frame
from tickers_daily_intraday_etl_spark.session import build_pyfiles_zip

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


def _submit(feed, table, ckpt, *extra):
    cmd = [
        SPARK_SUBMIT, "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=4",
        "--py-files", build_pyfiles_zip(),
        os.path.join(REPO, "run_pipeline.py"),
        "--feed", feed, "--table", table, "--checkpoint", ckpt,
        "--num-buckets", "8", "--salt", "4", "--max-files-per-trigger", "2",
        *extra,
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, check=True, timeout=300)
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_spark_submit_pyfiles_end_to_end(spark, tmpdir_path):
    feed = os.path.join(tmpdir_path, "feed")
    table = os.path.join(tmpdir_path, "table")
    ckpt = os.path.join(tmpdir_path, "ckpt")
    events = generate_feed(n_events=800, n_docs=60, seed=5)
    write_feed_segments(events, feed, n_segments=3)

    rec = _submit(feed, table, ckpt)
    assert rec["rows_in"] == len(events)
    assert rec["batches"] >= 2

    # the submitted job's table matches the replay oracle
    from tickers_daily_intraday_etl_spark.lake import LakeTable

    t = LakeTable.load(spark, table)
    got = {
        r["doc_id"]: (None if r["tokens"] is None else list(r["tokens"]))
        for r in t.read().collect()
    }
    oracle = final_state_frame(events)
    exp = {
        r["doc_id"]: (None if r["tokens"] is None else list(r["tokens"]))
        for _, r in oracle.iterrows()
    }
    assert got == exp

    # resubmit on the same checkpoint: resume, nothing reapplied
    rec2 = _submit(feed, table, ckpt)
    assert rec2["rows_in"] == 0
    assert rec2["table_version"] == rec["table_version"]


def test_spark_submit_maintain_every(spark, tmpdir_path):
    """--maintain-every through the deploy path: in-stream vacuum + log
    expiry run on cadence and the state still matches the oracle."""
    feed = os.path.join(tmpdir_path, "feed")
    table = os.path.join(tmpdir_path, "table")
    ckpt = os.path.join(tmpdir_path, "ckpt")
    events = generate_feed(n_events=900, n_docs=50, seed=9)
    write_feed_segments(events, feed, n_segments=12)

    rec = _submit(feed, table, ckpt, "--max-files-per-trigger", "1",
                  "--maintain-every", "5", "--vacuum-retain-versions", "3",
                  "--expire-log-checkpoints", "1")
    assert rec["rows_in"] == len(events)
    assert rec["batches"] == 12  # 12 segments at one file per trigger; maintenance not counted

    from tickers_daily_intraday_etl_spark.lake import LakeTable

    t = LakeTable.load(spark, table)
    got = {
        r["doc_id"]: (None if r["tokens"] is None else list(r["tokens"]))
        for r in t.read().collect()
    }
    oracle = final_state_frame(events)
    exp = {
        r["doc_id"]: (None if r["tokens"] is None else list(r["tokens"]))
        for _, r in oracle.iterrows()
    }
    assert got == exp


def test_spark_submit_merge_mode_mor(spark, tmpdir_path):
    """The --merge-mode mor deploy path: delta-file merges through
    spark-submit, hot buckets folded by --compact-delta-threshold,
    oracle-identical state."""
    feed = os.path.join(tmpdir_path, "feed")
    table = os.path.join(tmpdir_path, "table")
    ckpt = os.path.join(tmpdir_path, "ckpt")
    events = generate_feed(n_events=800, n_docs=60, seed=6)
    write_feed_segments(events, feed, n_segments=6)

    rec = _submit(feed, table, ckpt, "--merge-mode", "mor",
                  "--compact-delta-threshold", "2")
    assert rec["rows_in"] == len(events)

    from tickers_daily_intraday_etl_spark.lake import LakeTable

    t = LakeTable.load(spark, table)
    got = {
        r["doc_id"]: (None if r["tokens"] is None else list(r["tokens"]))
        for r in t.read().collect()
    }
    oracle = final_state_frame(events)
    exp = {
        r["doc_id"]: (None if r["tokens"] is None else list(r["tokens"]))
        for _, r in oracle.iterrows()
    }
    assert got == exp
    # the size-based trigger kept per-bucket delta pressure bounded
    snap = t.log.snapshot()
    counts: dict = {}
    for a in snap.live_files.values():
        if a.get("kind") == "delta":
            counts[a["bucket"]] = counts.get(a["bucket"], 0) + 1
    assert all(v <= 2 for v in counts.values()), counts
