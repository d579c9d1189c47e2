"""trickle_mor: steady-state freshness on a merge-on-read table, reads beside writes.

The table is seeded (untimed) from a Spark-generated feed.  Then one
closed-loop client repeats steps: land one ``generate_feed`` segment by
atomic rename, drain it with ``run_available_now()`` (MoR merge,
size-based compaction, vacuum), then point-look-up one key, alternately
one the segment just wrote and a cold one.

Every segment touches every bucket, so each commit adds one delta file
per bucket and the ``compact_delta_files + 1``-th commit compacts them
all.  Steps therefore run in whole cycles of that length, with vacuum on
the compacting commit and a full ``table.read()`` aggregate on the step
before it (most deltas live).

Unit op: one whole cycle, meaning its commits, lookups and scan.  So
compaction, vacuum and merge-on-read resolution all count in the gated
figure, and work moved from the merge into compaction or reads cannot
show as a gain.  A cycle's segments are generated and staged before it
starts.  Inside it, each commit (from the rename to the return of
``run_available_now()``) and each lookup is an op of its own.  Read op:
one lookup.  Per-cycle cost still falls over the first cycles as the JVM
compiles the per-batch code, so the warm-up is two cycles.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

from perfbench import checks, feeds, layers
from perfbench.common import Run, du_bytes, median


@dataclass(frozen=True)
class Sizes:
    seed_docs: int = 25_000
    seed_events: int = 27_500
    segment_events: int = 2_000
    buckets: int = 16
    compact_delta_files: int = 3
    warmup_cycles: int = 2


def _replay_oracle(events: pd.DataFrame) -> dict:
    from tickers_daily_intraday_etl_spark.cdc.oracle import replay

    return {k: checks.payload_of(v) for k, v in replay(events).items()}


def run(r: Run, sizes: Sizes = Sizes()) -> dict:
    from pyspark.sql import functions as F

    from tickers_daily_intraday_etl_spark.cdc.feedgen import write_feed_segments
    from tickers_daily_intraday_etl_spark.cdc.merge import merge_into
    from tickers_daily_intraday_etl_spark.streaming import CdcPipeline

    spark = r.spark
    cycle = sizes.compact_delta_files + 1
    seed_dir, feed_dir, staging = (str(r.work / d) for d in ("seedfeed", "feed", "staging"))
    os.makedirs(feed_dir)
    with r.phase("load"):
        feeds.spark_feed(spark, seed_dir, r.seed, sizes.seed_events, sizes.seed_docs, r.cpus)
        seed_feed = spark.read.parquet(seed_dir)
        base_rows, _, base_tokens = checks.state_fingerprint(checks.closed_form(seed_feed))
        pipe = CdcPipeline(
            spark, feed_dir, str(r.work / "table"), str(r.work / "ckpt"),
            num_buckets=sizes.buckets, merge_mode="mor",
            compact_delta_files_threshold=sizes.compact_delta_files,
            maintain_every=cycle,
        )
        merge_into(pipe.table, seed_feed, batch_id="seed")
    rng = np.random.default_rng(r.seed)
    segments: list[pd.DataFrame] = []
    lookups: list[tuple[int, str, list]] = []  # (step, key, rows)
    scans: list[tuple[int, int, int]] = []

    def run_cycle(c: int) -> None:
        staged = []
        for s in range(c * cycle, (c + 1) * cycle):
            seg = feeds.trickle_segment(
                r.seed, s, sizes.segment_events, sizes.seed_docs,
                lsn_base=sizes.seed_events + s * sizes.segment_events,
            )
            segments.append(seg)
            (tmp,) = write_feed_segments(seg, os.path.join(staging, str(s)), n_segments=1)
            if s % 2 == 0:
                k = str(rng.choice(seg["doc_id"].unique()))
            else:
                k = f"doc-{rng.integers(0, sizes.seed_docs)}"
            staged.append((s, tmp, k))
        with r.op("cycle", c):
            for s, tmp, k in staged:
                with r.op("commit", s):
                    os.rename(tmp, os.path.join(feed_dir, f"seg-{s:06d}.parquet"))
                    pipe.run_available_now()
                with r.op("lookup", s, key=k):
                    lookups.append((s, k, pipe.table.lookup(k).collect()))
                if s % cycle == cycle - 2:
                    with r.op("scan", s):
                        n, toks = pipe.table.read().agg(
                            F.count(F.lit(1)), F.sum(F.coalesce(F.size("tokens"), F.lit(0)))
                        ).first()
                    scans.append((s, int(n), int(toks or 0)))

    with r.phase("warmup"):
        for c in range(sizes.warmup_cycles):
            run_cycle(c)
        if r.trace:
            r.detail["table_state"] = layers.table_state(pipe.table)
    with r.phase("timed"):
        for c in r.units(sizes.warmup_cycles):
            run_cycle(c)

    with r.phase("check"):
        if r.before_check is not None:
            r.before_check(pipe.table)
        live_rows = _check(r, pipe.table, seed_feed, segments, lookups, scans, base_rows, base_tokens)

    commits = r.timed("commit")
    r.detail.update(
        {
            "commit_latency_p50_s": median([o["wall_s"] for o in commits]),
            "commit_cpu_p50_s": median([o["cpu_s"] for o in commits]),
            "lookup_p50_s": median([o["wall_s"] for o in r.timed("lookup")]),
            "scan_s": median([o["wall_s"] for o in r.timed("scan")]),
            "scan_cpu_s": median([o["cpu_s"] for o in r.timed("scan")]),
            "ingest_cpu_ms_per_kevent": 1e3 * median([o["cpu_s"] for o in commits]) / (sizes.segment_events / 1e3),
            "stored_bytes_per_live_row": du_bytes(pipe.table.path) / max(live_rows, 1),
        }
    )
    return {"unit": "cycle", "read": "lookup"}


def _check(r, table, seed_feed, segments, lookups, scans, base_rows, base_tokens) -> int:
    """Every lookup, scan and the final state against ``cdc.oracle.replay``
    of the seed events of the touched keys plus the segments; returns the
    final number of visible rows."""
    from pyspark.sql import functions as F

    cols = list(segments[0].columns)
    touched = sorted(set().union(*(set(seg["doc_id"]) for seg in segments)) | {k for _, k, _ in lookups})
    keys_df = r.spark.createDataFrame([(k,) for k in touched], "doc_id string")
    seed_ev = seed_feed.join(F.broadcast(keys_df), "doc_id").select(*cols).toPandas()
    seed_state = _replay_oracle(seed_ev)
    by_key = {k: g for k, g in seed_ev.groupby("doc_id")}

    for s, k, rows in lookups:
        got = [checks.payload_of(x) for x in rows]
        ev = pd.concat([by_key.get(k, seed_ev.iloc[:0])] + [seg[seg["doc_id"] == k] for seg in segments[: s + 1]])
        want = _replay_oracle(ev).get(k)
        r.check(got == ([] if want is None else [want]), f"lookup {k} at step {s}")

    for s, n, toks in scans:
        hit = set().union(*(set(seg["doc_id"]) for seg in segments[: s + 1]))
        state = _replay_oracle(pd.concat([seed_ev[seed_ev["doc_id"].isin(hit)]] + segments[: s + 1]))
        gone = [v for k, v in seed_state.items() if k in hit]
        want_n = base_rows - len(gone) + len(state)
        want_t = base_tokens - sum(len(v[0] or []) for v in gone) + sum(len(v[0] or []) for v in state.values())
        r.check((n, toks) == (want_n, want_t), f"scan at step {s}: {(n, toks)} vs {(want_n, want_t)}")

    final = _replay_oracle(pd.concat([seed_ev] + segments))
    visible = table.read()
    got = {
        row["doc_id"]: checks.payload_of(row)
        for row in visible.join(F.broadcast(keys_df), "doc_id").collect()
    }
    bad = [k for k in set(got) | set(final) if got.get(k) != final.get(k)]
    r.check(not bad, f"final state of touched keys: {len(bad)} differ, e.g. {bad[:3]}")
    n, _, toks = checks.state_fingerprint(visible)
    want_n = base_rows - len(seed_state) + len(final)
    want_t = base_tokens - sum(len(v[0] or []) for v in seed_state.values()) + sum(
        len(v[0] or []) for v in final.values()
    )
    r.check((n, toks) == (want_n, want_t), f"final totals {(n, toks)} vs {(want_n, want_t)}")
    return n
