"""Per-layer metrics of a traced run, derived from its spans.

Times, sizes and per-batch figures are per call.  Call counts and
maintenance totals (buckets compacted, files deleted) are per unit op, so
that runs compare whatever number of unit ops a closed-loop run fits in
its seconds.  Table shape (``live_files``, ``lake.log.entries`` and the
like) is read at the end of the warm-up, a fixed point in the table's
life.  Layers a workload does not exercise report 0.
"""

from __future__ import annotations

import os
from collections import defaultdict
from typing import Any

from perfbench import sparkstats, tracer
from perfbench.common import median

CURATE_QUERIES = (
    "exact_dup_groups",
    "lsh_candidate_pairs",
    "dup_clusters",
    "ngram_jaccard_pairs",
    "simhash_near_pairs",
    "embedding_near_pairs",
    "ann_lsh_topk",
    "ivf_topk",
)

PER_LAYER: tuple[tuple[str, str], ...] = (
    ("session.start_s", "s"),
    ("session.warmup_s", "s"),
    ("streaming.pipeline.calls", "count"),
    ("streaming.pipeline.batches", "count"),
    ("streaming.pipeline.overhead_s", "s"),
    ("cdc.merge.calls", "count"),
    ("cdc.merge.busy_s", "s"),
    ("cdc.merge.plan_s", "s"),
    ("cdc.merge.write_s", "s"),
    ("cdc.merge.rows_in", "count"),
    ("cdc.merge.rows_written", "count"),
    ("cdc.merge.write_amp", "ratio"),
    ("cdc.merge.files_added", "count"),
    ("cdc.merge.files_removed", "count"),
    ("cdc.dedup.shuffle_write_bytes", "B"),
    ("cdc.dedup.shuffle_bytes_per_event", "B"),
    ("cdc.dedup.spill_bytes", "B"),
    ("cdc.dedup.task_skew", "ratio"),
    ("lake.table.write_s", "s"),
    ("lake.table.footer_scan_s", "s"),
    ("lake.table.footer_files", "count"),
    ("lake.table.commit_s", "s"),
    ("lake.table.lookup_files", "count"),
    ("lake.table.scan_files", "count"),
    ("lake.table.live_files", "count"),
    ("lake.table.max_delta_files_per_bucket", "count"),
    ("lake.table.stored_bytes_per_live_row", "B"),
    ("lake.log.snapshot_calls", "count"),
    ("lake.log.snapshot_s", "s"),
    ("lake.log.try_commit_s", "s"),
    ("lake.log.entries", "count"),
    ("lake.log.checkpoints", "count"),
    ("lake.log.bytes", "B"),
    ("lake.maintenance.compact_calls", "count"),
    ("lake.maintenance.compact_s", "s"),
    ("lake.maintenance.compacted_buckets", "count"),
    ("lake.maintenance.vacuum_calls", "count"),
    ("lake.maintenance.vacuum_s", "s"),
    ("lake.maintenance.vacuum_files_deleted", "count"),
    *(
        (f"functions.{q}.{m}", u)
        for q in CURATE_QUERIES
        for m, u in (
            ("wall_s", "s"),
            ("executor_cpu_s", "s"),
            ("shuffle_bytes", "B"),
            ("spill_bytes", "B"),
            ("jobs", "count"),
        )
    ),
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("host.steal_pct", "%"),
    ("host.busy_cores_before", "cores"),
    ("host.peak_rss_mb", "MB"),
    ("bench.op_wall_p50_s", "s"),
    ("bench.read_wall_p50_s", "s"),
    ("bench.read_cpu_p50_s", "s"),
    ("bench.trace_overhead_pct", "%"),
    ("bench.commit_span_coverage", "ratio"),
    ("bench.merge_span_coverage", "ratio"),
)


def install(r) -> None:
    r.tracer.stages = sparkstats.StageReader(r.spark)
    tracer.install_engine_wrappers(r.tracer)


def table_state(table) -> dict[str, float]:
    """End-of-run shape of a lake table, from its commit log and files."""
    snap = table.log.snapshot()
    deltas: dict[int, int] = defaultdict(int)
    for a in snap.live_files.values():
        if a.get("kind") == "delta":
            deltas[a["bucket"]] += 1
    log_dir = os.path.join(table.path, "_log")
    names = os.listdir(log_dir)
    return {
        "lake.table.live_files": len(snap.live_files),
        "lake.table.max_delta_files_per_bucket": max(deltas.values(), default=0),
        "lake.log.entries": sum(n.startswith("v") and n.endswith(".json") for n in names),
        "lake.log.checkpoints": sum(n.startswith("ckpt-") for n in names),
        "lake.log.bytes": sum(os.path.getsize(os.path.join(log_dir, n)) for n in names),
    }


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


class _Spans:
    def __init__(self, spans: list[dict[str, Any]]):
        self.all = spans
        self.children: dict[int, list[dict[str, Any]]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                self.children[s["parent"]].append(s)

    def timed(self, name: str) -> list[dict[str, Any]]:
        return [s for s in self.all if s["name"] == name and s["phase"] == "timed"]

    def under(self, root: dict[str, Any], name: str) -> list[dict[str, Any]]:
        """Descendants of ``root`` called ``name`` (not below a match)."""
        out, todo = [], list(self.children[root["id"]])
        while todo:
            s = todo.pop()
            if s["name"] == name:
                out.append(s)
            else:
                todo.extend(self.children[s["id"]])
        return out

    def inclusive(self, root: dict[str, Any]) -> tuple[dict[str, float], int]:
        tot, jobs = sparkstats.zero(), 0
        todo = [root]
        while todo:
            s = todo.pop()
            sparkstats.add(tot, s["stages"])
            jobs += s["jobs"]
            todo.extend(self.children[s["id"]])
        return tot, jobs


def dur(s: dict[str, Any]) -> float:
    return s["end"] - s["start"]


def per_layer(r, roles: dict[str, str], med: dict[str, float]) -> dict[str, float]:
    sp = _Spans(r.tracer.spans)
    m: dict[str, float] = {name: 0.0 for name, _ in PER_LAYER}
    units = sp.timed(f"bench.{roles['unit']}")
    n_units = max(len(units), 1)

    m["session.start_s"] = r.phases["session"]["wall_s"]
    m["session.warmup_s"] = r.phases["warmup"]["wall_s"]

    # streaming.pipeline: run_available_now minus the merges and maintenance inside it
    runs = sp.timed("streaming.pipeline.run_available_now")
    merges = sp.timed("cdc.merge.merge_into")
    m["streaming.pipeline.calls"] = len(runs) / n_units
    m["streaming.pipeline.batches"] = sum(len(sp.under(s, "cdc.merge.merge_into")) for s in runs) / n_units
    inner = sum(dur(x) for s in runs for n in ("cdc.merge.merge_into", "lake.maintenance.compact",
                                                "lake.maintenance.vacuum") for x in sp.under(s, n))
    m["streaming.pipeline.overhead_s"] = (sum(dur(s) for s in runs) - inner) / max(len(runs), 1)

    # cdc.merge: span wall plus the manifest's own phase split and counts
    manifests = [s["attrs"].get("manifest") or {} for s in merges]
    applied = [x for x in manifests if not x.get("skipped")]
    rows_in = sum(x.get("rows_in", 0) for x in applied)
    rows_written = sum(
        x.get("rows_written", sum(x.get("rows_after", {}).values())) for x in applied
    )
    m["cdc.merge.calls"] = len(merges) / n_units
    m["cdc.merge.busy_s"] = _mean([dur(s) for s in merges])
    # the manifest's "stats" phase is 0 on every MoR and dense-CoW batch
    # (fused into the write); stats_s would only move on the sparse CoW path
    for phase in ("plan", "write"):
        m[f"cdc.merge.{phase}_s"] = _mean([x.get("timings_sec", {}).get(phase, 0.0) for x in applied])
    m["cdc.merge.rows_in"] = rows_in / max(len(applied), 1)
    m["cdc.merge.rows_written"] = rows_written / max(len(applied), 1)
    m["cdc.merge.write_amp"] = rows_written / rows_in if rows_in else 0.0
    m["cdc.merge.files_added"] = _mean([x.get("files_added", 0) for x in applied])
    m["cdc.merge.files_removed"] = _mean([x.get("files_removed", 0) for x in applied])

    # cdc.dedup: the exchange inside each merge's write job
    writes_in_merge = [w for s in merges for w in sp.under(s, "lake.table._write_data")]
    shuffle = [sp.inclusive(w)[0]["shuffle_write_bytes"] for w in writes_in_merge]
    spill = [sp.inclusive(w)[0]["spill_bytes"] for w in writes_in_merge]
    m["cdc.dedup.shuffle_write_bytes"] = _mean(shuffle)
    m["cdc.dedup.shuffle_bytes_per_event"] = sum(shuffle) / rows_in if rows_in else 0.0
    m["cdc.dedup.spill_bytes"] = _mean(spill)
    if r.tracer.stages is not None:
        skews = [r.tracer.stages.task_skew(st) for w in writes_in_merge for st in w["reducers"]]
        m["cdc.dedup.task_skew"] = median(skews)

    # lake.table / lake.log
    m["lake.table.write_s"] = _mean([dur(s) for s in sp.timed("lake.table._write_data")])
    scans = sp.timed("lake.table._scan_commit_dir")
    m["lake.table.footer_scan_s"] = _mean([dur(s) for s in scans])
    m["lake.table.footer_files"] = _mean([s["attrs"]["files"] for s in scans])
    m["lake.table.commit_s"] = _mean([dur(s) for s in sp.timed("lake.table._commit")])
    m["lake.table.lookup_files"] = _mean([s["attrs"]["files"] for s in sp.timed("lake.table.lookup")])
    m["lake.table.scan_files"] = _mean([s["attrs"]["files"] for s in sp.timed("lake.table.read")])
    m["lake.table.stored_bytes_per_live_row"] = r.detail.get("stored_bytes_per_live_row", 0.0)
    m.update(r.detail.get("table_state", {}))
    snaps = sp.timed("lake.log.snapshot")
    m["lake.log.snapshot_calls"] = len(snaps) / n_units
    m["lake.log.snapshot_s"] = sum(dur(s) for s in snaps) / n_units
    m["lake.log.try_commit_s"] = _mean([dur(s) for s in sp.timed("lake.log.try_commit")])

    # lake.maintenance
    compacts, vacuums = sp.timed("lake.maintenance.compact"), sp.timed("lake.maintenance.vacuum")
    m["lake.maintenance.compact_calls"] = len(compacts) / n_units
    m["lake.maintenance.compact_s"] = _mean([dur(s) for s in compacts])
    m["lake.maintenance.compacted_buckets"] = sum(
        s["attrs"]["result"].get("compacted_buckets", 0) for s in compacts
    ) / n_units
    m["lake.maintenance.vacuum_calls"] = len(vacuums) / n_units
    m["lake.maintenance.vacuum_s"] = _mean([dur(s) for s in vacuums])
    m["lake.maintenance.vacuum_files_deleted"] = sum(
        s["attrs"]["result"].get("orphan_files", 0) for s in vacuums
    ) / n_units

    # functions: one span per curation query, medians over timed passes
    by_query: dict[str, list[dict[str, Any]]] = defaultdict(list)
    for s in sp.timed("bench.query"):
        by_query[s["attrs"]["q"]].append(s)
    for q, spans in by_query.items():
        inc = [sp.inclusive(s) for s in spans]
        m[f"functions.{q}.wall_s"] = median([dur(s) for s in spans])
        m[f"functions.{q}.executor_cpu_s"] = median([t["executor_cpu_s"] for t, _ in inc])
        m[f"functions.{q}.shuffle_bytes"] = median([t["shuffle_write_bytes"] for t, _ in inc])
        m[f"functions.{q}.spill_bytes"] = median([t["spill_bytes"] for t, _ in inc])
        m[f"functions.{q}.jobs"] = median([j for _, j in inc])

    # Spark runtime: everything charged to spans of the timed phase, per unit op
    tot, jobs = sparkstats.zero(), 0
    for s in sp.all:
        if s["phase"] == "timed":
            sparkstats.add(tot, s["stages"])
            jobs += s["jobs"]
    m["spark.jobs"] = jobs / n_units
    m["spark.tasks"] = tot["tasks"] / n_units
    m["spark.executor_run_s"] = tot["executor_run_s"] / n_units
    m["spark.executor_cpu_s"] = tot["executor_cpu_s"] / n_units
    m["spark.gc_s"] = tot["gc_s"] / n_units

    m["host.steal_pct"] = r.phases["timed"]["steal_pct"]
    m["host.busy_cores_before"] = r.detail["host_busy_cores_before"]
    m["host.peak_rss_mb"] = r.detail["peak_rss_mb"]

    m["bench.op_wall_p50_s"] = med["op_wall_p50_s"]
    m["bench.read_wall_p50_s"] = med["read_wall_p50_s"]
    m["bench.read_cpu_p50_s"] = med["read_cpu_p50_s"]
    m["bench.trace_overhead_pct"] = 100.0 * r.phases["timed"]["trace_overhead_s"] / r.phases["timed"]["wall_s"]
    commits = sp.timed("bench.commit")
    commit_wall = sum(dur(s) for s in commits)
    m["bench.commit_span_coverage"] = (
        sum(dur(x) for s in commits for x in sp.under(s, "streaming.pipeline.run_available_now"))
        / commit_wall
        if commit_wall
        else 0.0
    )
    covered = 0.0
    for s, x in zip(merges, manifests):
        covered += sum(dur(c) for c in sp.children[s["id"]] if c["name"] in ("lake.table._write_data", "lake.table._commit"))
        covered += x.get("timings_sec", {}).get("stats", 0.0) + x.get("timings_sec", {}).get("plan", 0.0)
    busy = sum(dur(s) for s in merges)
    m["bench.merge_span_coverage"] = covered / busy if busy else 0.0
    return m
