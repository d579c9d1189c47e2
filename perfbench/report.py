"""Drive one workload and turn its ops and spans into the reported metrics."""

from __future__ import annotations

import importlib
import json
from collections import Counter
from pathlib import Path

from perfbench import hostmon, layers
from perfbench.common import Run, median

# (name, unit) of every end-to-end metric, in BENCHMARK.json order.  Both
# are CPU-seconds of the process tree: set-up (session start plus warm-up)
# and the whole unit op (a trickle_mor cycle, a curate pass).  On a shared
# 4-vCPU VM, over ten runs of one code version the commit and lookup wall
# medians and the lookup CPU median spread by about a third, and the
# set-up wall median of two sets of ten runs differed by a fifth.
END_TO_END = (
    ("setup_s", "s"),
    ("unit_op_cpu_s", "s"),
)


def medians(r: Run, roles: dict[str, str]) -> dict[str, float]:
    """End-to-end metrics plus the wall medians reported beside them."""
    units, reads = r.timed(roles["unit"]), r.timed(roles["read"])
    return {
        "setup_s": r.phases["session"]["cpu_s"] + r.phases["warmup"]["cpu_s"],
        "setup_wall_s": r.phases["session"]["wall_s"] + r.phases["warmup"]["wall_s"],
        "unit_op_cpu_s": median([o["cpu_s"] for o in units]),
        "read_cpu_p50_s": median([o["cpu_s"] for o in reads]),
        "op_wall_p50_s": median([o["wall_s"] for o in units]),
        "read_wall_p50_s": median([o["wall_s"] for o in reads]),
    }


def run_workload(args, work: Path, sizes=None, before_check=None) -> dict:
    wl = importlib.import_module(f"perfbench.{args.workload}")
    r = Run(args.seed, args.seconds, bool(args.trace), work)
    r.before_check = before_check
    r.detail["host_busy_cores_before"] = hostmon.busy_cores_before(0.5)
    with hostmon.RssSampler() as rss:
        with r.phase("session"):
            spark = r.start_spark()
        try:
            if r.trace:
                layers.install(r)
            roles = wl.run(r, sizes or wl.Sizes())
            r.tracer.phase = "done"
            med = medians(r, roles)
            r.detail.update(
                {k: med[k] for k in ("setup_wall_s", "op_wall_p50_s", "read_wall_p50_s", "read_cpu_p50_s")}
            )
            r.detail["peak_rss_mb"] = rss.peak_bytes / 2**20
            # per-layer figures read the status store, so before the stop
            if r.trace:
                metrics = layers.per_layer(r, roles, med)
            else:
                metrics = {name: med[name] for name, _ in END_TO_END}
        finally:
            r.tracer.uninstall()
            r.stop_spark()
    units_of = dict(layers.PER_LAYER if r.trace else END_TO_END)
    r.detail.update(
        {
            "workload": args.workload,
            "seed": args.seed,
            "unit_op": roles["unit"],
            "read_op": roles["read"],
            "samples": dict(Counter(o["kind"] for o in r.ops if o["phase"] == "timed")),
            "unit_ops": [[round(o["wall_s"], 4), round(o["cpu_s"], 2)] for o in r.timed(roles["unit"])],
            "read_ops": [[round(o["wall_s"], 4), round(o["cpu_s"], 2)] for o in r.timed(roles["read"])],
            "failed_op_ratio": r.failed / max(r.attempted, 1),
            "failures": r.failures[:10],
            "phases": r.phases,
        }
    )
    if r.trace:
        spans_path = work.parent / f"spans-{args.workload}.json"
        r.tracer.dump(str(spans_path))
        r.detail["spans"] = {"count": len(r.tracer.spans), "file": str(spans_path)}
    print("detail " + json.dumps(r.detail, default=str), flush=True)
    return {
        "correct": r.failed == 0 and r.attempted > 0,
        "attempted": max(r.attempted, 1),
        "failed": r.failed,
        "metrics": {k: {"value": float(v), "unit": units_of[k]} for k, v in metrics.items()},
        "run": r,
    }
