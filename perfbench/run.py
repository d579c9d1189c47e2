"""CDC engine benchmark: one seeded workload per run, one JSON result line.

    python3 perfbench/run.py --workload trickle_mor --seed 1 --seconds 5 --trace 0

Run from the repository root.  The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics of BENCHMARK.json, with ``--trace 1`` its per-layer
metrics from a run whose engine calls are wrapped in spans.  The line
before it (``detail``) records the workload's own named figures, sample
counts, host noise and the Spark settings used.  Metric definitions:
perfbench/METRICS.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("trickle_mor", "curate")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str] | None = None, sizes=None, before_check=None) -> dict:
    """Run one workload and return its result; ``sizes`` and
    ``before_check`` let the self-tests shrink it and corrupt its state."""
    args = parse_args(argv)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    from perfbench.common import PACKAGE

    if not (ROOT / PACKAGE).is_dir():
        raise SystemExit(f"error: engine package {PACKAGE!r} not found under {ROOT}")
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")  # before pyspark makes its first temp file

    from perfbench import report

    try:
        return report.run_workload(args, work, sizes=sizes, before_check=before_check)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    result = main()
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
