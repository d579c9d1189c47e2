"""Self-tests of the benchmark at tiny sizes.

    python3 -m perfbench.selftest            # from the repository root

Each workload runs twice, each time in a fresh process, because Spark
reads its local dirs once per JVM:

* untraced: the run is correct and prints every end-to-end metric of
  BENCHMARK.json with its unit;
* traced, with the final state deliberately corrupted before the check:
  every per-layer metric prints with its unit, child spans nest inside
  their parents, and the correctness check fails.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("trickle_mor", "curate")


def _tiny(workload: str):
    from perfbench import curate, trickle_mor

    return {
        "trickle_mor": trickle_mor.Sizes(
            seed_docs=2_000, seed_events=2_200, segment_events=200, buckets=4, compact_delta_files=1
        ),
        "curate": curate.Sizes(docs=200, vecs=150),
    }[workload]


def _corrupt_table(table) -> None:
    """Commit one bogus upsert above every real LSN: the key then holds
    1,000 tokens, more than any feed event carries (at most 64)."""
    import datetime

    from tickers_daily_intraday_etl_spark.cdc.merge import merge_into
    from tickers_daily_intraday_etl_spark.cdc.schemas import CDC_SCHEMA

    bogus = [("U", "doc-1", 2**62, datetime.datetime(2100, 1, 1), [-1] * 1000, 1000, "corrupt")]
    merge_into(table, table.spark.createDataFrame(bogus, CDC_SCHEMA), batch_id="corrupt")


def _corrupt_rows(query: str, rows: list) -> list:
    return rows[1:] if rows else [("corrupt",)]


def _nesting_errors(spans: list[dict]) -> list[str]:
    by_id = {s["id"]: s for s in spans}
    bad = []
    for s in spans:
        p = by_id.get(s["parent"])
        if p is not None and not (p["start"] <= s["start"] <= s["end"] <= p["end"]):
            bad.append(f"{s['name']} outside {p['name']}")
    return bad


def case(workload: str, trace: int) -> dict:
    """One run in this process; the traced run gets a corrupted state."""
    sys.path.insert(0, str(ROOT))
    from perfbench import run

    hook = None
    if trace:
        hook = _corrupt_rows if workload == "curate" else _corrupt_table
    res = run.main(
        ["--workload", workload, "--seed", "5", "--seconds", "1", "--trace", str(trace)],
        sizes=_tiny(workload),
        before_check=hook,
    )
    return {
        "correct": res["correct"],
        "failed": res["failed"],
        "metrics": {k: v["unit"] for k, v in res["metrics"].items()},
        "nesting_errors": _nesting_errors(res["run"].tracer.spans),
    }


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    problems = []
    for workload in WORKLOADS:
        for trace in (0, 1):
            proc = subprocess.run(
                [sys.executable, "-m", "perfbench.selftest", "--case", workload, str(trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            tag = f"{workload} trace={trace}"
            if proc.returncode != 0:
                problems.append(f"{tag}: exit {proc.returncode}: {proc.stderr[-1500:]}")
                continue
            got = json.loads(proc.stdout.strip().splitlines()[-1])
            if got["metrics"] != declared[trace]:
                problems.append(f"{tag}: metrics/units differ from BENCHMARK.json")
            if trace == 0 and not got["correct"]:
                problems.append(f"{tag}: clean run reported failures")
            if trace == 1 and (got["correct"] or got["failed"] == 0):
                problems.append(f"{tag}: corrupted state passed the correctness check")
            problems += [f"{tag}: {e}" for e in got["nesting_errors"]]
            print(f"{tag}: {'ok' if not any(p.startswith(tag) for p in problems) else 'FAILED'}", flush=True)
    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--case"]:
        print(json.dumps(case(sys.argv[2], int(sys.argv[3]))))
    else:
        sys.exit(main())
