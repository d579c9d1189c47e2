"""Spans around the engine's module boundaries, installed from outside.

The benchmark drives one closed-loop client, so one stack of open spans
serves every thread: ``foreachBatch`` callbacks run on the py4j callback
thread while the thread that started the query waits in
``awaitTermination``.  Spans stay in memory and are written out once,
when the run ends.

With a ``StageReader`` the tracer also diffs Spark's stage totals at
every span boundary and charges the interval to the innermost open span,
so a span's inclusive totals are its own plus its descendants'.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from typing import Any, Callable

from perfbench import sparkstats


class Tracer:
    def __init__(self, stages: sparkstats.StageReader | None = None):
        self.stages = stages
        self.spans: list[dict[str, Any]] = []
        self.phase = "setup"
        self.op_id: Any = None  # batch / step / pass id of the current unit op
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[dict[str, Any]] = []
        self._restore: list[tuple[Any, str, Any]] = []

    # ------------------------------------------------------------ spans
    def _charge_stages(self, enabled: bool) -> None:
        if self.stages is None or not enabled:
            return
        tot, reducers, jobs = self.stages.delta()
        owner = self._stack[-1] if self._stack else None
        if owner is not None:
            sparkstats.add(owner["stages"], tot)
            owner["reducers"].extend(reducers)
            owner["jobs"] += jobs

    @contextlib.contextmanager
    def span(self, name: str, stages: bool = True, **attrs: Any):
        """``stages=False`` for spans that run no Spark job: their
        boundaries skip the status-store read."""
        t0 = time.perf_counter()
        self._charge_stages(stages)
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "phase": self.phase,
            "op": self.op_id,
            "attrs": attrs,
            "stages": sparkstats.zero(),
            "reducers": [],
            "jobs": 0,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        t1 = time.perf_counter()
        self.overhead_s += t1 - t0
        sp["start"] = t1
        try:
            yield sp
        finally:
            t2 = time.perf_counter()
            sp["end"] = t2
            self._charge_stages(stages)
            self._stack.pop()
            self.overhead_s += time.perf_counter() - t2

    # --------------------------------------------------------- wrappers
    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        on_result: Callable[[Any], dict[str, Any]] | None = None,
        stages: bool = True,
    ) -> None:
        """Replace ``owner.attr`` with a spanned version; ``on_result``
        derives span attributes from the return value (its cost counts
        as tracing overhead)."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            with tracer.span(name, stages=stages) as sp:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    t = time.perf_counter()
                    sp["attrs"].update(on_result(out))
                    tracer.overhead_s += time.perf_counter() - t
                return out

        setattr(owner, attr, spanned)
        self._restore.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, default=str)


def install_engine_wrappers(tracer: Tracer) -> None:
    """Span every module boundary the benchmark reports on."""
    from tickers_daily_intraday_etl_spark.lake import log as log_mod
    from tickers_daily_intraday_etl_spark.lake import maintenance
    from tickers_daily_intraday_etl_spark.lake.table import LakeTable
    from tickers_daily_intraday_etl_spark.streaming import pipeline

    def files_read(df) -> dict[str, Any]:
        return {"files": len(df.inputFiles())}

    tracer.wrap(pipeline.CdcPipeline, "run_available_now", "streaming.pipeline.run_available_now")
    # streaming.pipeline binds merge_into at import; wrap the name it calls
    tracer.wrap(pipeline, "merge_into", "cdc.merge.merge_into", lambda m: {"manifest": m})
    tracer.wrap(LakeTable, "_write_data", "lake.table._write_data")
    tracer.wrap(
        LakeTable, "_scan_commit_dir", "lake.table._scan_commit_dir",
        lambda adds: {"files": len(adds)}, stages=False,
    )
    tracer.wrap(LakeTable, "_commit", "lake.table._commit", stages=False)
    tracer.wrap(LakeTable, "lookup", "lake.table.lookup", files_read)
    tracer.wrap(LakeTable, "read", "lake.table.read", files_read)
    tracer.wrap(log_mod.CommitLog, "snapshot", "lake.log.snapshot", stages=False)
    tracer.wrap(log_mod.CommitLog, "try_commit", "lake.log.try_commit", stages=False)
    # the pipeline imports compact/vacuum from the module at call time
    tracer.wrap(maintenance, "compact", "lake.maintenance.compact", lambda r: {"result": r})
    tracer.wrap(maintenance, "vacuum", "lake.maintenance.vacuum", lambda r: {"result": r})
