"""Run context shared by the workloads: Spark session, timed ops, results."""

from __future__ import annotations

import contextlib
import os
import signal
import statistics
import time
import zipfile
from pathlib import Path
from typing import Any

from perfbench import hostmon
from perfbench.tracer import Tracer

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "tickers_daily_intraday_etl_spark"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """A fifth of physical RAM, at most 3g: the session's 48g default is
    about three times the RAM of a 15 GB host."""
    with open("/proc/meminfo") as f:
        kb = int(f.readline().split()[1])
    return f"{max(1, min(3, kb // (5 * 1024 * 1024)))}g"


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def du_bytes(path: str | Path) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


class Run:
    """One benchmark run: settings, the Spark session, timed ops and the
    correctness tally.  ``op`` both times a unit of work and records it as
    a span, so the traced and untraced runs share one code path."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: Path):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.tracer = Tracer()
        self.ops: list[dict[str, Any]] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.detail: dict[str, Any] = {}
        self.phases: dict[str, dict[str, float]] = {}
        self.spark = None
        self.cpus = nproc()
        # self-test hook that corrupts the state the final check reads
        # (the lake table, or curate's collected rows; see selftest.py)
        self.before_check = None

    # ------------------------------------------------------- correctness
    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok

    # ------------------------------------------------------------ timing
    @contextlib.contextmanager
    def op(self, kind: str, op_id: Any, **attrs: Any):
        """Time one operation: its wall time and the CPU-seconds the
        process tree spent meanwhile (two /proc walks, about 2 ms each).
        Spans opened inside it carry ``op_id`` (the step or pass)."""
        c0 = hostmon.tree_cpu_s()
        rec: dict[str, Any] = {"kind": kind, "phase": self.tracer.phase, **attrs}
        outer, self.tracer.op_id = self.tracer.op_id, op_id
        try:
            with self.tracer.span(f"bench.{kind}", **attrs) as sp:
                yield rec
        finally:
            self.tracer.op_id = outer
        rec["wall_s"] = sp["end"] - sp["start"]
        rec["cpu_s"] = hostmon.tree_cpu_s() - c0
        self.ops.append(rec)

    def timed(self, kind: str) -> list[dict[str, Any]]:
        return [o for o in self.ops if o["kind"] == kind and o["phase"] == "timed"]

    @contextlib.contextmanager
    def phase(self, name: str):
        """Tag spans with ``name`` and record the phase's wall, CPU and
        host noise (steal share and busy cores from /proc/stat)."""
        self.tracer.phase = name
        clock = hostmon.HostClock()
        c0 = hostmon.tree_cpu_s()
        o0 = self.tracer.overhead_s
        t0 = time.perf_counter()
        try:
            yield
        finally:
            rec = clock.read()
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = hostmon.tree_cpu_s() - c0
            rec["trace_overhead_s"] = self.tracer.overhead_s - o0
            self.phases[name] = rec

    def units(self, first: int):
        """Ids of the timed phase's unit ops: a new one starts while fewer
        than ``seconds`` have passed, so the last one may run past them."""
        end = time.perf_counter() + self.seconds
        i = first
        while True:
            yield i
            i += 1
            if time.perf_counter() >= end:
                return

    # ------------------------------------------------------------- spark
    def spark_settings(self) -> dict[str, str]:
        tmp = self.work / "tmp"
        return {
            "master": f"local[{self.cpus}]",
            "spark.sql.shuffle.partitions": str(self.cpus),
            "SPARK_LOCAL_DIRS": str(self.work / "spark-local"),
            "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }

    def start_spark(self):
        """Build the session through the engine's own ``get_spark``.  The
        engine ships itself to Python workers as a zip it writes under
        /tmp; the benchmark builds the same zip inside its work dir."""
        from tickers_daily_intraday_etl_spark import session

        settings = self.spark_settings()
        for key in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_DRIVER_MEM"):
            os.environ[key] = settings[key]
        zip_path = self.work / f"{PACKAGE}.zip"
        with zipfile.ZipFile(zip_path, "w") as zf:
            for p in sorted((ROOT / PACKAGE).rglob("*.py")):
                zf.write(p, p.relative_to(ROOT))
        session.build_pyfiles_zip = lambda: str(zip_path)
        extra = {k: v for k, v in settings.items() if k.startswith("spark.") and k != "spark.sql.shuffle.partitions"}
        self.spark = session.get_spark(
            "perfbench", cpus=self.cpus, shuffle_partitions=self.cpus, extra_conf=extra
        )
        self.detail["spark_settings"] = settings
        return self.spark

    def stop_spark(self, timeout_s: float = 60.0) -> None:
        """Stop the session, end the JVM (it exits when its stdin closes)
        and wait until every process it started, Python workers included,
        has exited; kill whatever is left at the timeout."""
        from pyspark import SparkContext

        started = set(hostmon.descendants(os.getpid()))
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=timeout_s)
            SparkContext._gateway = SparkContext._jvm = None
        end = time.monotonic() + timeout_s
        while started and time.monotonic() < end:
            started = {p for p in started if os.path.exists(f"/proc/{p}")}
            time.sleep(0.1)
        for pid in started:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)
