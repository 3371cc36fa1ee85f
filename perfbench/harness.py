"""Run plumbing shared by the workloads: the Spark session's life cycle,
the timed pass loop, spans, memory and the result record."""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import time
import traceback

APP_NAME = "perfbench"


class Spans:
    """(name, start, end, parent, run id) records, kept in memory and
    written out once at the end of a traced run."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.records)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": parent, "run_id": self.run_id, "id": idx}
        self.records.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def durations(self, name: str) -> list[float]:
        return [r["end"] - r["start"] for r in self.records
                if r["name"] == name and r["end"] is not None]


class Run:
    """One benchmark process: counts operations and collects metrics."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 tmp_root: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tmp_root = tmp_root
        self.spans = Spans(f"{workload}-{seed}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.mismatches = 0
        self.metrics: dict[str, float] = {}  # end-to-end
        self.layers: dict[str, float] = {}  # per-layer
        self.summary: list[str] = []  # human-readable lines of the report
        self.smoke = False
        self.pending_event_log: tuple[str, int] | None = None

    def op(self, ok: bool, what: str, mismatch: bool = False) -> bool:
        """Count one attempted operation; failures are reported on stderr."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.mismatches += int(mismatch)
            self.note(f"FAILED {what}")
        return ok

    def note(self, line: str) -> None:
        print(f"[perfbench] {line}", file=sys.stderr, flush=True)

    def attempt(self, what: str, fn):
        """Run fn() as one counted operation; an exception is a failure."""
        try:
            out = fn()
        except Exception as exc:  # noqa: BLE001 -- a failed op is a result
            traceback.print_exc()
            self.op(False, f"{what}: {type(exc).__name__}: {str(exc)[:200]}")
            return None
        self.op(True, what)
        return out


class Session:
    """Owns the Spark session and the JVM behind it.

    Traced runs turn Spark's event log on, writing under the run's temp
    root; that is the only setting the benchmark adds to the program's
    session defaults (scratch space comes from run.py's environment).
    The log's listener is detached right after start and attached only
    around traced passes, so a traced run does everything else as an
    untraced one does, and traced and untraced passes can alternate in
    one warm session."""

    def __init__(self, run: Run, cpus: int):
        self.run = run
        self.cpus = cpus
        self.spark = None
        self.event_dir = os.path.join(run.tmp_root, "eventlog")

    def extra_conf(self) -> dict[str, str]:
        if not self.run.trace:
            return {}
        os.makedirs(self.event_dir, exist_ok=True)
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{self.event_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    def start(self):
        from ot_spark.session import get_spark

        self.spark = get_spark(APP_NAME, parallelism=self.cpus,
                               extra_conf=self.extra_conf())
        if self.run.trace:
            self._listener("removeListener")
        return self.spark

    def _listener(self, method: str) -> None:
        sc = self.spark.sparkContext._jsc.sc()
        if method == "removeListener":
            # removing a listener drops the events still queued for it
            sc.listenerBus().waitUntilEmpty(60_000)
        getattr(sc.listenerBus(), method)(sc.eventLogger().get())

    @contextlib.contextmanager
    def logged(self, on: bool):
        """Attach the event log's listener for the block; every event of
        the block's jobs is in the log when the block ends."""
        if on:
            self._listener("addToEventLogQueue")
        try:
            yield
        finally:
            if on:
                self._listener("removeListener")

    def group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def event_log(self) -> str:
        return os.path.join(self.event_dir, self.spark.sparkContext.applicationId)

    def kill(self) -> None:
        """When the run overruns: kill the JVM outright."""
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait(timeout=30)

    def close(self) -> None:
        """Stop Spark and wait until the JVM has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        with contextlib.suppress(Exception):
            gw.shutdown()
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 -- never leave the JVM behind
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def timed_passes(run: Run, session: Session, fn, seconds: float, min_n: int,
                 after=None) -> list[float]:
    """Warm passes for ``seconds`` and at least ``min_n`` successful ones.
    A pass that raises is a failed operation and gives no time.  ``after``
    runs between passes, outside the timed region."""
    times: list[float] = []
    t_end = time.time() + seconds
    session.group("warm")
    while len(times) < min_n or time.time() < t_end:
        with run.spans.span("warm_pass"):
            t0 = time.perf_counter()
            ok = run.attempt("warm pass", lambda: fn(len(times) + 1) or True)
            dt = time.perf_counter() - t0
        if ok:
            times.append(dt)
        elif run.failed > 3 * min_n:
            raise RuntimeError("warm passes keep failing")
        if after is not None:
            after()
    return times


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3

