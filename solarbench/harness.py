"""Measurement plumbing shared by the workloads: Spark session set-up,
the streaming progress listener, the benchmark's own foreachBatch sink,
in-memory spans and an outside-in memory sampler."""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager
from datetime import datetime, timezone


def pct(values, q: float) -> float:
    """q-th percentile (0-100) by linear interpolation; 0.0 when empty."""
    v = sorted(values)
    if not v:
        return 0.0
    k = (len(v) - 1) * q / 100
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def iso_ms(stamp: str) -> int:
    """Spark progress timestamp (ISO-8601, UTC, ms) -> epoch ms."""
    d = datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return int(round(d.timestamp() * 1000))


class Spans:
    """Spans kept in memory and written out once at the end."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.items: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        idx = len(self.items)
        parent = self._stack[-1] if self._stack else None
        self.items.append({"name": name, "start": time.time(), "end": None, "parent": parent, **attrs})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.items[idx]["end"] = time.time()

    def write(self, path: str, progress: list[dict]) -> None:
        """Write the spans, and the streaming progress events they go with."""
        if self.enabled:
            with open(path, "w") as f:
                json.dump({"spans": self.items, "progress": progress}, f)


class RssSampler(threading.Thread):
    """Peak resident memory of a process tree (the Spark JVM and the
    Python workers it forks), sampled from /proc every 500 ms. Counts
    proportional set size, so pages a briefly forked helper shares with
    the JVM are not counted twice. One sample walks every JVM thread and
    the JVM's page tables (several ms of CPU for a 2 GB heap); sampling
    more often slowed the measured work and made it less steady."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.root: int | None = None
        self.peak_kb = 0
        self._stop_event = threading.Event()

    def _tree(self, pid: int) -> list[int]:
        out, todo = [], [pid]
        while todo:
            p = todo.pop()
            out.append(p)
            try:
                for t in os.listdir(f"/proc/{p}/task"):
                    with open(f"/proc/{p}/task/{t}/children") as f:
                        todo += [int(c) for c in f.read().split()]
            except OSError:
                continue
        return out

    @staticmethod
    def _pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def run(self) -> None:
        while not self._stop_event.wait(0.5):
            if self.root is not None:
                self.peak_kb = max(self.peak_kb, sum(self._pss_kb(p) for p in self._tree(self.root)))

    def stop(self) -> float:
        self._stop_event.set()
        self.join(5)
        return self.peak_kb / 1024


def configure_env(work: str) -> None:
    """Size Spark for a 4-core, shared-memory box and keep every file it
    writes inside ``work``. Must run before pyspark starts a JVM."""
    cpus = min(4, os.cpu_count() or 4)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # Fixed heap size: no heap-growth transient while measuring. No
    # perf-data file: the JVM writes it to /tmp whatever java.io.tmpdir says.
    os.environ["SPARK_DRIVER_JAVA_OPTS"] = f"-XX:ReservedCodeCacheSize=1g -Xms2g -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.pop("SPARK_MASTER", None)
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)


def start_spark(work: str, master: str | None = None):
    from kafka_streams_example_spark.session import get_spark

    spark = get_spark(
        app_name="solarbench",
        master=master,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.streaming.metricsEnabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def shutdown_jvm(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def make_listener():
    """A StreamingQueryListener that keeps every progress event (the
    query's ``recentProgress`` keeps only the last 100)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[dict] = []
            self.cond = threading.Condition()

        def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
            pass

        def onQueryProgress(self, event) -> None:  # noqa: N802
            p = event.progress
            ops = p.stateOperators or []
            wm = (p.eventTime or {}).get("watermark")
            rec = {
                "run": str(p.runId),
                "name": p.name,
                "batch": p.batchId,
                "at": iso_ms(p.timestamp) / 1000,
                "rows": p.numInputRows,
                "watermark": iso_ms(wm) if wm else None,
                "ms": dict(p.durationMs or {}),
                "state_rows": sum(o.numRowsTotal for o in ops),
                "state_bytes": sum(o.memoryUsedBytes for o in ops),
                "state_commit_ms": sum(o.commitTimeMs for o in ops),
                "dropped": sum(o.numRowsDroppedByWatermark for o in ops),
            }
            with self.cond:
                self.events.append(rec)
                self.cond.notify_all()

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            pass

        def of_run(self, run_id: str) -> list[dict]:
            with self.cond:
                return sorted((e for e in self.events if e["run"] == run_id), key=lambda e: e["batch"])

        def wait_watermark(self, run_id: str, wm: int, timeout: float) -> bool:
            """Block until a batch of ``run_id`` has run with watermark >= wm."""
            deadline = time.time() + timeout
            with self.cond:
                while True:
                    if any(e["run"] == run_id and (e["watermark"] or 0) >= wm for e in self.events):
                        return True
                    left = deadline - time.time()
                    if left <= 0:
                        return False
                    self.cond.wait(min(left, 0.5))

    return ProgressLog()


class WireSink:
    """The benchmark's foreachBatch sink: renders each batch's alerts in
    the reference's Kafka wire format and writes the rows into memory,
    noting when each call ends."""

    def __init__(self, spans: Spans) -> None:
        self.spans = spans
        self.batches: list[tuple[int, list, float]] = []
        self.ms: list[float] = []

    def __call__(self, out, batch_id: int) -> None:
        from kafka_streams_example_spark.plans import solar

        t = time.perf_counter()
        with self.spans.span("sink", batch=batch_id):
            rows = [(r["key"], r["value"]) for r in solar.anomalies_wire_format(out).collect()]
        self.ms.append((time.perf_counter() - t) * 1000)
        self.batches.append((batch_id, rows, time.time()))

    @property
    def rows(self) -> int:
        return sum(len(b[1]) for b in self.batches)
