"""Shared machinery of the benchmark: process environment, the Spark
session, spans, the duck-typed progress store, stream progress capture,
event-log parsing and the summary statistics.

Everything the benchmark writes lives under one run directory inside
the checkout (``.perfbench/run-<pid>``); it is removed when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import shutil
import threading
import time

SPAN_PROP = "perfbench.span"
BATCH_PROP = "streaming.sql.batchId"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(root: str, trace: bool) -> str:
    """Point every scratch location of this process (Python tempfile, the
    JVM's java.io.tmpdir, Spark's local dirs, the warehouse) at a fresh
    run directory under the checkout, and pin Spark's task threads and
    shuffle width to the host's cores. Must run before Spark starts."""
    run_dir = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "eventlog", "data"):
        os.makedirs(os.path.join(run_dir, sub))
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    args = [
        # no hsperfdata file in /tmp: the run writes only inside the checkout
        f"--driver-java-options \"-Djava.io.tmpdir={tmp} -XX:-UsePerfData\"",
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "--conf spark.sql.streaming.numRecentProgressUpdates=1000",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if trace:
        args += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            f"--conf spark.eventLog.dir=file://{os.path.join(run_dir, 'eventlog')}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return run_dir


# --- spans -----------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, workload). Each open span
    also tags the Spark jobs its thread launches with the local property
    ``perfbench.span`` so the event log attributes jobs to spans. A
    disabled tracer records nothing and touches no Spark state."""

    def __init__(self, workload: str, enabled: bool, t0: float):
        self.workload = workload
        self.enabled = enabled
        self.t0 = t0
        self.spans: list[dict] = []
        self.sc = None
        self._tls = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def _tag(self, span_id) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROP, None if span_id is None else str(span_id))

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        stack = self._stack()
        with self._lock:
            rec = {
                "id": len(self.spans),
                "name": name,
                "parent": stack[-1]["id"] if stack else None,
                "workload": self.workload,
                "start": time.monotonic() - self.t0,
                "end": None,
            }
            self.spans.append(rec)
        if self.sc is not None:
            rec["batch"] = self.sc.getLocalProperty(BATCH_PROP)
        stack.append(rec)
        self._tag(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic() - self.t0
            stack.pop()
            self._tag(stack[-1]["id"] if stack else None)

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a spanned call-through. ``on_result``
        receives (span record, args, result) after the span closed, to
        attach counts without adding their cost to the span."""
        if not self.enabled:
            return
        inner = getattr(owner, attr)
        tracer = self

        def spanned(*args, **kwargs):
            with tracer.span(name) as rec:
                out = inner(*args, **kwargs)
            if on_result is not None:
                on_result(rec, args, out)
            return out

        setattr(owner, attr, spanned)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.named(name)]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=0)


# --- progress store and stream progress --------------------------------------


class BenchProgress:
    """Duck-typed ``ProgressStore`` handed to the pipeline as ``progress=``.
    Records the wall time of every ``set`` call and wakes waiters."""

    def __init__(self, t0: float):
        self.t0 = t0
        self.calls: list[tuple[float, dict]] = []
        self.cond = threading.Condition()
        self.hook = None  # called on the stream thread inside set()

    def set(self, **positions) -> None:
        now = time.monotonic() - self.t0
        if self.hook is not None:
            self.hook(now)
        with self.cond:
            self.calls.append((now, dict(positions)))
            self.cond.notify_all()

    def wait_for(self, table: str, seq: int, timeout: float) -> float | None:
        """Block until ``table`` is published at or above ``seq``; returns
        the publish time or None on timeout."""
        deadline = time.monotonic() + timeout
        with self.cond:
            while True:
                t = self.first_at_or_above(table, seq)
                if t is not None:
                    return t
                left = deadline - time.monotonic()
                if left <= 0:
                    return None
                self.cond.wait(left)

    def first_at_or_above(self, table: str, seq: int) -> float | None:
        for t, pos in self.calls:
            if pos.get(table) is not None and pos[table] >= seq:
                return t
        return None


def progress_listener(spark):
    """Register a StreamingQueryListener that keeps every
    StreamingQueryProgress as a plain dict; returns (records, terminated
    event)."""
    from pyspark.sql.streaming import StreamingQueryListener

    records: list[dict] = []
    done = threading.Event()

    class Collect(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            records.append(
                {
                    "batchId": p.batchId,
                    "numInputRows": p.numInputRows,
                    "durationMs": dict(p.durationMs),
                    "start_epoch": _epoch(p.timestamp),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            done.set()

    spark.streams.addListener(Collect())
    return records, done


def _epoch(iso: str) -> float:
    """StreamingQueryProgress.timestamp (ISO-8601, UTC) as epoch seconds."""
    import datetime as dt

    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def jvm_gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


# --- Spark event log ----------------------------------------------------------


class EventLog:
    """Jobs and stage metrics of the run, read from the event log written
    by the traced session (after ``spark.stop()`` flushed it)."""

    def __init__(self, run_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        files = sorted(
            p for p in glob.glob(os.path.join(run_dir, "eventlog", "**"), recursive=True)
            if os.path.isfile(p)
        )
        for path in files:
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        self.jobs[ev["Job ID"]] = {
                            "stages": ev.get("Stage IDs", []),
                            "span": props.get(SPAN_PROP),
                            "batch": props.get(BATCH_PROP),
                            "submitted": ev.get("Submission Time"),
                        }
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        acc = {
                            a.get("Name"): a.get("Value")
                            for a in info.get("Accumulables", [])
                        }
                        self.stages[info["Stage ID"]] = acc

    def jobs_under(self, tracer: Tracer, span_ids) -> list[int]:
        """Jobs launched while one of the spans, or a span nested in
        them, was the innermost open span of the launching thread."""
        ids = {str(s) for s in subtree_ids(tracer.spans, span_ids)}
        return [j for j, info in self.jobs.items() if info["span"] in ids]

    def jobs_between(self, t0_ms: float, t1_ms: float) -> list[int]:
        return [j for j, info in self.jobs.items()
                if info["submitted"] is not None and t0_ms <= info["submitted"] <= t1_ms]

    def jobs_of_batch(self, batch_id) -> list[int]:
        return [j for j, info in self.jobs.items() if info["batch"] == str(batch_id)]

    def stage_sum(self, job_ids, metric: str) -> int:
        seen: set[int] = set()
        total = 0
        for j in job_ids:
            for s in self.jobs[j]["stages"]:
                if s in seen or s not in self.stages:
                    continue
                seen.add(s)
                total += int(self.stages[s].get(metric) or 0)
        return total


SHUFFLE_WRITE = "internal.metrics.shuffle.write.bytesWritten"
BYTES_READ = "internal.metrics.input.bytesRead"


def subtree_ids(spans: list[dict], root_ids) -> set[int]:
    """Span ids of the given spans and all their descendants."""
    out = set(root_ids)
    grew = True
    while grew:
        grew = False
        for s in spans:
            if s["parent"] in out and s["id"] not in out:
                out.add(s["id"])
                grew = True
    return out


# --- statistics ------------------------------------------------------------------


def pct(values, q: float) -> float:
    """Percentile by linear interpolation between closest ranks."""
    v = sorted(values)
    if not v:
        raise ValueError("no samples")
    if len(v) == 1:
        return float(v[0])
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return float(v[lo] + (v[hi] - v[lo]) * (pos - lo))


def first_line(e: BaseException) -> str:
    """Exception class plus the Spark error condition it carries, if any
    (py4j wraps the condition below a generic first line)."""
    m = re.search(r"\[([A-Z_]+(?:\.[A-Z_]+)*)\]", str(e))
    text = m.group(1) if m else (str(e).strip().splitlines() or [""])[0][:200]
    return f"{type(e).__name__}: {text}"


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for the JVM
    (and with it the Python workers it forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(60)


def median(values) -> float:
    return pct(values, 0.5)


def layer_median(values) -> float:
    """Median of a layer's per-call values; 0 when the layer did no work."""
    return pct(values, 0.5) if len(values) else 0.0


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}
