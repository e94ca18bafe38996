"""cdc_follow: an open-loop CDC tail with one concurrent reader.

A bucketed index of N_KEYS keys is bootstrapped through the pipeline
itself (the first micro-batch is one create per key). Then one small
change file (FOLLOW_EVENTS events, Zipf-distributed keys) is due every
FOLLOW_PERIOD_S seconds, whether or not the stream kept up, and
``run_cdc_pipeline`` tails the directory with ``maxFilesPerTrigger=1``.
At the same time one paced reader does a fixed number of pk point
lookups through ``read_buckets(spark, index, [bucket_of(pk)])``, one due
every LOOKUP_PERIOD_S seconds. A lookup that raises is a failed operation
and is not retried.

Reads run next to the stream but not next to the bucket swap: a lookup
and ``apply_changes_bucketed`` take one gate, and a waiting apply goes
before the next lookup. A lookup that lists a bucket's files and reads
them while a concurrent apply swaps that bucket directory fails with
FAILED_READ_FILE.FILE_NOT_EXIST (a known race of ``operators/bucketed.py``);
its rate depends on timing, so a workload that let it happen would give a
different failure count on every run.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
import zlib

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen
from harness import (
    SHUFFLE_WRITE,
    BenchProgress,
    first_line,
    layer_median,
    median,
    pct,
    progress_listener,
)
from meilisync_spark.operators.apply import apply_changes_oracle_sql
from meilisync_spark.sources.events import normalize_events_oracle_sql

TABLE = "users"  # normalize_events' default routing target
N_KEYS = 50_000
NUM_BUCKETS = 64
FOLLOW_EVENTS = 20
FOLLOW_PERIOD_S = 2.5
LOOKUP_PERIOD_S = 0.4
CONSUMED = ("signup", "purchase", "click", "error")
PAYLOAD = ["ts", "value", "k"]  # the index's columns besides pk


class SwapGate:
    """One lookup or one bucket apply at a time; an apply that waits goes
    before any lookup that arrives after it, so a lookup delays an apply
    by at most its own duration."""

    def __init__(self):
        self.cond = threading.Condition()
        self.busy = False
        self.applies_waiting = 0

    @contextlib.contextmanager
    def hold(self, apply: bool):
        with self.cond:
            self.applies_waiting += apply
            while self.busy or (not apply and self.applies_waiting):
                self.cond.wait()
            self.applies_waiting -= apply
            self.busy = True
        try:
            yield
        finally:
            with self.cond:
                self.busy = False
                self.cond.notify_all()


class ChangeFile:
    def __init__(self, name: str, table):
        self.name = name
        self.n_events = table.num_rows
        types = table.column("event_type").to_pylist()
        seqs = table.column("event_id").to_pylist()
        # the stream publishes the max seq of CONSUMED events; views are
        # filtered by the normalizer and never published
        consumed = [s for s, t in zip(seqs, types) if t in CONSUMED]
        self.n_consumed = len(consumed)
        self.last_seq = max(consumed)
        self.due: float | None = None
        self.dropped: float | None = None
        self.published: float | None = None


class CdcFollow:
    def __init__(self, ctx):
        self.ctx = ctx
        d = ctx.data_dir
        self.src = os.path.join(d, "src")
        self.pending = os.path.join(d, "pending")
        self.index = os.path.join(d, "index")
        self.ckpt = os.path.join(d, "ckpt")
        os.makedirs(self.src)
        os.makedirs(self.pending)
        self.gate = SwapGate()
        self.files: list[ChangeFile] = []
        self.timed: list[ChangeFile] = []
        self.lookups: list[dict] = []
        self.errors: list[str] = []
        self.stream_error: BaseException | None = None
        self.dup_pk_reads = 0
        self.mtime_ns = 0
        self.publish_s: list[tuple[float, float]] = []  # traced (time, interval)

    # --- inputs ---------------------------------------------------------

    def generate(self) -> None:
        rng = np.random.default_rng([self.ctx.seed, 1])
        boot = gen.bootstrap_events(rng, N_KEYS)
        self.files.append(ChangeFile("f000000.parquet", boot))
        gen.write(boot, os.path.join(self.src, "f000000.parquet"))
        zipf = gen.ZipfKeys(rng, N_KEYS)
        seq = N_KEYS
        # file 1 is the warm-up batch; the rest are due on the schedule
        n_files = 1 + int(self.ctx.seconds / FOLLOW_PERIOD_S)
        for i in range(1, n_files + 1):
            t = gen.change_events(rng, seq, FOLLOW_EVENTS, zipf.sample(rng, FOLLOW_EVENTS))
            seq += FOLLOW_EVENTS
            cf = ChangeFile(f"f{i:06d}.parquet", t)
            gen.write(t, os.path.join(self.pending, cf.name))
            self.files.append(cf)

    def drop(self, cf: ChangeFile) -> None:
        """Atomically publish a pre-generated file into the source dir."""
        path = os.path.join(self.pending, cf.name)
        # the file source orders files by millisecond mtime: stamp every
        # drop strictly later than the previous one so two files dropped
        # within one millisecond cannot swap places
        self.mtime_ns = max(time.time_ns(), self.mtime_ns + 2_000_000)
        os.utime(path, ns=(self.mtime_ns, self.mtime_ns))
        os.rename(path, os.path.join(self.src, cf.name))
        cf.dropped = time.monotonic() - self.ctx.t0

    # --- the run --------------------------------------------------------

    def run(self) -> None:
        ctx, tr = self.ctx, self.ctx.tracer
        spark = ctx.spark
        from pyspark.sql import functions as F

        import meilisync_spark.operators.bucketed as bucketed
        from meilisync_spark.streaming.pipeline import run_cdc_pipeline

        self.F, self.read_buckets = F, bucketed.read_buckets
        self.progress = BenchProgress(ctx.t0)
        self.trace_hooks(bucketed)
        apply = bucketed.apply_changes_bucketed

        def apply_gated(*args, **kwargs):
            with self.gate.hold(apply=True):
                return apply(*args, **kwargs)

        bucketed.apply_changes_bucketed = apply_gated
        self.records, terminated = progress_listener(spark)

        def stream():
            try:
                run_cdc_pipeline(
                    spark, self.src, self.index, self.ckpt,
                    max_files_per_trigger=1, available_now=False,
                    timeout_sec=600.0, num_buckets=NUM_BUCKETS,
                    progress=self.progress,
                )
            except Exception as e:  # the stream died: a failed operation
                self.stream_error = e

        th = threading.Thread(target=stream, name="stream", daemon=True)
        with ctx.phase("fixture"):
            self.generate()
            th.start()
            boot = self.files[0]
            boot.published = self.progress.wait_for(TABLE, boot.last_seq, 300)
        with ctx.phase("warmup"):
            warm = self.files[1]
            if boot.published is not None:
                self.drop(warm)
                warm.published = self.progress.wait_for(TABLE, warm.last_seq, 300)
            if warm.published is not None:
                self.lookup(0, timed=False)
        if warm.published is None:
            self.stop(spark, th, terminated)
            raise RuntimeError(f"stream did not start: {self.stream_error!r}")

        ctx.start_clock()
        self.t_start = ctx.t_start
        self.timed = self.files[2:]
        for i, cf in enumerate(self.timed):
            cf.due = self.t_start + i * FOLLOW_PERIOD_S

        def generator():
            for cf in self.timed:
                wait = ctx.t0 + cf.due - time.monotonic()
                if wait > 0:
                    time.sleep(wait)
                self.drop(cf)

        def reader():
            rng = np.random.default_rng([ctx.seed, 2])
            zipf = gen.ZipfKeys(np.random.default_rng([ctx.seed, 3]), N_KEYS)
            for i in range(int(ctx.seconds / LOOKUP_PERIOD_S + 1e-9)):
                wait = ctx.t0 + self.t_start + i * LOOKUP_PERIOD_S - time.monotonic()
                if wait > 0:
                    time.sleep(wait)
                self.lookup(int(zipf.sample(rng, 1)[0]))

        loops = [
            threading.Thread(target=generator, name="generator", daemon=True),
            threading.Thread(target=reader, name="reader", daemon=True),
        ]
        for t in loops:
            t.start()
        for t in loops:
            t.join()
        for cf in self.timed:
            cf.published = self.progress.wait_for(TABLE, cf.last_seq, 60)
        ctx.stop_clock()
        self.stop(spark, th, terminated)

    def lookup(self, pk: int, timed: bool = True) -> None:
        tr, F = self.ctx.tracer, self.F
        bucket = zlib.crc32(str(pk).encode()) % NUM_BUCKETS
        rec = {"ok": False}
        with self.gate.hold(apply=False):
            t0 = time.monotonic()
            try:
                with tr.span("lookup") as sp:
                    with tr.span("lookup.plan"):
                        df = self.read_buckets(self.ctx.spark, self.index, [bucket])
                    t1 = time.monotonic()
                    with tr.span("lookup.exec"):
                        rows = df.where(F.col("pk") == pk).collect()
                t2 = time.monotonic()
                rec.update(ok=True, span=sp.get("id"), plan_s=t1 - t0, exec_s=t2 - t1, s=t2 - t0)
                if len(rows) > 1:
                    self.dup_pk_reads += 1
            except Exception as e:  # counted as a failed read, never retried
                self.errors.append(first_line(e))
        if timed:
            self.lookups.append(rec)

    def stop(self, spark, th, terminated) -> None:
        """Stop the idle stream once every published batch has reported
        its progress."""
        want = sum(cf.published is not None for cf in self.files)
        end = time.monotonic() + 30
        while time.monotonic() < end and len(self.batches(all_=True)) < want:
            time.sleep(0.05)
        for q in spark.streams.active:
            q.stop()
        th.join(120)
        terminated.wait(10)

    # --- results ------------------------------------------------------------

    def batches(self, all_: bool = False) -> list[dict]:
        """Progress of the micro-batches that read a file; without
        ``all_`` only the timed ones (batch 0 bootstraps the index,
        batch 1 is the warm-up)."""
        recs = sorted(
            (r for r in self.records if r["numInputRows"] > 0), key=lambda r: r["batchId"]
        )
        return recs if all_ else recs[2:]

    def counts(self) -> tuple[int, int]:
        attempted = len(self.lookups) + len(self.timed)
        failed = sum(not r["ok"] for r in self.lookups)
        failed += sum(cf.published is None for cf in self.timed)
        return attempted, failed + (self.stream_error is not None)

    def metrics(self) -> dict:
        done = [cf for cf in self.timed if cf.published is not None]
        fresh = [cf.published - cf.due for cf in done]
        trig = [b["durationMs"]["triggerExecution"] / 1000.0 for b in self.batches()]
        look = [r["s"] for r in self.lookups if r["ok"]]
        return {
            # the stream's capacity: consumed events per second of trigger
            # execution, which moves with the program's speed rather than
            # with the offered rate
            "events_per_s": sum(cf.n_consumed for cf in done) / sum(trig),
            "batch_p50_s": median(trig),
            "freshness_p50_s": median(fresh),
            "lookup_p50_s": median(look),
        }

    def samples(self) -> dict:
        return {
            "batch_s": [b["durationMs"]["triggerExecution"] / 1000.0 for b in self.batches()],
            "files": len(self.timed),
            "lookups": len(self.lookups),
            "lookup_s": [round(r["s"], 4) for r in self.lookups if r["ok"]],
            "lookup_errors": self.errors[:3],
            "stream_error": None if self.stream_error is None else first_line(self.stream_error),
        }

    def check(self) -> list[str]:
        """Replay every applied file (one file per batch) in DuckDB with
        the package's own SQL mirrors of normalize_events (sparse partial
        updates) and apply_changes (last-wins per pk, deletes), and
        compare with the final index read back from its parquet files."""
        problems = []
        if self.dup_pk_reads:
            problems.append(f"{self.dup_pk_reads} lookups returned more than one row")
        applied = [cf for cf in self.files if cf.published is not None]
        con = duckdb.connect()
        con.execute("CREATE TABLE state (pk BIGINT, ts TIMESTAMP, value DOUBLE, k BIGINT)")
        step = apply_changes_oracle_sql(
            "SELECT * FROM state", normalize_events_oracle_sql(), payload_cols=PAYLOAD
        )
        for cf in applied:
            path = os.path.join(self.src, cf.name).replace("'", "''")
            con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet('{path}')")
            con.execute(f"CREATE OR REPLACE TABLE state AS {step}")
        files = os.path.join(self.index, "bucket=*", "*.parquet").replace("'", "''")
        con.execute(f"CREATE TABLE idx AS SELECT pk, ts, value, k FROM read_parquet('{files}')")
        n_state, n_idx, n_pk = con.execute(
            "SELECT (SELECT count(*) FROM state), count(*), count(DISTINCT pk) FROM idx"
        ).fetchone()
        extra = con.execute(
            "SELECT count(*) FROM (SELECT * FROM idx EXCEPT ALL SELECT * FROM state)"
        ).fetchone()[0]
        missing = con.execute(
            "SELECT count(*) FROM (SELECT * FROM state EXCEPT ALL SELECT * FROM idx)"
        ).fetchone()[0]
        con.close()
        if n_idx != n_pk:
            problems.append(f"index holds {n_idx - n_pk} duplicate pks")
        if extra or missing or n_state != n_idx:
            problems.append(
                f"index != replay: {n_idx} vs {n_state} rows, "
                f"{extra} unexpected, {missing} missing"
            )
        return problems

    # --- tracing ----------------------------------------------------------

    def trace_hooks(self, bucketed) -> None:
        tr = self.ctx.tracer
        if not tr.enabled:
            return
        last = {}

        def after_apply(rec, args, touched):
            # rows in the swapped bucket directories, from parquet footers
            rows = 0
            for b in touched:
                d = os.path.join(args[1], f"bucket={b}")
                for f in os.listdir(d) if os.path.isdir(d) else []:
                    if f.endswith(".parquet"):
                        rows += pq.read_metadata(os.path.join(d, f)).num_rows
            rec["buckets_touched"] = len(touched)
            rec["rows_rewritten"] = rows
            last["handed"] = time.monotonic() - self.ctx.t0

        def on_publish(now):
            if "handed" in last:
                self.publish_s.append((now, now - last.pop("handed")))

        tr.wrap(bucketed, "apply_changes_bucketed", "bucketed.apply", after_apply)
        self.progress.hook = on_publish

    def layers(self, log) -> dict:
        tr, t_start = self.ctx.tracer, self.t_start
        batches = self.batches()
        applies = [s for s in tr.named("bucketed.apply") if s["start"] >= t_start]
        rows_in = [b["numInputRows"] for b in batches]
        add = [b["durationMs"]["addBatch"] / 1000.0 for b in batches]
        trig = [b["durationMs"]["triggerExecution"] / 1000.0 for b in batches]
        # how long a file waited for the trigger that applied it (one file
        # per batch, applied in drop order)
        done = [cf for cf in self.timed if cf.published is not None]
        waits = [b["start_epoch"] - self.ctx.epoch(cf.due) for cf, b in zip(done, batches)]
        ok = [r for r in self.lookups if r["ok"]]
        apply_jobs = [log.jobs_under(tr, [s["id"]]) for s in applies]
        rewritten = [s["rows_rewritten"] for s in applies]
        return {
            "pipeline.batch_jobs": layer_median([len(log.jobs_of_batch(b["batchId"])) for b in batches]),
            "pipeline.add_batch_s": layer_median(add),
            "pipeline.overhead_s": layer_median([t - a for t, a in zip(trig, add)]),
            "pipeline.queue_wait_s": layer_median(waits),
            "pipeline.rows_per_batch": layer_median(rows_in),
            "bucketed.apply_s": layer_median([s["end"] - s["start"] for s in applies]),
            "bucketed.jobs": layer_median([len(j) for j in apply_jobs]),
            "bucketed.shuffle_bytes": layer_median([log.stage_sum(j, SHUFFLE_WRITE) for j in apply_jobs]),
            "bucketed.buckets_touched": layer_median([s["buckets_touched"] for s in applies]),
            "bucketed.rows_rewritten": layer_median(rewritten),
            "bucketed.write_amp": layer_median(
                [r / cf.n_events for r, cf in zip(rewritten, done)]
            ),
            "progress.publish_s": layer_median([p for t, p in self.publish_s if t >= t_start]),
            "lookup.plan_s": layer_median([r["plan_s"] for r in ok]),
            "lookup.exec_s": layer_median([r["exec_s"] for r in ok]),
            "lookup.jobs": layer_median([len(log.jobs_under(tr, [r["span"]])) for r in ok]),
            "lookup.failed": len(self.lookups) - len(ok),
            "lookup.attempted": len(self.lookups),
            "gen.late_p75_s": pct([cf.dropped - cf.due for cf in self.timed], 0.75) if self.timed else 0.0,
        }
