"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Each invocation is one fresh process that
builds its own Spark session (local[nproc]), generates its inputs from the
seed, measures for about ``--seconds`` seconds, checks the outputs, and
prints one JSON object as its last line: every end-to-end metric with
``--trace 0``, every per-layer metric with ``--trace 1``. A traced run also
prints the per-layer table and writes its spans to
``.perfbench/spans-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

T0 = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("cdc_follow", "curation_ingest")

# name -> unit; every workload reports every metric. Only medians: no
# workload has the 40 samples per run a p75 needs on both workloads.
END_TO_END = {
    "setup_s": "s",
    "events_per_s": "1/s",
    "batch_p50_s": "s",
    "freshness_p50_s": "s",
    "lookup_p50_s": "s",
}
CDC_LAYERS = {
    "pipeline.batch_jobs": "count",
    "pipeline.add_batch_s": "s",
    "pipeline.overhead_s": "s",
    "pipeline.queue_wait_s": "s",
    "pipeline.rows_per_batch": "count",
    "bucketed.apply_s": "s",
    "bucketed.jobs": "count",
    "bucketed.shuffle_bytes": "bytes",
    "bucketed.buckets_touched": "count",
    "bucketed.rows_rewritten": "count",
    "bucketed.write_amp": "ratio",
    "progress.publish_s": "s",
    "lookup.plan_s": "s",
    "lookup.exec_s": "s",
    "lookup.jobs": "count",
    "lookup.failed": "count",
    "lookup.attempted": "count",
    "gen.late_p75_s": "s",
}
CURATION_LAYERS = {
    "corpus_ingest.batch_jobs": "count",
    "corpus_ingest.add_batch_s": "s",
    "corpus_ingest.other_s": "s",
    "dedup.near_s": "s",
    "dedup.jobs": "count",
    "dedup.dropped_exact": "count",
    "dedup.dropped_near": "count",
    "bloom.mark_s": "s",
    "bloom.record_s": "s",
    "maintenance.compact_s": "s",
    "maintenance.files_after": "count",
    "similarity.embed_s": "s",
    "ivfpq.build_s": "s",
    "ivfpq.build_jobs": "count",
    "ivfpq.query_jobs": "count",
    "ivfpq.query_bytes_read": "bytes",
}
HOST_LAYERS = {
    "setup.spark_s": "s",
    "setup.fixture_s": "s",
    "setup.warmup_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
}
# the traced run's own end-to-end figures: minus the untraced ones they
# give the tracing overhead
TRACED = {f"traced.{k}": u for k, u in END_TO_END.items()}
PER_LAYER = {**CDC_LAYERS, **CURATION_LAYERS, **HOST_LAYERS, **TRACED}


class Ctx:
    """What a workload needs from the harness: the session, the tracer,
    the clock and the set-up phase timings."""

    def __init__(self, args, run_dir: str, tracer):
        self.seed = args.seed
        self.seconds = float(args.seconds)
        self.data_dir = os.path.join(run_dir, "data")
        self.tracer = tracer
        self.t0 = T0
        self.spark = None
        self.setup: dict[str, float] = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        t = time.monotonic()
        with self.tracer.span(f"setup.{name}"):
            yield
        self.setup[name] = time.monotonic() - t

    def epoch(self, t: float) -> float:
        """A time on the run's clock (seconds since T0) as epoch seconds."""
        return time.time() - time.monotonic() + T0 + t

    def gc_seconds(self) -> float:
        from harness import jvm_gc_seconds

        return jvm_gc_seconds(self.spark)

    def start_clock(self) -> None:
        """End of set-up: the first timed operation starts now."""
        self.t_start = time.monotonic() - T0
        self.epoch_start_ms = time.time() * 1000
        self.gc0 = self.gc_seconds()

    def stop_clock(self) -> None:
        self.t_stop = time.monotonic() - T0
        self.epoch_stop_ms = time.time() * 1000
        self.gc_s = self.gc_seconds() - self.gc0


def layer_table(layers: dict) -> str:
    width = max(len(k) for k in layers)
    return "\n".join(
        f"{k:<{width}}  {v:>16.4f} {PER_LAYER[k]}" for k, v in sorted(layers.items())
    )


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "meilisync_spark", "__init__.py")):
        print("meilisync_spark package not found next to the benchmark", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import harness

    trace = bool(args.trace)
    run_dir = harness.prepare_env(ROOT, trace)
    tracer = harness.Tracer(args.workload, trace, T0)
    ctx = Ctx(args, run_dir, tracer)
    try:
        from meilisync_spark.session import get_spark

        t = time.monotonic()
        with tracer.span("setup.spark"):
            ctx.spark = get_spark("perfbench")
        ctx.setup["spark"] = time.monotonic() - t
        if trace:
            tracer.sc = ctx.spark.sparkContext
        if args.workload == "cdc_follow":
            import cdc

            w = cdc.CdcFollow(ctx)
        else:
            import curation

            w = curation.CurationIngest(ctx)
        w.run()
        problems = w.check()
        e2e = {"setup_s": ctx.t_start, **w.metrics()}
        attempted, failed = w.counts()
        harness.stop_spark(ctx.spark)
        ctx.spark = None
        info = {"samples": w.samples(), "problems": problems, "clock_stop_s": ctx.t_stop}
        print(json.dumps(info), file=sys.stderr)
        if trace:
            log = harness.EventLog(run_dir)
            layers = {k: 0.0 for k in PER_LAYER}
            layers.update(w.layers(log))
            window = log.jobs_between(ctx.epoch_start_ms, ctx.epoch_stop_ms)
            layers.update(
                {
                    "setup.spark_s": ctx.setup["spark"],
                    "setup.fixture_s": ctx.setup["fixture"],
                    "setup.warmup_s": ctx.setup["warmup"],
                    "spark.gc_s": ctx.gc_s,
                    "spark.shuffle_write_bytes": log.stage_sum(window, harness.SHUFFLE_WRITE),
                }
            )
            layers.update({f"traced.{k}": v for k, v in e2e.items()})
            tracer.dump(os.path.join(ROOT, ".perfbench", f"spans-{args.workload}-{args.seed}.json"))
            print(layer_table(layers))
            metrics = {k: harness.metric(v, PER_LAYER[k]) for k, v in layers.items()}
        else:
            metrics = {k: harness.metric(e2e[k], u) for k, u in END_TO_END.items()}
        print(
            json.dumps(
                {
                    "correct": not problems,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": metrics,
                }
            )
        )
    finally:
        if ctx.spark is not None:
            harness.stop_spark(ctx.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
