"""curation_ingest: ingest to serve, closed loop.

Document files go through ``run_corpus_ingest(near_dedup=True)`` with the
Bloom prefilter on and ``maxFilesPerTrigger=1``; the next file arrives when
the previous batch has committed. Then, as ``cmd_pipeline`` does, the
corpus is embedded with ``text_embeddings``, pinned and indexed with
``save_index``, and a fixed query set is served one query at a time
through ``query_index(k=10)``: WARM_QUERIES untimed, then one timed query
per second of ``--seconds``.
"""

from __future__ import annotations

import os
import threading
import time

import duckdb
import numpy as np

import gen
from harness import (
    BYTES_READ,
    first_line,
    layer_median,
    median,
    progress_listener,
)

WARM_DOCS = 100
N_FILES = 2
DOCS_PER_FILE = 150
# near duplicates at the fixture's rate; exact duplicates well above it
# (0.2%) so that every run checks a dozen or more of them
EXACT_SHARE = 0.04
NEAR_SHARE = 0.05
K = 10
N_QUERY_SET = 60
WARM_QUERIES = 2
# recall@10 of the served queries against brute-force cosine; the floor
# sits below the lowest value seen over twenty seeds (0.28)
RECALL_FLOOR = 0.25


class CurationIngest:
    def __init__(self, ctx):
        self.ctx = ctx
        d = ctx.data_dir
        self.src = os.path.join(d, "docs")
        self.pending = os.path.join(d, "pending")
        self.corpus = os.path.join(d, "corpus")
        self.ckpt = os.path.join(d, "ckpt")
        self.ann = os.path.join(d, "ann")
        os.makedirs(self.src)
        os.makedirs(self.pending)
        self.stream_error: BaseException | None = None
        self.errors: list[str] = []
        self.mtime_ns = 0
        self.arrived: list[float] = []
        self.query_s: list[float] = []
        self.query_spans: list[int] = []
        self.queries_attempted = 0

    def generate(self) -> None:
        rng = np.random.default_rng([self.ctx.seed, 11])
        n = WARM_DOCS + N_FILES * DOCS_PER_FILE
        table, self.truth = gen.documents(rng, n, EXACT_SHARE, NEAR_SHARE)
        # file 0 is the warm-up batch, the rest are the timed inputs
        bounds = [0] + [WARM_DOCS + i * DOCS_PER_FILE for i in range(N_FILES + 1)]
        self.files = []
        for i in range(N_FILES + 1):
            name = f"d{i:04d}.parquet"
            part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
            gen.write(part, os.path.join(self.pending, name))
            self.files.append(name)
        qrng = np.random.default_rng([self.ctx.seed, 12])
        self.query_ids = [
            int(x) for x in qrng.choice(self.truth["orig"], N_QUERY_SET, replace=False)
        ]

    def drop(self, name: str) -> None:
        path = os.path.join(self.pending, name)
        # the file source orders files by millisecond mtime (see cdc.py)
        self.mtime_ns = max(time.time_ns(), self.mtime_ns + 2_000_000)
        os.utime(path, ns=(self.mtime_ns, self.mtime_ns))
        os.rename(path, os.path.join(self.src, name))

    def batches(self, all_: bool = False) -> list[dict]:
        recs = sorted(
            (r for r in self.records if r["numInputRows"] > 0), key=lambda r: r["batchId"]
        )
        return recs if all_ else recs[1:]

    def wait_committed(self, n: int, timeout: float) -> bool:
        end = time.monotonic() + timeout
        while time.monotonic() < end and self.stream_error is None:
            if len(self.batches(all_=True)) >= n:
                return True
            time.sleep(0.02)
        return len(self.batches(all_=True)) >= n

    def run(self) -> None:
        ctx, tr = self.ctx, self.ctx.tracer
        spark = ctx.spark
        from pyspark.sql import functions as F

        import meilisync_spark.functions.bloom as bloom
        import meilisync_spark.functions.bloom_sharded as bloom_sharded
        import meilisync_spark.operators.maintenance as maintenance
        import meilisync_spark.streaming.corpus_ingest as corpus_ingest
        from meilisync_spark.operators.ivfpq import query_index, save_index
        from meilisync_spark.operators.similarity import text_embeddings
        from meilisync_spark.pin import SER

        tr.wrap(corpus_ingest, "drop_near_dups", "dedup.near")
        for cls in (bloom.LoggedBloom, bloom_sharded.ShardedBloom):
            tr.wrap(cls, "mark", "bloom.mark")
            tr.wrap(cls, "record_batch", "bloom.record")
        tr.wrap(maintenance, "compact_small_files", "maintenance.compact")
        self.records, terminated = progress_listener(spark)

        def stream():
            try:
                corpus_ingest.run_corpus_ingest(
                    spark, self.src, self.corpus, self.ckpt,
                    near_dedup=True, bloom_prefilter=True,
                    max_files_per_trigger=1, available_now=False,
                    timeout_sec=600.0,
                )
            except Exception as e:  # the stream died: a failed operation
                self.stream_error = e

        th = threading.Thread(target=stream, name="stream", daemon=True)
        with ctx.phase("fixture"):
            self.generate()
            # the stream reads its schema from the source dir at start
            self.drop(self.files[0])
        with ctx.phase("warmup"):
            th.start()
            ok = self.wait_committed(1, 300)
        if not ok:
            self.stop(spark, th, terminated)
            raise RuntimeError(f"ingest did not start: {self.stream_error!r}")

        ctx.start_clock()
        self.t_start = ctx.t_start
        for i, name in enumerate(self.files[1:]):
            self.arrived.append(time.monotonic() - ctx.t0)
            self.drop(name)
            if not self.wait_committed(i + 2, 300):
                break
        ingested = time.monotonic()
        self.stop(spark, th, terminated)
        if len(self.batches()) < N_FILES:
            ctx.stop_clock()
            raise RuntimeError(f"ingest stalled: {self.stream_error!r}")

        # stopping the stream is the benchmark's own step: the ingest to
        # serve times leave it out
        self.stop_s = time.monotonic() - ingested
        with tr.span("ann.build"):
            with tr.span("similarity.embed"):
                docs = spark.read.parquet(self.corpus).select("doc_id", "text")
                emb = text_embeddings(docs).select(F.col("doc_id").alias("vec_id"), "embedding")
                emb = emb.localCheckpoint(True, storageLevel=SER)
            with tr.span("ivfpq.build"):
                save_index(emb, self.ann)
        self.serve_ready = time.monotonic() - ctx.t0
        self.vectors = {int(r[0]): np.array(r[1]) for r in emb.collect()}
        self.query_index = query_index
        # untimed queries warm the serve path
        for q in self.query_ids[-WARM_QUERIES:]:
            query_index(spark, self.ann, [(q, self.vectors[q].tolist())], k=K).collect()

        for q in self.query_ids[: min(int(ctx.seconds), N_QUERY_SET - WARM_QUERIES)]:
            self.queries_attempted += 1
            t = time.monotonic()
            try:
                with tr.span("ivfpq.query") as sp:
                    query_index(spark, self.ann, [(q, self.vectors[q].tolist())], k=K).collect()
                self.query_s.append(time.monotonic() - t)
                self.query_spans.append(sp.get("id"))
            except Exception as e:  # counted as a failed query, never retried
                self.errors.append(first_line(e))
        ctx.stop_clock()

    def stop(self, spark, th, terminated) -> None:
        for q in spark.streams.active:
            q.stop()
        th.join(120)
        terminated.wait(10)

    # --- results ------------------------------------------------------------

    def counts(self) -> tuple[int, int]:
        attempted = self.queries_attempted + N_FILES
        failed = self.queries_attempted - len(self.query_s)
        failed += N_FILES - len(self.batches())
        return attempted, failed + (self.stream_error is not None)

    def metrics(self) -> dict:
        trig = [b["durationMs"]["triggerExecution"] / 1000.0 for b in self.batches()]
        # ingest to serve: a file's docs are servable once the index is built
        fresh = [self.serve_ready - self.stop_s - a for a in self.arrived]
        return {
            # ingest to serve throughput: timed docs over the wall time
            # from the first timed file's arrival to the ready index
            "events_per_s": N_FILES * DOCS_PER_FILE / max(fresh),
            "batch_p50_s": median(trig),
            "freshness_p50_s": median(fresh),
            "lookup_p50_s": median(self.query_s),
        }

    def samples(self) -> dict:
        return {
            "batch_s": [b["durationMs"]["triggerExecution"] / 1000.0 for b in self.batches()],
            "files": N_FILES,
            "queries": self.queries_attempted,
            "query_s": [round(x, 4) for x in self.query_s],
            "recall_at_10": getattr(self, "recall", None),
            "query_errors": self.errors[:3],
            "stream_error": None if self.stream_error is None else first_line(self.stream_error),
        }

    def check(self) -> list[str]:
        problems = []
        files = os.path.join(self.corpus, "hb=*", "*.parquet").replace("'", "''")
        con = duckdb.connect()
        rows = con.execute(f"SELECT doc_id, content_hash FROM read_parquet('{files}')").fetchall()
        con.close()
        ids = {r[0] for r in rows}
        hashes = [r[1] for r in rows]
        if len(set(hashes)) != len(hashes):
            problems.append(f"{len(hashes) - len(set(hashes))} corpus rows share a content hash")
        survived = ids & set(self.truth["exact"])
        if survived:
            problems.append(f"{len(survived)} injected exact duplicates survived")
        lost = set(self.truth["orig"]) - ids
        if lost:
            problems.append(f"{len(lost)} original documents were dropped")
        self.dropped_exact = len(set(self.truth["exact"]) - ids)
        self.dropped_near = len(set(self.truth["near"]) - ids)
        self.recall = self.recall_at_k()
        if self.recall < RECALL_FLOOR:
            problems.append(f"recall@{K} {self.recall:.3f} below {RECALL_FLOOR}")
        return problems

    def recall_at_k(self) -> float:
        """Neighbors served for the whole query set (one batch, after the
        clock stopped) against brute-force cosine over the same
        embeddings, the query's own vector excluded."""
        qs = [(q, self.vectors[q].tolist()) for q in self.query_ids]
        served: dict[int, set] = {}
        for r in self.query_index(self.ctx.spark, self.ann, qs, k=K).collect():
            served.setdefault(int(r["q_id"]), set()).add(int(r["neighbor_id"]))
        ids = np.array(sorted(self.vectors))
        mat = np.stack([self.vectors[i] for i in ids]).astype(np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        hits = 0
        for q in self.query_ids:
            sims = mat @ mat[np.searchsorted(ids, q)]
            sims[ids == q] = -np.inf
            truth = set(ids[np.argsort(-sims, kind="stable")[:K]].tolist())
            hits += len(truth & served.get(q, set()))
        return hits / (K * len(self.query_ids))

    # --- tracing ----------------------------------------------------------

    def layers(self, log) -> dict:
        from meilisync_spark.operators.maintenance import table_file_count

        tr = self.ctx.tracer
        batches = self.batches()
        timed = {str(b["batchId"]) for b in batches}

        def per_batch(name):
            """Spans of ``name``, grouped by timed batch."""
            out = {}
            for s in tr.named(name):
                if s.get("batch") in timed:
                    out.setdefault(s["batch"], []).append(s)
            return out

        def batch_seconds(name):
            return [sum(s["end"] - s["start"] for s in v) for v in per_batch(name).values()]

        # spans opened directly by the stream callback (not nested in
        # another traced span), per batch
        top = {}
        for s in tr.spans:
            if s.get("batch") in timed and s["parent"] is None and s["end"] is not None:
                top[s["batch"]] = top.get(s["batch"], 0.0) + s["end"] - s["start"]
        add = {str(b["batchId"]): b["durationMs"]["addBatch"] / 1000.0 for b in batches}
        near = per_batch("dedup.near")
        build = tr.named("ivfpq.build")
        bands = self.corpus + "_bands"
        return {
            "corpus_ingest.batch_jobs": layer_median(
                [len(log.jobs_of_batch(b)) for b in timed]
            ),
            "corpus_ingest.add_batch_s": layer_median(list(add.values())),
            "corpus_ingest.other_s": layer_median([add[b] - top.get(b, 0.0) for b in add]),
            "dedup.near_s": layer_median(batch_seconds("dedup.near")),
            "dedup.jobs": layer_median(
                [len(log.jobs_under(tr, [s["id"] for s in v])) for v in near.values()]
            ),
            "dedup.dropped_exact": self.dropped_exact,
            "dedup.dropped_near": self.dropped_near,
            "bloom.mark_s": layer_median(batch_seconds("bloom.mark")),
            "bloom.record_s": layer_median(batch_seconds("bloom.record")),
            "maintenance.compact_s": layer_median(batch_seconds("maintenance.compact")),
            "maintenance.files_after": table_file_count(self.corpus) + table_file_count(bands),
            "similarity.embed_s": layer_median(tr.durations("similarity.embed")),
            "ivfpq.build_s": layer_median(tr.durations("ivfpq.build")),
            "ivfpq.build_jobs": len(log.jobs_under(tr, [s["id"] for s in build])),
            "ivfpq.query_jobs": layer_median(
                [len(log.jobs_under(tr, [s])) for s in self.query_spans]
            ),
            "ivfpq.query_bytes_read": layer_median(
                [log.stage_sum(log.jobs_under(tr, [s]), BYTES_READ) for s in self.query_spans]
            ),
        }
