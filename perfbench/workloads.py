"""The three workloads.  Each has ``warmup`` (part of set-up),
``measure`` (the timed region; returns one record per operation) and
``check`` (output checks, after the timed region)."""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import threading
import time

from . import checks, dag, gen

#: the analyst session's query mix
ANALYST_QUERIES = (
    "gap_percentile_p10", "sessionize_learned_gap", "lag_cosine_by_label",
    "similarity_threshold_p90", "top1_neighbor_graph", "near_duplicate_components",
    "dup_cluster_size_distribution", "knn_bruteforce_top5", "knn_ivf_top5",
    "minhash_lsh_candidates", "ngram_jaccard_dups", "bpe_encode_corpus",
    "token_pmi_top20",
)
#: rounds of the query mix in the analyst warm-up.  Counted in
#: instructions, a round of a session keeps getting cheaper for about
#: five rounds as the JVM compiles hot code; longer warm-ups did not fit
#: the run's time on a slow host
ANALYST_WARMUP_ROUNDS = 2
#: an analyst run measures at least this many rounds of the mix
ANALYST_ROUNDS = 4
#: a bulk run measures at least this many DAG runs (a traced run
#: alternates untraced and traced ones, so it measures two)
MIN_DAG_RUNS = 1
#: stop adding operations after this long, so a slow machine or a
#: large ``--seconds`` still ends the run in time
MAX_MEASURE_S = 110.0

#: an ingest micro-batch takes at most this many uploads
#: (``maxFilesPerTrigger``), so a run has many batches
BATCH_UPLOADS = 10
#: ingest arrival rate, uploads a second: below what the service can
#: take, so the queue stays bounded.  On a 4-core box a batch of 5 to
#: 10 uploads takes 8-10 s (its fixed cost dominates), so the service
#: takes about 1 upload a second
UPLOADS_PER_S = 0.8

#: DAG stage → the per-layer metric its span time counts towards
STAGE_METRIC = {
    "recency_split": "operators.recency_s",
    "chunk": "operators.chunk_s",
    "summarize": "ml.summarize_s",
    "parse_validate": "functions.parse_s",
    "embed": "ml.embed_s",
    "gap_pctl": "operators.gap_pctl_s",
    "lag_sim": "operators.lag_sim_s",
    "neardup_merge": "operators.neardup_merge_s",
    "top1_graph": "operators.top1_graph_s",
    "extract_interests": "ml.summarize_s",
    "cluster": "ml.cluster_s",
}


def noop(df) -> None:
    """The full-output action: every column is computed."""
    df.write.format("noop").mode("overwrite").save()


class Dag:
    """The DAG's pipelines with, in traced operations, one span per
    stage whose outputs are cached and forced at the stage boundary,
    so each stage's time is its own."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.stats: dict = {}
        fns, self.accs = dag.backends(ctx.spark, counted=ctx.tracer is not None)
        self.pipes = dag.build(*fns, self.stats)
        self.cached: list = []
        if ctx.tracer is not None:
            for p in self.pipes:
                p.stages = [dag.Stage(s.name, self._traced(s)) for s in p.stages]

    def _traced(self, stage):
        tracer = self.ctx.tracer
        metric = STAGE_METRIC[stage.name.split(":")[-1]]

        def fn(frames):
            if not tracer.active:
                return stage.fn(frames)
            with tracer.span(f"stage.{stage.name}", metric.split(".")[0], metric=metric):
                with tracer.span("plans.build", "plans"):
                    out = stage.fn(frames)
                with tracer.span(f"stage.{stage.name}.force", metric.split(".")[0]):
                    for k, df in list(out.items()):
                        out[k] = df.cache()
                        noop(out[k])
                        self.cached.append(out[k])
            return out

        return fn

    def run(self, events, out_dir: str) -> dict:
        return dag.run(self.pipes, events, out_dir)

    def release(self) -> None:
        """Between runs: drop forced caches, shared family tables and
        executor-cached model backends."""
        from enclaveid_data_pipeline_spark.ml.llm_ops import release_executor_backends
        from enclaveid_data_pipeline_spark.queries import release_shared_caches

        for df in self.cached:
            df.unpersist()
        self.cached = []
        release_shared_caches()
        release_executor_backends(self.ctx.spark)


def _traced_op(ctx, i: int) -> bool:
    """In a traced run, odd operations are traced and even ones are
    not, so the two can be compared for the tracing overhead."""
    traced = ctx.tracer is not None and i % 2 == 1
    if ctx.tracer is not None:
        ctx.tracer.active = traced
    return traced


class TakeoutBulk:
    name = "takeout_bulk"
    ops_per_run = MIN_DAG_RUNS

    def warmup(self, ctx) -> None:
        from enclaveid_data_pipeline_spark.sources.readers import read_table

        self.dag = Dag(ctx)
        self.last_out = None
        # over every user: after a warm-up over the small corpus the timed
        # runs still got faster run by run (e.g. 13.2 s, 11.1 s, 9.3 s)
        self.dag.run(read_table(ctx.spark, ctx.data_dir, "events"), ctx.path("warm_out"))
        self.dag.release()
        shutil.rmtree(ctx.path("warm_out"))

    def measure(self, ctx, seconds: float) -> list[dict]:
        from enclaveid_data_pipeline_spark.sources.readers import read_table

        ops: list[dict] = []
        t_begin = time.time()
        while time.time() - t_begin < seconds or len(ops) < MIN_DAG_RUNS + (ctx.tracer is not None):
            k = len(ops)
            traced = _traced_op(ctx, k)
            out = ctx.path(f"out/run-{k}")
            rec = {"kind": "dag_run", "traced": traced, "events": ctx.props["events"]}
            i0 = ctx.instr.read()
            t0 = time.time()
            try:
                with ctx.span("op.dag_run", "plans"):
                    frames = self.dag.run(read_table(ctx.spark, ctx.data_dir, "events"), out)
                rec.update(ok=True, latency=time.time() - t0)
                rec["instructions"] = ctx.instr.read() - i0
            except Exception as e:  # noqa: BLE001 - one failed run is counted, the run goes on
                rec.update(ok=False, error=ctx.failure(e))
                frames = {}
            ctx.after_op(rec, frames, self.dag)
            ops.append(rec)
            if not ctx.jvm_alive():
                break
            self.dag.release()
            if rec["ok"]:
                self.last_out = out
            if k and os.path.isdir(ctx.path(f"out/run-{k - 1}")) and rec["ok"]:
                shutil.rmtree(ctx.path(f"out/run-{k - 1}"))
        return ops

    def check(self, ctx) -> list[str]:
        problems, ratio = checks.check_dag_outputs(ctx.data_dir, self.last_out)
        ctx.valid_object_ratio = ratio
        return problems


class TakeoutIngest:
    """Open loop: each upload lands in a watched directory on a fixed
    schedule; ``streaming`` micro-batches run the DAG for the users in
    each batch and replace those users' partitions."""

    name = "takeout_ingest"
    #: every user's full export, plus an older one for a share of them
    ops_per_run = gen.SHAPE.users + int(gen.SHAPE.users * gen.SHAPE.reexport_share)

    def warmup(self, ctx) -> None:
        from enclaveid_data_pipeline_spark.sources.readers import read_table

        self.dag = Dag(ctx)
        # the bulk run over the same seed is both the warm-up and the
        # reference the ingested tables must end equal to
        self.reference = ctx.path("reference")
        self.dag.run(read_table(ctx.spark, ctx.data_dir, "events"), self.reference)
        self.dag.release()

    def measure(self, ctx, seconds: float) -> list[dict]:
        from pyspark.sql import functions as F

        from enclaveid_data_pipeline_spark.streaming.sessions import read_event_stream

        uploads = ctx.props["upload_files"]
        watched = ctx.path("watched")
        os.makedirs(watched)
        self.out = ctx.path("ingested")
        ckpt = ctx.path("stream_checkpoint")
        interval = 1.0 / UPLOADS_PER_S
        arrivals: dict[str, tuple[float, float]] = {}
        batches: list[dict] = []
        present: set[int] = set()

        def on_batch(batch_df, batch_id: int) -> None:
            i_start = ctx.instr.read()
            t_start = time.time()
            # every batch is traced: batches queue behind one another, so
            # untraced ones in between would not be a clean comparison;
            # the overhead comes from a paired DAG run after the stream
            traced = ctx.tracer is not None
            if traced:
                ctx.tracer.active = True
            rec = {"batch_id": batch_id, "start": t_start, "traced": traced}
            try:
                with ctx.span("streaming.batch", "streaming"):
                    # an older and a newer export of one user can share
                    # a batch; they overlap, and their union is the newer
                    events = batch_df.dropDuplicates(["event_id"])
                    frames = self.dag.run(events, self.out)
                rec.update(ok=True, end=time.time(), instructions=ctx.instr.read() - i_start)
            except Exception as e:  # noqa: BLE001 - a failed batch fails its uploads; the stream goes on
                rec.update(ok=False, end=time.time(), error=ctx.failure(e))
                frames = {}
            # which uploads the batch held, read from the batch itself
            # after its commit time is taken (inputFiles() is empty on a
            # foreachBatch frame)
            try:
                names = batch_df.select(F.input_file_name()).distinct().collect()
                rec["files"] = sorted(os.path.basename(r[0]) for r in names)
            except Exception as e:  # noqa: BLE001 - a batch whose uploads are unknown fails them
                rec.update(ok=False, files=[], error=ctx.failure(e))
            users = {int(f.split("-u")[1].split(".")[0]) for f in rec["files"]}
            rows: dict[int, int] = {}
            for p, u, n in uploads:
                if os.path.basename(p) in rec["files"]:
                    rows[u] = max(rows.get(u, 0), n)
            rec["rows_rewritten"] = sum(n for u, n in rows.items() if u in present)
            rec["rows_new"] = sum(n for u, n in rows.items() if u not in present)
            present.update(users)
            ctx.after_op(rec, frames, self.dag)
            self.dag.release()
            batches.append(rec)

        stop = threading.Event()

        def generate() -> None:
            t0 = time.time() + 0.5
            for i, (path, _, _) in enumerate(uploads):
                due = t0 + i * interval
                if stop.wait(max(0.0, due - time.time())):
                    return
                name = os.path.basename(path)
                staged = os.path.join(watched, "." + name)
                shutil.copyfile(path, staged)
                os.rename(staged, os.path.join(watched, name))
                arrivals[name] = (due, time.time())

        # the service is up before the first upload lands; files are taken
        # in arrival order, so the older exports (first in the schedule)
        # are committed before their re-exports replace them
        stream = read_event_stream(
            ctx.spark, watched, glob="up-*.parquet", max_files_per_trigger=BATCH_UPLOADS
        )
        query = (
            stream.writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", ckpt)
            .start()
        )
        gen = threading.Thread(target=generate, name="upload-generator")
        gen.start()

        def active() -> bool:
            try:
                return query.isActive
            except Exception:  # noqa: BLE001 - a JVM that is gone ends the stream
                return False

        deadline = time.time() + len(uploads) * interval + 120.0
        try:
            while time.time() < deadline and active():
                done = {f for b in batches for f in b["files"]}
                if len(done) >= len(uploads):
                    break
                ctx.sample_memory(every_s=1.0)
                time.sleep(0.1)
        finally:
            stop.set()
            gen.join()
            with contextlib.suppress(Exception):
                query.stop()
        ctx.ingest_batches = batches
        if ctx.tracer is not None and ctx.jvm_alive():
            self.overhead_probe(ctx)
        committed = {f: b for b in batches for f in b["files"]}
        ops = []
        for path, _, n in uploads:
            name = os.path.basename(path)
            due, landed = arrivals.get(name, (None, None))
            b = committed.get(name)
            ok = b is not None and b["ok"]
            ops.append({
                "kind": "upload", "ok": ok, "events": n, "due": due,
                "lateness": None if due is None else landed - due,
                "latency": b["end"] - due if ok else None,
                # a batch's instructions are shared by the uploads it held
                "instructions": b["instructions"] / len(b["files"]) if ok else None,
                "queue_wait": b["start"] - due if ok else None,
                "traced": b is not None and b["traced"],
            })
        return ops

    def overhead_probe(self, ctx) -> None:
        """One untraced and one traced DAG run over the small warm-up
        corpus; their spans and counters are dropped, only the two
        times are kept."""
        from enclaveid_data_pipeline_spark.sources.readers import read_table

        times = []
        n_spans = len(ctx.tracer.spans)
        for traced in (False, True):
            ctx.tracer.active = traced
            t0 = time.time()
            self.dag.run(read_table(ctx.spark, ctx.warm_dir, "events"), ctx.path(f"probe-{traced}"))
            times.append(time.time() - t0)
            ctx.tracer.active = False
            self.dag.release()
        del ctx.tracer.spans[n_spans:]
        ctx.counters.collect()
        ctx.overhead_pair = tuple(times)

    def check(self, ctx) -> list[str]:
        problems, ctx.valid_object_ratio = checks.check_dag_outputs(ctx.data_dir, self.reference)
        return problems + checks.check_same_tables(self.out, self.reference)


class AnalystSession:
    """Closed loop, one client: a seeded order of the 13 registry
    queries, repeated in rounds within one session with the family
    caches left alive."""

    name = "analyst_session"
    ops_per_run = ANALYST_ROUNDS * len(ANALYST_QUERIES)

    def warmup(self, ctx) -> None:
        from enclaveid_data_pipeline_spark.queries import REGISTRY, release_shared_caches

        for _ in range(ANALYST_WARMUP_ROUNDS):
            for name in ANALYST_QUERIES:
                noop(REGISTRY[name].fn(ctx.spark, ctx.data_dir))
        # the timed session starts with empty family caches
        release_shared_caches()

    def measure(self, ctx, seconds: float) -> list[dict]:
        from enclaveid_data_pipeline_spark.queries import REGISTRY

        rng = random.Random(ctx.seed)
        order: list[str] = []
        ops: list[dict] = []
        t_begin = time.time()
        while True:
            if not order:
                # whole rounds only, so every run measures the same mix
                elapsed = time.time() - t_begin
                if (elapsed >= seconds and len(ops) >= self.ops_per_run) or elapsed >= MAX_MEASURE_S:
                    break
                order = rng.sample(ANALYST_QUERIES, len(ANALYST_QUERIES))
            name = order.pop(0)
            # alternate per query, so every query has traced and untraced
            # runs, and half the queries are traced in the first round
            # (which builds the family caches)
            seen = sum(o["name"] == name for o in ops)
            traced = _traced_op(ctx, seen + ANALYST_QUERIES.index(name))
            rec = {"kind": "query", "name": name, "traced": traced}
            i0 = ctx.instr.read()
            t0 = time.time()
            try:
                with ctx.span(f"queries.{name}", "queries"):
                    with ctx.span("plans.build", "plans"):
                        df = REGISTRY[name].fn(ctx.spark, ctx.data_dir)
                    with ctx.span("queries.action", "queries"):
                        noop(df)
                rec.update(ok=True, latency=time.time() - t0)
                rec["instructions"] = ctx.instr.read() - i0
            except Exception as e:  # noqa: BLE001 - a failed query is counted, the session goes on
                rec.update(ok=False, error=ctx.failure(e))
            ctx.after_op(rec, {}, None)
            ops.append(rec)
            if not ctx.jvm_alive():
                # the queries the session still owed count as failed
                missing = max(0, self.ops_per_run - len(ops))
                ops += [{"kind": "query", "name": None, "ok": False, "traced": False}] * missing
                break
        return ops

    def check(self, ctx) -> list[str]:
        return checks.check_queries(ctx.spark, ctx.data_dir, ANALYST_QUERIES)


WORKLOADS = {w.name: w for w in (TakeoutBulk, TakeoutIngest, AnalystSession)}

