"""The paper's per-user Takeout DAG, composed from the package's
public entry points.

Recent branch: ``build_recent_branch_pipeline`` (recency split → day
chunks → noisy mock LLM summarize → parse/validate → embed) plus the
four session analytics built from ``operators`` calls (gap and
similarity percentiles, near-duplicate merge, top-1 neighbor graph).
Old branch: ``build_old_branch_pipeline`` once for each of the
``sensitive`` and ``general`` specs.  Every output table is written
per user through ``sources.writers.write_partitioned``.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from enclaveid_data_pipeline_spark.ml.backends import (
    MockCompletionBackend,
    MockEmbeddingBackend,
)
from enclaveid_data_pipeline_spark.operators.merge import (
    connected_components,
    merge_components,
)
from enclaveid_data_pipeline_spark.operators.sessionize import session_gaps
from enclaveid_data_pipeline_spark.operators.similarity import (
    lag_similarity,
    pairwise_similarity,
    top_k_neighbors,
)
from enclaveid_data_pipeline_spark.operators.thresholds import group_percentile
from enclaveid_data_pipeline_spark.plans.pipeline import (
    InterestsSpec,
    Pipeline,
    Stage,
    build_old_branch_pipeline,
    build_recent_branch_pipeline,
)
from enclaveid_data_pipeline_spark.sources import writers

SPECS = (
    InterestsSpec("sensitive", "extract sensitive interests", "rephrase"),
    InterestsSpec("general", "extract interests", "rephrase descriptively"),
)

#: output table → frame key in the DAG's namespace
OUTPUTS = {
    "recent_events": "recent_events",
    "sessions": "sessions",
    "session_quality": "session_quality",
    "session_thresholds": "session_thresholds",
    "merged_sessions": "merged_sessions",
    "session_graph": "session_graph",
    **{f"{s.name}_clusters": f"{s.name}:interest_clusters" for s in SPECS},
}

#: sub-session length of the noisy mock (the mock_sessions_multi oracle's)
SUB_SIZE = 6


class Counted:
    """Backend factory that counts prompts and backend calls into two
    Spark accumulators.  Accumulators are looked up by id in the
    worker's per-task registry: a backend cached across tasks would
    otherwise add into the accumulator copy of the task that built it,
    whose updates are never sent back."""

    def __init__(self, factory, prompts_acc, calls_acc):
        self.factory = factory
        self.prompts_id = prompts_acc.aid
        self.calls_id = calls_acc.aid
        # referenced so each task's closure re-registers them
        self._accs = (prompts_acc, calls_acc)

    def __call__(self):
        return _CountingBackend(self.factory(), self.prompts_id, self.calls_id)


class _CountingBackend:
    def __init__(self, inner, prompts_id, calls_id):
        self.inner, self.prompts_id, self.calls_id = inner, prompts_id, calls_id

    def _count(self, n: int) -> None:
        from pyspark.accumulators import _accumulatorRegistry

        _accumulatorRegistry[self.prompts_id].add(n)
        _accumulatorRegistry[self.calls_id].add(1)

    def complete(self, prompts):
        self._count(len(prompts))
        return self.inner.complete(prompts)

    def embed(self, texts):
        self._count(len(texts))
        return self.inner.embed(texts)


def backends(spark, counted: bool):
    """(noisy completion, interests completion, embedding) factories;
    with ``counted`` also the accumulators (completion rows, completion
    calls, embedding rows, embedding calls)."""
    noisy = functools.partial(MockCompletionBackend, mode="noisy", sub_size=SUB_SIZE)
    single = MockCompletionBackend
    embed = functools.partial(MockEmbeddingBackend, dim=8)
    if not counted:
        return (noisy, single, embed), None
    accs = tuple(spark.sparkContext.accumulator(0) for _ in range(4))
    fns = (Counted(noisy, *accs[:2]), Counted(single, *accs[:2]), Counted(embed, *accs[2:]))
    return fns, accs


def _session_keys(df: DataFrame) -> DataFrame:
    """Stable per-session id and start/end timestamps."""
    start = F.to_timestamp(F.concat_ws(" ", "date_s", "time_start"), "yyyy-MM-dd HH:mm")
    end = F.to_timestamp(F.concat_ws(" ", "date_s", "time_end"), "yyyy-MM-dd HH:mm")
    return (
        df.withColumn("sid", F.xxhash64("user_id", "date_s", "chunk_id", "session_idx"))
        .withColumn("start_ts", start)
        .withColumn("end_ts", end)
    )


def _gap_pctl(frames):
    sessions = _session_keys(frames["sessions"])
    gaps = session_gaps(sessions, ts_col="start_ts", user_col="user_id")
    return {
        "keyed_sessions": sessions,
        "time_threshold": group_percentile(gaps, "gap_seconds", 0.10, out_col="time_threshold"),
    }


def _lag_sim(frames):
    emb = _session_keys(frames["session_embeddings"])
    sims = lag_similarity(
        emb, group_cols=("user_id",), order_cols=("start_ts", "chunk_id", "session_idx"),
        out_col="cos_prev",
    )
    sim_thr = group_percentile(sims, "cos_prev", 0.90, out_col="similarity_threshold")
    thresholds = frames["time_threshold"].join(sim_thr, "user_id", "full_outer").select(
        "user_id", "time_threshold", F.round("similarity_threshold", 6).alias("similarity_threshold")
    )
    pairs = pairwise_similarity(emb, id_col="sid", group_cols=("user_id",)).withColumn(
        "sim", F.round("similarity", 6)
    )
    return {"session_thresholds": thresholds, "session_pairs": pairs}


def make_neardup_merge(stats: dict):
    def _neardup(frames):
        pairs = frames["session_pairs"].join(frames["session_thresholds"], "user_id")
        edges = pairs.filter(F.col("sim") >= F.col("similarity_threshold")).select(
            F.col("left_id").alias("src"), F.col("right_id").alias("dst")
        )
        cc_stats: dict = {}
        comps = connected_components(edges, stats=cc_stats)
        stats["merge_rounds"] = stats.get("merge_rounds", 0) + cc_stats.get("rounds", 0)
        merged = merge_components(
            frames["keyed_sessions"], comps, "sid",
            {
                "user_id": F.min("user_id"),
                "n_sessions": F.count(F.lit(1)),
                "first_start": F.date_format(F.min("start_ts"), "yyyy-MM-dd HH:mm"),
                "last_end": F.date_format(F.max("end_ts"), "yyyy-MM-dd HH:mm"),
            },
        )
        return {"merged_sessions": merged, "neardup_edges": edges}

    return _neardup


def _top1(frames):
    top1 = top_k_neighbors(frames["session_pairs"], k=1, sim_col="sim")
    return {
        "session_graph": top1.select(
            "user_id", F.col("left_id").alias("parent_id"),
            F.col("right_id").alias("child_id"), F.col("sim").alias("weight"),
        )
    }


def build(completion_noisy, completion_interests, embedding, stats: dict) -> list[Pipeline]:
    """The recent branch with its analytics appended, then one old
    branch per spec (each old branch's frames are namespaced by spec)."""
    recent = build_recent_branch_pipeline(completion_noisy, embedding)
    recent.stages += [
        Stage("gap_pctl", _gap_pctl),
        Stage("lag_sim", _lag_sim),
        Stage("neardup_merge", make_neardup_merge(stats)),
        Stage("top1_graph", _top1),
    ]
    pipes = [recent]
    for spec in SPECS:
        old = build_old_branch_pipeline(completion_interests, embedding, spec)
        old.stages = [_namespaced(s, spec.name) for s in old.stages]
        pipes.append(old)
    return pipes


def _namespaced(stage: Stage, ns: str) -> Stage:
    """Run an old-branch stage on its spec's own frame keys, so the
    two specs' outputs do not overwrite each other."""

    def fn(frames):
        view = {k.split(":", 1)[1]: v for k, v in frames.items() if k.startswith(ns + ":")}
        view["events"] = frames["events"]
        return {f"{ns}:{k}": v for k, v in stage.fn(view).items()}

    return Stage(stage.name, fn)


def run(pipes: list[Pipeline], events: DataFrame, out_dir: str) -> dict:
    """Run every pipeline over ``events`` and write each output table
    under ``out_dir``; returns the final frame namespace."""
    frames: dict = {"events": events}
    for p in pipes:
        frames = p.run(frames)
    for table, key in OUTPUTS.items():
        writers.write_partitioned(frames[key], os.path.join(out_dir, table))
    return frames
