"""Seeded input generator for the benchmark.

``generate(seed, out_dir)`` writes ``events``, ``documents`` and
``embeddings`` parquet files with the FIXTURES.md schemas, plus one
activity file per ingest upload.  The same seed gives byte-identical
files.  It returns the properties the engine's behaviour depends on,
measured on the generated rows (see ``describe``).
"""

from __future__ import annotations

import os
import statistics
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Shape:
    """Sizes of one generated corpus.  Every workload uses the same
    shape; only the seed changes."""

    users: int = 80
    #: events over all users, split by lognormal weights so that a few
    #: users are heavy
    events: int = 8800
    heavy_sigma: float = 0.8
    #: each user's history spans this many days (longer than the
    #: three-month recency window, so the split drops a real share)
    history_days: tuple[int, int] = (150, 240)
    #: mean events on an active day (15-event chunks → ~1-3 chunks)
    events_per_day: float = 12.0
    event_types: int = 14
    documents: int = 320
    near_dup_share: float = 0.2
    vectors: int = 400
    labels: int = 8
    subclusters: int = 3
    dim: int = 32
    #: share of ingest users whose first upload is an older export,
    #: replaced later by a full re-export
    reexport_share: float = 0.25


SHAPE = Shape()
#: the small corpus warm-ups run on (same plans, little data)
WARM_SHAPE = Shape(users=10, events=1100, documents=80, vectors=96)

_EVENT_TYPES = [
    "search", "video", "news", "maps", "shopping", "music", "mail",
    "docs", "photos", "calendar", "travel", "recipes", "sports", "finance",
]
_WORDS = (
    "data spark query table join window scan filter value row column "
    "order group batch stream merge sort hash part key agg line vector "
    "model token cluster session user event time day week fast slow big "
    "small index cache shard graph edge node rank score"
).split()
_LANGS = ["en", "de", "fr", "es", "zh"]
_END = np.datetime64("2025-06-30T23:00:00", "us")


def _events(rng: np.random.Generator, shape: Shape) -> pd.DataFrame:
    # lognormal quantiles, dealt to users at random: every seed has the
    # same per-user sizes, so seeds differ in content, not in cost
    normal = statistics.NormalDist()
    w = np.exp([shape.heavy_sigma * normal.inv_cdf((i + 0.5) / shape.users) for i in range(shape.users)])
    n_per_user = rng.permutation(np.maximum(30, (w / w.sum() * shape.events).astype(int)))
    rows = []
    for u in range(shape.users):
        span = int(rng.integers(*shape.history_days))
        end = _END - np.timedelta64(int(rng.integers(0, 5 * 86400)), "s")
        n_days = max(1, int(round(n_per_user[u] / shape.events_per_day)))
        days = np.sort(rng.choice(span, size=min(span, n_days), replace=False))
        counts = rng.multinomial(n_per_user[u], np.full(len(days), 1 / len(days)))
        favs = rng.choice(shape.event_types, size=4, replace=False)
        for d, c in zip(days, counts):
            if c == 0:
                continue
            day0 = end - np.timedelta64(int(span - d) * 86400, "s")
            day0 = day0.astype("datetime64[D]").astype("datetime64[us]")
            # bursts: a few sittings per day, events minutes apart
            start = int(rng.integers(7 * 3600, 20 * 3600))
            gaps = rng.exponential(240.0, c) + np.where(
                rng.random(c) < 0.15, rng.exponential(5400.0, c), 0.0
            )
            secs = np.minimum(start + np.cumsum(gaps), 86399.0)
            micros = (secs * 1e6).astype(np.int64) + rng.integers(0, 1000, c)
            kinds = np.where(
                rng.random(c) < 0.7,
                rng.choice(favs, size=c),
                rng.integers(0, shape.event_types, c),
            )
            for t, k in zip(micros, kinds):
                rows.append((day0 + np.timedelta64(int(t), "us"), u, int(k)))
    df = pd.DataFrame(rows, columns=["ts", "user_id", "kind"])
    df = df.sort_values(["ts", "user_id"], kind="mergesort").reset_index(drop=True)
    n = len(df)
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": df["ts"].astype("datetime64[us]"),
            "user_id": df["user_id"].astype(np.int64),
            "event_type": [_EVENT_TYPES[k] for k in df["kind"]],
            "value": np.round(rng.uniform(0, 50, n), 2),
            "props": [f'{{"k": {int(v)}}}' for v in rng.integers(0, 100, n)],
        }
    )


def _documents(rng: np.random.Generator, shape: Shape) -> pd.DataFrame:
    n_dup = int(shape.documents * shape.near_dup_share)
    n_base = shape.documents - n_dup
    texts = [
        " ".join(rng.choice(_WORDS, size=int(rng.integers(12, 60))))
        for _ in range(n_base)
    ]
    for _ in range(n_dup):
        src = int(rng.integers(0, n_base))
        toks = texts[src].split()
        # one in-place word edit: a near duplicate, not an exact copy
        toks[int(rng.integers(0, len(toks)))] = str(rng.choice(_WORDS))
        texts.append(" ".join(toks))
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    n = len(texts)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, size=n, p=[0.45, 0.15, 0.15, 0.15, 0.1]),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, shape: Shape) -> pd.DataFrame:
    centers = rng.normal(0, 1, (shape.labels, shape.dim))
    subs = rng.normal(0, 0.6, (shape.labels, shape.subclusters, shape.dim))
    label = rng.integers(0, shape.labels, shape.vectors)
    sub = rng.integers(0, shape.subclusters, shape.vectors)
    vecs = centers[label] + subs[label, sub] + rng.normal(0, 0.5, (shape.vectors, shape.dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pd.DataFrame(
        {
            "vec_id": np.arange(shape.vectors, dtype=np.int64),
            "embedding": list(vecs),
            "label": label.astype(np.int32),
        }
    )


def _write(df: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(df, preserve_index=False)
    if "embedding" in df.columns:
        table = table.set_column(
            table.schema.get_field_index("embedding"),
            "embedding",
            pa.array([v.tolist() for v in df["embedding"]], type=pa.list_(pa.float32())),
        )
    pq.write_table(table, path)


def uploads(events: pd.DataFrame, rng: np.random.Generator, shape: Shape) -> list[tuple[int, pd.DataFrame]]:
    """Ingest upload order: first an older (truncated) export for a
    ``reexport_share`` of the users, then every user's full history in
    random order.  The older exports are committed before their full
    re-exports land, so those re-exports replace existing partitions;
    the last upload of every user is their full history, so the
    ingested tables end equal to the bulk run's."""
    order = [int(u) for u in rng.permutation(sorted(events["user_id"].unique()))]
    older = []
    for u in rng.choice(order, size=int(len(order) * shape.reexport_share), replace=False):
        ev = events[events["user_id"] == u]
        older.append((int(u), ev[ev["ts"] <= ev["ts"].quantile(0.8)]))
    return older + [(u, events[events["user_id"] == u]) for u in order]


def generate(seed: int, out_dir: str, shape: Shape = SHAPE) -> dict:
    """Write the corpus for ``seed`` into ``out_dir``; returns its
    measured properties."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    events = _events(rng, shape)
    docs = _documents(rng, shape)
    emb = _embeddings(rng, shape)
    _write(events, os.path.join(out_dir, "events.parquet"))
    _write(docs, os.path.join(out_dir, "documents.parquet"))
    _write(emb, os.path.join(out_dir, "embeddings.parquet"))
    up_dir = os.path.join(out_dir, "uploads")
    os.makedirs(up_dir, exist_ok=True)
    plan = uploads(events, rng, shape)
    files = []
    for i, (u, ev) in enumerate(plan):
        path = os.path.join(up_dir, f"up-{i:04d}-u{u}.parquet")
        _write(ev.reset_index(drop=True), path)
        files.append((path, u, len(ev)))
    props = describe(events, docs, emb, plan)
    props["older_exports"] = len(plan) - int(events["user_id"].nunique())
    props["upload_files"] = files
    return props


def describe(events, docs, emb, plan) -> dict:
    """The input properties the engine's behaviour depends on, as
    measured on the generated rows."""
    per_user = events.groupby("user_id").size()
    max_ts = events.groupby("user_id")["ts"].transform("max")
    recent = events["ts"] > (max_ts - pd.DateOffset(months=3))
    per_day = events.groupby([events["user_id"], events["ts"].dt.date]).size()
    chunks = int(np.ceil(per_day / 15).sum())
    toks = [frozenset(zip(*(t.split()[i:] for i in range(3)))) for t in docs["text"]]
    by_key: dict[frozenset, int] = {}
    near = 0
    for t in toks:
        for other in by_key:
            inter = len(t & other)
            if inter and inter / len(t | other) >= 0.8:
                near += 1
                break
        by_key[t] = 1
    vecs = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    lab = emb["label"].to_numpy()
    sims = vecs @ vecs.T
    same = lab[:, None] == lab[None, :]
    off = ~np.eye(len(lab), dtype=bool)
    users_re = len(plan) - events["user_id"].nunique()
    return {
        "users": int(events["user_id"].nunique()),
        "events": int(len(events)),
        "events_per_user_p50": float(per_user.median()),
        "events_per_user_max": int(per_user.max()),
        "heavy_user_share_of_events": float(
            per_user.sort_values(ascending=False).head(max(1, len(per_user) // 10)).sum()
            / len(events)
        ),
        "recent_share": float(recent.mean()),
        "events_per_user_day_mean": float(per_day.mean()),
        "chunks": chunks,
        "documents": int(len(docs)),
        "near_dup_doc_share": near / len(docs),
        "vectors": int(len(emb)),
        "labels": int(len(set(lab.tolist()))),
        "cos_same_label_mean": float(sims[same & off].mean()),
        "cos_other_label_mean": float(sims[~same].mean()),
        "uploads": len(plan),
        "reexport_share": users_re / len(plan),
    }
