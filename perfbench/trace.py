"""Traced-run tooling.

Spans are recorded in memory around every call into a layer's public
function, by wrapping those functions from the benchmark's side (the
package itself is not changed).  Spark's own counters are read from
the status store after each traced operation and attributed to the
innermost span that was open when each job, stage or SQL execution
was submitted.  Everything is written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import re
import sys
import threading
import time
from dataclasses import dataclass, field

PKG = "enclaveid_data_pipeline_spark"

#: (module, attribute, layer): the public functions a span wraps.
#: Wrapping replaces every reference in loaded package and benchmark
#: modules, so ``from x import f`` call sites see the wrapper too.
FUNCTIONS = (
    ("sources.readers", "read_table", "sources"),
    ("sources.writers", "write_partitioned", "sources"),
    ("streaming.sessions", "read_event_stream", "streaming"),
    ("ml.llm_ops", "summarize_chunks", "ml"),
    ("ml.llm_ops", "embed_text", "ml"),
    ("ml.llm_ops", "release_executor_backends", "ml"),
    ("ml.clustering", "cluster_embeddings", "ml"),
    ("functions.jsonextract", "explode_session_objects", "functions"),
    ("operators.recency", "recency_split", "operators"),
    ("operators.sessionize", "session_gaps", "operators"),
    ("operators.thresholds", "group_percentile", "operators"),
    ("operators.similarity", "lag_similarity", "operators"),
    ("operators.similarity", "pairwise_similarity", "operators"),
    ("operators.similarity", "top_k_neighbors", "operators"),
    ("operators.merge", "connected_components", "operators"),
    ("operators.merge", "merge_components", "operators"),
    ("materialize", "materialize", "materialize"),
    ("materialize", "release_blocks", "materialize"),
    ("queries", "release_shared_caches", "queries"),
)
#: (module, class, method, layer)
METHODS = (
    ("plans.pipeline", "Pipeline", "run", "plans"),
    ("materialize", "RollingBoundary", "__call__", "materialize"),
    ("materialize", "RollingBoundary", "release", "materialize"),
)
#: the seven session-scoped shared-intermediate dicts (module, name)
SHARED_DICTS = (
    ("queries.dbscan_queries", "_PAIRS_SHARED"),
    ("queries.dedup_queries", "_CAND_SHARED"),
    ("queries.similarity_queries", "_SIM_SHARED"),
    ("queries.graph_queries", "_EDGES_SHARED"),
    ("queries.text_queries", "_UNIGRAM_SHARED"),
    ("queries.text_queries", "_TF_SHARED"),
    ("queries.text_queries", "_CLF_SHARED"),
)


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    run: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder.  ``active`` gates recording, so one
    run can alternate traced and untraced operations."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.active = False
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.active:
            yield None
            return
        stack = self._stack()
        with self._lock:
            sp = Span(len(self.spans), name, layer, stack[-1] if stack else None,
                      self.run_id, time.time(), attrs=attrs)
            self.spans.append(sp)
        stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return wrapper

    def instrument(self) -> None:
        """Wrap ``FUNCTIONS`` and ``METHODS`` and swap the shared
        dicts for counting ones, for the rest of the process."""
        for mod, attr, layer in FUNCTIONS:
            m = importlib.import_module(f"{PKG}.{mod}")
            orig = getattr(m, attr)
            self._replace_everywhere(orig, self.wrap(orig, f"{layer}.{attr}", layer))
        for mod, cls, meth, layer in METHODS:
            c = getattr(importlib.import_module(f"{PKG}.{mod}"), cls)
            orig = c.__dict__[meth]
            setattr(c, meth, self.wrap(orig, f"{layer}.{cls}.{meth.strip('_')}", layer))
        for mod, name in SHARED_DICTS:
            m = importlib.import_module(f"{PKG}.{mod}")
            setattr(m, name, CountingDict(getattr(m, name)))

    def _replace_everywhere(self, orig, new) -> None:
        for mname, m in list(sys.modules.items()):
            if not (mname.startswith(PKG) or mname.startswith("perfbench")):
                continue
            for k, v in list(vars(m).items()):
                if v is orig:
                    setattr(m, k, new)


class CountingDict(dict):
    """A ``_SHARED`` dict that counts lookups and the hits among them."""

    def __init__(self, init):
        super().__init__(init)
        self.lookups = 0
        self.hits = 0

    def _look(self, key) -> None:
        self.lookups += 1
        self.hits += key in self

    def get(self, key, default=None):
        self._look(key)
        return super().get(key, default)

    def setdefault(self, key, default=None):
        self._look(key)
        return super().setdefault(key, default)


def reset_shared_counts() -> None:
    for mod, name in SHARED_DICTS:
        d = getattr(sys.modules[f"{PKG}.{mod}"], name)
        d.lookups = d.hits = 0


def shared_counts() -> tuple[int, int, int]:
    """(lookups, hits, entries) summed over the shared dicts; entries
    count the members of nested per-family dicts (the unigram family
    builds its members lazily under one key)."""
    lookups = hits = entries = 0
    for mod, name in SHARED_DICTS:
        d = getattr(sys.modules[f"{PKG}.{mod}"], name)
        lookups += getattr(d, "lookups", 0)
        hits += getattr(d, "hits", 0)
        for v in d.values():
            entries += len(v) if isinstance(v, dict) else 1
    return lookups, hits, entries


# --- Spark status store ------------------------------------------------

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"([-\d.,]+)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """A formatted SQL metric value → bytes, seconds or a count."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1] if "\n" in text else ""
    m = _NUM.match(text.strip())
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    return val * _SIZE.get(unit, _TIME.get(unit, 1.0))


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkCounters:
    """Reads jobs, stages and SQL executions that are new since the
    last call, after draining the listener bus (the last execution has
    no completion time until its end event is processed)."""

    #: (node-name substring, SQL metric name, counter key); only nodes
    #: whose name has one of the substrings are read
    SQL_METRICS = (
        ("BroadcastExchange", "data size", "broadcast_bytes"),
        ("Pandas", "time to run Python workers", "python_s"),
        ("Python", "time to run Python workers", "python_s"),
        ("Scan", "scan time", "scan_s"),
        ("Insert", "number of written files", "files_written"),
    )

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext._jsc.sc()
        self.seen_jobs: set[int] = set()
        self.seen_stages: set[tuple[int, int]] = set()
        self.seen_execs: set[int] = set()

    def drain(self) -> None:
        self.sc.listenerBus().waitUntilEmpty()

    def collect(self) -> list[dict]:
        """New events as dicts with ``t`` (submission, epoch s) and
        counter fields."""
        self.drain()
        out: list[dict] = []
        st = self.sc.statusStore()
        jobs = st.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() in self.seen_jobs or not j.completionTime().isDefined():
                continue
            self.seen_jobs.add(j.jobId())
            out.append({"t": _opt_ms(j.submissionTime()), "jobs": 1})
        gw = self.spark.sparkContext._gateway
        stages = st.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        for i in range(stages.size()):
            s = stages.apply(i)
            key = (s.stageId(), s.attemptId())
            t = _opt_ms(s.submissionTime())
            if key in self.seen_stages or t is None or not s.completionTime().isDefined():
                continue
            self.seen_stages.add(key)
            out.append({
                "t": t,
                "stages": 1,
                "tasks": s.numCompleteTasks(),
                "task_busy_s": s.executorRunTime() / 1000.0,
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                "bytes_read": s.inputBytes(),
                "bytes_written": s.outputBytes(),
            })
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid in self.seen_execs or not e.completionTime().isDefined():
                continue
            self.seen_execs.add(eid)
            rec = {"t": e.submissionTime() / 1000.0, "executions": 1}
            values = {}
            it = sql.executionMetrics(eid).iterator()
            while it.hasNext():
                kv = it.next()
                values[kv._1()] = kv._2()
            nodes = sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                wanted = {m: key for sub, m, key in self.SQL_METRICS if sub in node.name()}
                if not wanted:
                    continue
                ms = node.metrics()
                for k in range(ms.size()):
                    metric = ms.apply(k)
                    key = wanted.get(metric.name())
                    v = values.get(metric.accumulatorId()) if key else None
                    if v is not None:
                        rec[key] = rec.get(key, 0.0) + parse_metric(v)
            out.append(rec)
        return out

    def storage_mb(self) -> float:
        """Pinned block storage (memory + disk) over all persisted RDDs."""
        return sum(i.memSize() + i.diskSize() for i in self.sc.getRDDStorageInfo()) / 2**20


def attribute(spans: list[Span], events: list[dict]) -> dict[int, dict]:
    """Sum each event's counters into the innermost span open at its
    submission time (job/stage times have millisecond resolution, so an
    event is placed at the middle of its millisecond)."""
    per_span: dict[int, dict] = {}
    ordered = sorted(spans, key=lambda s: s.start)
    for ev in events:
        t = ev["t"] + 0.0005
        best = None
        for sp in ordered:
            if sp.start > t:
                break
            if sp.end >= t:
                best = sp
        if best is None:
            continue
        acc = per_span.setdefault(best.id, {})
        for k, v in ev.items():
            if k != "t":
                acc[k] = acc.get(k, 0) + v
    return per_span


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the time its child spans cover."""
    child = {s.id: 0.0 for s in spans}
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.end - s.start
    return {s.id: (s.end - s.start) - child[s.id] for s in spans}
