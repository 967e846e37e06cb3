"""Benchmark of the per-user Takeout DAG, end to end and per layer.

Usage (from the repository root)::

    python3 perfbench/run.py --workload takeout_bulk --seed 1 --seconds 20 --trace 0

One driver process runs one workload at ``local[nproc]``: it generates
the inputs from the seed, sets up the session (warm-up included),
measures for ``--seconds`` seconds (longer only until one DAG run,
100 uploads or four rounds of 13 queries are in), checks the outputs,
and prints every metric by name and unit.  The last line of stdout is
one JSON object.  ``--trace 1``
alternates traced and untraced operations, reports the per-layer
metrics, and writes spans, Spark counters per span and the tracing
overhead to ``perfbench/results/<workload>.layers.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "enclaveid_data_pipeline_spark"


def process_start_time() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def descendants(pid: int) -> list[int]:
    """``pid`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def running(pid: int) -> bool:
    """The process exists and has not exited (a zombie has exited)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except OSError:
        return False


def pss_kb(pid: int) -> int:
    """Proportional resident memory of one process: pages shared with
    other processes (forked Python workers) count once over all."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Instructions:
    """User-space instructions retired by this process and every process
    and thread it starts afterwards (the JVM, the Python workers), from
    one inherited hardware counter (``perf_event_open``).  Open it
    before the JVM starts.  Unlike a time, the count hardly moves when
    other tenants of the host slow its cores down."""

    def __init__(self):
        import ctypes
        import struct

        libc = ctypes.CDLL(None, use_errno=True)
        attr = bytearray(128)  # struct perf_event_attr
        # type PERF_TYPE_HARDWARE, size, config PERF_COUNT_HW_INSTRUCTIONS
        struct.pack_into("IIQ", attr, 0, 0, len(attr), 1)
        struct.pack_into("Q", attr, 40, 1 << 1 | 1 << 5 | 1 << 6)  # inherit, exclude_kernel, exclude_hv
        # perf_event_open(attr, pid=0 (this process), cpu=-1 (any), group_fd=-1, flags=0)
        self.fd = libc.syscall(298, (ctypes.c_char * len(attr)).from_buffer(attr), 0, -1, -1, 0)
        if self.fd < 0:
            err = ctypes.get_errno()
            raise OSError(err, f"perf_event_open(instructions): {os.strerror(err)}")

    def read(self) -> int:
        """Count so far, children included (live ones too)."""
        return int.from_bytes(os.read(self.fd, 8), "little")

    def close(self) -> None:
        os.close(self.fd)


def pctl(values: list[float], p: float) -> float:
    """Linear-interpolation percentile (``p`` in 0..100)."""
    s = sorted(values)
    if len(s) == 1:
        return s[0]
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


class Ctx:
    """What one run shares between its set-up, workload and report."""

    def __init__(self, args, tmp: str, counter: Instructions):
        self.seed = args.seed
        self.tmp = tmp
        self.cores = len(os.sched_getaffinity(0))
        self.data_dir = self.path("data")
        self.warm_dir = self.path("warm")
        self.spark = None
        self.heap_mb = 0
        self.jvm = None
        self.tracer = None
        self.counters = None
        self.peak_kb = 0
        self.instr = counter
        self._last_sample = 0.0
        self._mem_lock = threading.Lock()
        self.peak_split: dict[int, int] = {}
        self.spark_events: list[dict] = []
        self.op_extra: list[dict] = []
        self.storage_mb: list[float] = []
        self.valid_object_ratio = None
        self.ingest_batches = None
        self.shared = (0, 0, 0)
        self.storage_after_release = 0.0
        self.overhead_pair = (0.0, 0.0)

    def path(self, rel: str) -> str:
        return os.path.join(self.tmp, rel)

    def span(self, name: str, layer: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer)

    def failure(self, e: BaseException) -> str:
        traceback.print_exc(file=sys.stderr)
        return "".join(traceback.format_exception_only(type(e), e)).strip()[:400]

    def jvm_alive(self) -> bool:
        return self.jvm is not None and self.jvm.poll() is None

    def sample_memory(self, every_s: float = 0.0) -> None:
        """One sample of the resident memory of the driver, the JVM and
        the Python workers together; the peak over samples is kept.
        With ``every_s``, skip the sample if the last one is more recent
        (a sample reads the JVM's page tables: about 30 ms of a core)."""
        if time.time() - self._last_sample < every_s:
            return
        self._last_sample = time.time()
        per = {pid: pss_kb(pid) for pid in descendants(os.getpid())}
        total = sum(per.values())
        with self._mem_lock:  # the ingest callback thread samples too
            if total > self.peak_kb:
                self.peak_kb, self.peak_split = total, per

    def peak_rss_mb(self) -> float:
        return self.peak_kb / 1024.0

    def after_op(self, rec: dict, frames: dict, dag) -> None:
        """Bookkeeping after one operation, outside its timing: memory
        always; in a traced run also Spark counters, pinned storage,
        model-call counts and pair counts."""
        self.sample_memory(every_s=1.0)
        if self.counters is None or not self.jvm_alive():
            return
        self.tracer.active = False
        events = self.counters.collect()
        extra = {"traced": rec.get("traced", False), "storage_mb": self.counters.storage_mb()}
        self.storage_mb.append(extra["storage_mb"])
        if dag is not None and dag.accs is not None:
            now = tuple(a.value for a in dag.accs)
            last = getattr(self, "_acc_last", (0, 0, 0, 0))
            for key, a, b in zip(("prompts", "prompt_calls", "texts", "embed_calls"), now, last):
                extra[key] = a - b
            self._acc_last = now
            extra["merge_rounds"] = dag.stats.get("merge_rounds", 0) - getattr(self, "_rounds_last", 0)
            self._rounds_last = dag.stats.get("merge_rounds", 0)
            if rec.get("traced") and "session_pairs" in frames:
                extra["pairs"] = frames["session_pairs"].count()
                extra["edges"] = frames["neardup_edges"].count()
        if rec.get("traced"):
            self.spark_events.extend(events)
            self.op_extra.append(extra)


def start_spark(ctx: Ctx):
    """Session at ``local[nproc]`` with every scratch path under the
    run's temporary directory."""
    os.environ["SPARK_GRAFT_CPUS"] = str(ctx.cores)
    # a sixth of the available memory, rounded down to 1, 2 or 4 GiB so
    # that small swings in other processes' use do not change the heap
    heap_mb = max([1024] + [m for m in (2048, 4096) if m <= mem_available_mb() // 6])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    ctx.heap_mb = heap_mb
    # SPARK_LOCAL_DIRS, when set, wins over spark.local.dir
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"] = ctx.path("spark-local")
    os.environ["SPARK_GRAFT_SCRATCH"] = ctx.path("materialize")
    os.environ.pop("SPARK_GRAFT_MATERIALIZE", None)
    os.environ["TMPDIR"] = ctx.path("tmp")
    # the launcher JVM that spark-submit starts first writes hsperfdata too
    os.environ["SPARK_LAUNCHER_OPTS"] = (os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData").strip()
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    tempfile.tempdir = None
    # the Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    from enclaveid_data_pipeline_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        shuffle_partitions=ctx.cores,
        extra_conf={
            "spark.sql.warehouse.dir": ctx.path("warehouse"),
            # the heap is committed and touched whole at start, so the
            # JVM's resident size does not depend on how much of it G1
            # happens to touch (the same run read 2.1 or 3.1 GB); no
            # hsperfdata file, which the JVM writes under /tmp regardless
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={ctx.path('tmp')} -Xms{heap_mb}m -XX:+AlwaysPreTouch -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setCheckpointDir(ctx.path("checkpoints"))
    ctx.spark = spark
    ctx.jvm = spark.sparkContext._gateway.proc
    return spark


def stop_spark(ctx: Ctx) -> None:
    """Stop the session, end the JVM and wait for it and its Python
    workers to exit."""
    if ctx.spark is None:
        return
    pids = [p for p in descendants(os.getpid()) if p != os.getpid()]
    with contextlib.suppress(Exception):
        ctx.spark.stop()
    # also ends the callback server a foreachBatch stream started, whose
    # threads would otherwise hold the interpreter open at exit
    with contextlib.suppress(Exception):
        ctx.spark.sparkContext._gateway.shutdown()
    proc = ctx.jvm
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # a JVM that does not stop is killed
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 15
    for pid in pids:
        while running(pid) and time.time() < deadline:
            time.sleep(0.05)
        if running(pid):
            with contextlib.suppress(OSError):
                os.kill(pid, signal.SIGKILL)
    ctx.spark = None


def e2e_metrics(ops: list[dict], setup_s: float, peak_mb: float) -> dict:
    ok = [o for o in ops if o["ok"]]
    return {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak_mb, "MB"),
        "op_ginstr": (statistics.fmean(o["instructions"] for o in ok) / 1e9, "Ginstr"),
    }


def named_metrics(workload: str, ops: list[dict], e2e: dict, failed: int, attempted: int, wall_s: float) -> dict:
    """The end-to-end metrics under their per-workload names, with the
    operation latencies, which are printed but not in the JSON."""
    out = {**e2e, "failed_frac": (failed / attempted, "ratio")}
    lat = [o["latency"] for o in ops if o["ok"]]
    p50, p90 = statistics.median(lat), pctl(lat, 90)
    if workload == "takeout_bulk":
        events = ops[0]["events"]
        out["dag_run_p50_s"] = (p50, "s")
        out["events_per_s"] = (events / p50, "events/s")
    elif workload == "takeout_ingest":
        out["upload_latency_p50_s"] = (p50, "s")
        out["upload_latency_p90_s"] = (p90, "s")
    else:
        out["query_p50_s"] = (p50, "s")
        out["query_p90_s"] = (p90, "s")
        out["queries_per_min"] = (60.0 * sum(o["ok"] for o in ops) / wall_s, "1/min")
    return out


def main(argv=None) -> int:
    t_proc = process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test is the checkout's own package
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    # before the imports below start any thread, so that every thread
    # and process after this point is counted
    try:
        counter = Instructions()
    except OSError as e:
        print(f"perfbench: no hardware instruction counter: {e}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import gen, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    workload = workloads.WORKLOADS[args.workload]()

    tmp = tempfile.mkdtemp(prefix=".run-", dir=os.path.dirname(os.path.abspath(__file__)))
    ctx = Ctx(args, tmp, counter)

    def on_term(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    try:
        return run(args, ctx, workload, gen, t_proc)
    finally:
        # a second SIGTERM must not cut the clean-up short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        stop_spark(ctx)
        counter.close()
        shutil.rmtree(tmp, ignore_errors=True)


def run(args, ctx: Ctx, workload, gen, t_proc: float) -> int:
    t_gen = time.time()
    ctx.props = gen.generate(args.seed, ctx.data_dir)
    gen.generate(args.seed, ctx.warm_dir, gen.WARM_SHAPE)
    gen_s = time.time() - t_gen

    traced = bool(args.trace)
    t0 = time.time()
    spark = start_spark(ctx)
    jvm_start_s = time.time() - t0
    t0 = time.time()
    # first action through the Python boundary: starts the workers
    workloads_mod = sys.modules["perfbench.workloads"]
    workloads_mod.noop(spark.range(ctx.cores * 2).repartition(ctx.cores).mapInPandas(lambda it: it, "id long"))
    worker_start_s = time.time() - t0
    if traced:
        from perfbench import trace

        ctx.tracer = trace.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
        ctx.tracer.instrument()
        ctx.counters = trace.SparkCounters(spark)
    ok_setup = True
    try:
        workload.warmup(ctx)
    except Exception as e:  # noqa: BLE001 - reported as a failed run below
        ctx.failure(e)
        ok_setup = False
    if ctx.counters is not None and ctx.jvm_alive():
        ctx.counters.collect()  # set-up's jobs are not any operation's
        trace.reset_shared_counts()
    setup_s = time.time() - t_proc - gen_s
    ctx.sample_memory()

    ops: list[dict] = []
    t_measure = time.time()
    if ok_setup:
        try:
            ops = workload.measure(ctx, args.seconds)
        except Exception as e:  # noqa: BLE001 - counted below as every operation failed
            ctx.failure(e)
    wall_s = time.time() - t_measure
    if ctx.jvm_alive():
        ctx.sample_memory()
    if ctx.counters is not None and ctx.jvm_alive():
        from enclaveid_data_pipeline_spark.queries import release_shared_caches

        ctx.shared = trace.shared_counts()
        ctx.tracer.active = False
        release_shared_caches()
        ctx.storage_after_release = ctx.counters.storage_mb()

    problems: list[str] = []
    t_check = time.time()
    if ok_setup and ctx.jvm_alive() and any(o["ok"] for o in ops):
        try:
            problems = workload.check(ctx)
        except Exception as e:  # noqa: BLE001 - a check that cannot run fails
            problems = [f"check raised: {ctx.failure(e)}"]
    else:
        problems = ["outputs not checked: no successful operation or the JVM is gone"]
    check_s = time.time() - t_check
    for p in problems:
        print(f"CHECK FAILED {p}", file=sys.stderr)

    # operations plus the output check; a measurement that produced no
    # operations at all counts as a full run's worth failed
    n_ops = len(ops) or workload.ops_per_run
    attempted = n_ops + 1
    failed = (sum(not o["ok"] for o in ops) if ops else n_ops) + (1 if problems else 0)
    correct = not problems
    metrics: dict = {}
    if any(o["ok"] for o in ops):
        e2e = e2e_metrics(ops, setup_s, ctx.peak_rss_mb())
        for name, (v, unit) in named_metrics(args.workload, ops, e2e, failed, attempted, wall_s).items():
            print(f"metric {args.workload} {name} {v:.6g} {unit}")
        if args.workload == "takeout_bulk":
            print("dag_runs " + " ".join(f"{o['latency']:.2f}s" for o in ops if o["ok"]))
        if ctx.ingest_batches:
            print("batches " + " ".join(
                f"{len(b['files'])}up/{b['end'] - b['start']:.1f}s" for b in ctx.ingest_batches))
        print("peak_rss_split_mb " + " ".join(f"{kb // 1024}" for kb in ctx.peak_split.values()))
        print("inputs " + json.dumps({k: v for k, v in ctx.props.items() if k != "upload_files"}))
        print(f"ops {len(ops)} ok {sum(o['ok'] for o in ops)} measured_s {wall_s:.2f} "
              f"setup: jvm {jvm_start_s:.2f}s workers {worker_start_s:.2f}s gen {gen_s:.2f}s "
              f"check {check_s:.2f}s heap {ctx.heap_mb}m")
        if traced:
            from perfbench import layers

            per_layer, report = layers.per_layer(args, ctx, ops, jvm_start_s, worker_start_s, wall_s)
            print(f"per-layer report {layers.write_report(args, report)}")
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
