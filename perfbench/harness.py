"""Shared machinery: the benchmark's Spark session, set-up rounds,
percentiles, spans and the Spark-side reports read from outside.

Everything the benchmark writes (Spark local dirs, JVM temp, warehouse,
shipped package zip, checkpoints, event logs, generated inputs) lives
under one work directory inside the checkout, removed at exit.
"""

from __future__ import annotations

import math
import os
import statistics
import subprocess
import threading
import time
import zipfile

PKG = "real_time_event_streaming_analytics_platform_spark"
CPUS = 4


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def tail_pct(n: int, want: float = 95.0) -> float:
    """Highest percentile (capped at ``want``) with at least ten samples
    beyond it; below 20 samples, the one with a single sample beyond it
    (the second-highest value)."""
    if n < 20:
        return math.floor(100.0 * (1.0 - 1.0 / max(n, 2)))
    return min(want, math.floor(100.0 * (1.0 - 10.0 / n)))


def pct(values, p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    if not s:
        return float("nan")
    k = max(0, min(len(s) - 1, math.ceil(p / 100.0 * len(s)) - 1))
    return s[k]


def summary(values, want: float = 95.0) -> dict:
    """Median and tail of ``values`` with the tail's percentile and n."""
    n = len(values)
    p = tail_pct(n, want)
    return {
        "n": n,
        "p50": statistics.median(values) if n else float("nan"),
        "tail_pct": p,
        "tail": pct(values, p) if n else float("nan"),
    }


# --------------------------------------------------------------------------
# spans (traced runs only)
# --------------------------------------------------------------------------


class Tracer:
    """In-memory spans around calls into the program's layers.

    A span has a name (the layer, or ``layer:op``), start, end, parent
    span and request id. With ``enabled`` false every call is a plain
    pass-through, so the untraced run pays nothing but one attribute read.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    def span(self, name: str, request: str | None = None):
        return _Span(self, name, request)

    def call(self, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        with self.span(name):
            return fn(*args, **kwargs)

    def self_times(self) -> dict[str, dict]:
        """Per layer: calls and self time (duration minus the union of
        its direct children's intervals)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, dict] = {}
        for s in self.spans:
            layer = s["name"].split(":")[0]
            covered = union_length(kids.get(s["id"], []))
            d = out.setdefault(layer, {"calls": 0, "self_s": 0.0})
            d["calls"] += 1
            d["self_s"] += max(0.0, s["end"] - s["start"] - covered)
        return out


class _Span:
    def __init__(self, tracer: Tracer, name: str, request: str | None) -> None:
        self.t, self.name, self.request = tracer, name, request

    def __enter__(self):
        t = self.t
        if not t.enabled:
            return self
        stack = getattr(t._local, "stack", None)
        if stack is None:
            stack = t._local.stack = []
        with t._lock:
            t._next += 1
            self.id = t._next
        parent = stack[-1] if stack else None
        self.rec = {
            "id": self.id,
            "name": self.name,
            "parent": parent["id"] if parent else None,
            "request": self.request or (parent["request"] if parent else None),
            "start": time.perf_counter(),
        }
        stack.append(self.rec)
        return self

    def __exit__(self, *exc):
        t = self.t
        if not t.enabled:
            return False
        self.rec["end"] = time.perf_counter()
        t._local.stack.pop()
        with t._lock:
            t.spans.append(self.rec)
        return False


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --------------------------------------------------------------------------
# Spark session
# --------------------------------------------------------------------------


def keep_in(work: str) -> None:
    """Point every temp path of this process and the JVMs and Python
    workers it launches into ``work``. Call before pyspark starts a JVM.
    -XX:-UsePerfData stops each JVM (spark-submit's launcher included)
    writing /tmp/hsperfdata_*."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
    )


class Bench:
    """One benchmark process: work dir, tracer, current session."""

    def __init__(self, root: str, work: str, trace: bool) -> None:
        self.root = root
        self.work = work
        self.tracer = Tracer(trace)
        self.trace = trace
        self.spark = None
        self.event_log_dir = os.path.join(work, "eventlog")
        for d in ("local", "warehouse", "eventlog"):
            os.makedirs(os.path.join(work, d), exist_ok=True)

    def _builder(self):
        from real_time_event_streaming_analytics_platform_spark.session import SessionFactory

        b = (
            SessionFactory.builder("perfbench", cpus=CPUS)
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            .config("spark.driver.memory", "3g")
            .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
            .config("spark.ui.showConsoleProgress", "false")
        )
        if self.trace:
            b = b.config("spark.eventLog.enabled", "true").config("spark.eventLog.compress", "false").config(
                "spark.eventLog.dir", "file://" + self.event_log_dir
            )
        return b

    def start_session(self):
        """Session build + package ship; returns the session."""
        from real_time_event_streaming_analytics_platform_spark import session as S

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        with self.tracer.span("session:build"):
            spark = self._builder().getOrCreate()
        with self.tracer.span("session:ship"):
            self._ship(spark, S)
            S.ensure_utc(spark)
        self.spark = spark
        return spark

    def _ship(self, spark, S) -> None:
        """``session.ensure_package_shipped`` zips the package into /tmp;
        do the same addPyFile with the zip inside the work dir, then mark
        the application shipped so ``ensure_utc`` does not write /tmp."""
        sc = spark.sparkContext
        pkg_dir = os.path.join(self.root, PKG)
        zpath = os.path.join(self.work, f"pkg-{sc.applicationId}.zip")
        with zipfile.ZipFile(zpath, "w") as zf:
            for dirpath, _dirs, files in os.walk(pkg_dir):
                for fn in sorted(files):
                    if fn.endswith(".py"):
                        full = os.path.join(dirpath, fn)
                        zf.write(full, os.path.relpath(full, self.root))
        sc.addPyFile(zpath)
        S._SHIPPED.add(sc.applicationId)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def cpu_seconds() -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by this process and every live descendant: the JVM and its Python
    workers. Read from /proc."""
    own, children = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                raw = fh.read()
        except OSError:  # the process exited while listing
            continue
        fields = raw[raw.rindex(")") + 2 :].split()
        own[int(d)] = sum(int(x) for x in fields[11:15])
        children.setdefault(int(fields[1]), []).append(int(d))
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += own.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine so far, from
    /proc/stat: time the host ran something else while this VM's CPUs
    wanted to run."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_share(since: tuple[int, int]) -> float:
    """Share of CPU time stolen by the host since ``since``, a noise
    indicator for every wall-clock metric of the run."""
    steal, total = steal_ticks()
    return (steal - since[0]) / max(1, total - since[1])


def job_floor_ms(spark, reps: int = 5) -> float:
    """Median wall of a one-row collect: the scheduler's per-job floor."""
    times = []
    df = spark.range(1)
    for _ in range(reps):
        t0 = time.perf_counter()
        df.collect()
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


SETUP_ROUNDS = 3


def setup(bench: Bench, prepare) -> tuple[float, dict]:
    """The workload's set-up time. The session part (build, package
    ship, first job) runs ``SETUP_ROUNDS`` times, each on a fresh
    SparkContext, and its median is taken; the first round also launches
    the JVM. ``prepare(spark)`` (the workload's warm pass: Python workers
    where it uses them, cache fill) then runs once on the last session.
    Returns (seconds, detail)."""
    rounds = []
    for _ in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        spark = bench.start_session()
        with bench.tracer.span("session:warmup"):
            spark.range(1).collect()
        rounds.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    with bench.tracer.span("phase:prepare"):
        prepare(bench.spark)
    prep = time.perf_counter() - t0
    return statistics.median(rounds) + prep, {"session_rounds_s": rounds, "prepare_s": prep}


def stop_jvm() -> None:
    """Stop the JVM PySpark launched and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
    if proc is not None:
        if proc.poll() is None:
            proc.terminate()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def span_cost_s(n: int = 2000) -> float:
    """Cost of recording one span, measured on a throwaway tracer."""
    t = Tracer(True)
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            pass
    return (time.perf_counter() - t0) / n


RECONCILE_LIMIT = 0.10


def trace_layers(bench: Bench, res: dict) -> dict:
    """Per-layer metrics of a traced run, computed after the session has
    stopped: span self times per layer and Spark's event log.

    A query family's wall time must reconcile with its Spark time (the
    union of its stages' spans, from the event log) plus its driver-only
    time (the harness's ``plans.registry:build`` spans, which run no
    Spark job) to within ``RECONCILE_LIMIT``; a family outside it is
    listed under ``reconcile_flags`` in the detail output."""
    import eventlog
    import metrics

    out: dict[str, float] = {}
    selft = bench.tracer.self_times()
    for layer in metrics.LAYERS:
        d = selft.get(layer, {"calls": 0, "self_s": 0.0})
        out[f"{layer}.calls"] = d["calls"]
        out[f"{layer}.self_ms"] = d["self_s"] * 1e3
    warm = [s["end"] - s["start"] for s in bench.tracer.spans if s["name"] == "session:warmup"]
    out["session.warmup_s"] = statistics.median(warm) if warm else 0.0
    out["trace.span_cost_ms"] = len(bench.tracer.spans) * span_cost_s() * 1e3
    out["trace.latency_p50_ms"] = res["p50_ms"]
    events = eventlog.read(bench.event_log_dir)
    jobs = eventlog.Jobs(events)
    t0, t1 = res["phase_window"]
    res["eventlog"] = {"events": len(events), "jobs": len(jobs.jobs)}
    tot = jobs.totals(jobs.select(t0=t0, t1=t1))
    for k in ("jobs", "tasks", "executor_run_s", "gc_s"):
        out[f"spark.{k}"] = tot[k]
    # serving reads: Spark jobs per read, from each read's job group and span
    for ep, reads in res.get("reads", {}).items():
        if reads:
            out[f"serving.api.{ep}.jobs_per_read"] = statistics.mean(
                len(jobs.select(group=g, t0=w0, t1=w1)) for g, w0, w1 in reads
            )
    # the anomaly job's rows and bytes through its pandas node, while A and
    # B drain (pipeline A runs no Python node)
    py = [jobs.totals(jobs.select(t0=w0, t1=w_ab)) for w0, w_ab, _ in res.get("stream_windows", [])]
    if py:
        out["streaming.anomaly.python_rows"] = statistics.median(t["python_rows"] for t in py)
        out["streaming.anomaly.python_bytes"] = statistics.median(t["python_bytes"] for t in py)
    build: dict[str, float] = {}
    for s in bench.tracer.spans:
        if s["name"] == "plans.registry:build" and s["request"]:
            build[s["request"]] = build.get(s["request"], 0.0) + s["end"] - s["start"]
    flags = {}
    for fam, queries in res.get("families", {}).items():
        agg: dict[str, float] = {}
        for q in queries:
            t = jobs.totals(jobs.select(group=q["group"], t0=q["window"][0], t1=q["window"][1]))
            t["wall_s"] = q["wall_s"]
            t["driver_s"] = build.get(q["group"], 0.0)
            q["layers"] = t
            for k, v in t.items():
                agg[k] = agg.get(k, 0) + v
        for k in metrics.FAMILY_FIELDS:
            out[f"{fam}.{k}"] = agg.get(k, 0)
        if agg.get("wall_s"):
            err = abs(agg["stage_s"] + agg["driver_s"] - agg["wall_s"]) / agg["wall_s"]
            out[f"{fam}.reconcile_error"] = err
            if err > RECONCILE_LIMIT:
                flags[fam] = err
    res["reconcile_flags"] = flags
    return out
