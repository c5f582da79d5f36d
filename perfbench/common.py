"""Shared harness pieces: host-safe environment, Spark session, statistics,
and job-group spans read back from the Spark status store."""

from __future__ import annotations

import contextlib
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "amazon_sagemaker_feature_store_streaming_aggregation_spark"
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, "perfbench-out")


# ------------------------------------------------------------------ stats
def median(xs):
    return statistics.median(xs) if xs else float("nan")


def pct(xs, q):
    """Nearest-rank percentile ``q`` (0-100) of ``xs``."""
    s = sorted(xs)
    if not s:
        return float("nan")
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def tail(xs, wanted=(99, 95, 90, 75)):
    """The highest percentile in ``wanted`` with at least ten samples
    beyond it, as ``(q, value)``; ``(None, nan)`` below 20 samples."""
    n = len(xs)
    for q in wanted:
        if n - math.ceil(q / 100.0 * n) >= 10:
            return q, pct(xs, q)
    return None, float("nan")


def timing(xs, unit_scale=1000.0):
    """Median + tail summary of a list of seconds, in ms."""
    q, v = tail(xs)
    return {
        "n": len(xs),
        "p50_ms": median(xs) * unit_scale,
        "tail_pct": q,
        "tail_ms": v * unit_scale if q else None,
    }


# ------------------------------------------------------------ environment
def mem_total_bytes():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_settings(work):
    """Environment for Spark derived from this host only: driver memory
    is a quarter of physical RAM (clamped to 1-4 GiB), one core per
    local slot, and every scratch directory inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    mem_gib = max(1, min(4, mem_total_bytes() // (4 << 30)))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{mem_gib}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYTHONWARNINGS": "ignore::FutureWarning",
    }
    os.environ.update(env)
    tempfile.tempdir = tmp
    return env


def cpu_times():
    """Host-wide CPU jiffies from /proc/stat: (total, steal)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7] if len(v) > 7 else 0


def steal_share(before, after):
    """Share of host CPU time taken by other tenants between two
    ``cpu_times()`` readings."""
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0


def host_facts():
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            head = f.read().strip()
    except OSError:
        head = None
    commit = None
    if head:
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            commit = None
    return {
        "cpus": len(os.sched_getaffinity(0)),
        "mem_total_gib": round(mem_total_bytes() / (1 << 30), 1),
        "python": platform.python_version(),
        "platform": platform.platform(),
        "commit": commit,
    }


def get_session(app):
    from amazon_sagemaker_feature_store_streaming_aggregation_spark import (
        get_spark,
    )

    local = os.environ["SPARK_LOCAL_DIRS"]
    return get_spark(
        app,
        extra_conf={
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": (
                "-XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing "
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
            ),
            "spark.sql.warehouse.dir": os.path.join(local, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


# ------------------------------------------------------------------ spans
class Tracer:
    """Spans are Spark job groups. ``span(name)`` tags every job the
    calling thread submits; ``jobs()`` reads jobs and stages back from
    the status store (works with the UI off). Disabled tracers still
    time their spans but never touch the job group."""

    def __init__(self, spark, enabled):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans = {}  # name -> list of (start, end, job group or None)
        self._seq = 0
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name):
        """Jobs belong to the outermost open span of the calling thread;
        a nested span only records its own interval."""
        own = self.enabled and not getattr(self._local, "open", False)
        group = None
        if own:
            self._local.open = True
            with self._lock:
                self._seq += 1
                group = f"{name}#{self._seq}"
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            prev_desc = self.sc.getLocalProperty("spark.job.description")
            self.sc.setJobGroup(group, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            with self._lock:
                self.spans.setdefault(name, []).append((t0, t1, group))
            if own:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)
                self.sc.setLocalProperty("spark.job.description", prev_desc)
                self._local.open = False

    def durations(self, name):
        return [b - a for a, b, _ in self.spans.get(name, [])]

    def groups(self, name):
        return [g for _, _, g in self.spans.get(name, []) if g is not None]

    def jobs(self):
        """Every job in the status store as a dict with its span name,
        interval (s) and summed stage metrics."""
        store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        stages = {}
        it = store.stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0),
            gw.jvm.java.util.ArrayList(),
        ).iterator()
        while it.hasNext():
            s = it.next()
            stages.setdefault(s.stageId(), s)  # one attempt is enough
        out = []
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            group = j.jobGroup()
            group = group.get() if group.isDefined() else None
            sub = j.submissionTime()
            done = j.completionTime()
            m = dict(cpu_ns=0, gc_ms=0, shuffle_w=0, spill=0, out_b=0)
            sids = j.stageIds()
            sit = sids.iterator()
            while sit.hasNext():
                s = stages.get(sit.next())
                if s is None:
                    continue
                m["cpu_ns"] += s.executorCpuTime()
                m["gc_ms"] += s.jvmGcTime()
                m["shuffle_w"] += s.shuffleWriteBytes()
                m["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                m["out_b"] += s.outputBytes()
            out.append(
                dict(
                    span=group.rsplit("#", 1)[0] if group else None,
                    group=group,
                    start=sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                    end=done.get().getTime() / 1000.0 if done.isDefined() else None,
                    **m,
                )
            )
        return out


def busy_seconds(jobs, t0, t1):
    """Length of the union of job intervals clipped to [t0, t1]."""
    iv = sorted(
        (max(j["start"], t0), min(j["end"], t1))
        for j in jobs
        if j["start"] is not None and j["end"] is not None
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def engine_layer(jobs, t0, t1):
    """``spark.*`` metrics over the jobs that ran inside [t0, t1]."""
    inside = [
        j for j in jobs
        if j["start"] is not None and t0 <= j["start"] <= t1
    ]
    wall = max(t1 - t0, 1e-9)
    return {
        "spark.jobs": len(inside),
        "spark.driver_gap_share": 1.0 - busy_seconds(inside, t0, t1) / wall,
        "spark.task_cpu_s": sum(j["cpu_ns"] for j in inside) / 1e9,
        "spark.gc_s": sum(j["gc_ms"] for j in inside) / 1000.0,
    }


def per_span(jobs, tracer, name):
    """Jobs per call of span ``name`` (mean, and exact per call) and its
    summed stage metrics."""
    groups = tracer.groups(name)
    mine = [j for j in jobs if j["span"] == name]
    exact = [sum(1 for j in mine if j["group"] == g) for g in groups]
    return {
        "jobs": sum(exact) / len(exact) if exact else float("nan"),
        "jobs_exact": exact,
        "shuffle_mb": sum(j["shuffle_w"] for j in mine) / 1e6,
        "spill_mb": sum(j["spill"] for j in mine) / 1e6,
        "write_mb": sum(j["out_b"] for j in mine) / 1e6,
    }


# ----------------------------------------------------------------- output
def write_detail(workload, seed, trace, detail):
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"{workload}-seed{seed}-trace{trace}.json")
    with open(path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True, default=str)
    return path


PR_SET_CHILD_SUBREAPER = 36


def set_subreaper():
    """Have orphaned descendants re-parented to this process (Linux)."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def children(pid):
    """Pids whose parent is ``pid``, from /proc."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the fields after it do not
        if int(stat[stat.rindex(")") + 2:].split()[1]) == pid:
            out.append(int(d))
    return out


def descendants(pid):
    out, todo = [], [pid]
    while todo:
        kids = children(todo.pop())
        out += kids
        todo += kids
    return out


def reap_descendants(grace=20.0):
    """Wait until every descendant of this process has ended: give them
    ``grace`` seconds to exit by themselves, then SIGTERM, then SIGKILL.
    Needs ``set_subreaper`` so that orphans become our children."""
    deadline = time.time() + grace
    sent = None
    while True:
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        left = descendants(os.getpid())
        if not left:
            return
        now = time.time()
        sig = None
        if now > deadline + 5:
            sig = signal.SIGKILL
        elif now > deadline:
            sig = signal.SIGTERM
        if sig is not None and sig != sent:
            for p in left:
                with contextlib.suppress(OSError):
                    os.kill(p, sig)
            sent = sig
        time.sleep(0.05)


def rm_tree(path):
    shutil.rmtree(path, ignore_errors=True)


def log(*a):
    print(f"[perfbench {time.strftime('%H:%M:%S')}]", *a, file=sys.stderr, flush=True)


def wrap_upsert(fg, tracer, log_):
    """Time ``fg.upsert`` on this instance only (no package change).
    Each call appends ``(start, seconds, buckets_committed)`` to
    ``log_``; buckets are counted from the store's version map when
    tracing."""
    inner = fg.upsert

    def upsert(df, *a, **kw):
        before = fg.version_map() if tracer.enabled else None
        t0 = time.perf_counter()
        start = time.time()
        with tracer.span("featurestore.upsert"):
            inner(df, *a, **kw)
        dt = time.perf_counter() - t0
        buckets = None
        if before is not None:
            after = fg.version_map()
            buckets = sum(1 for b, v in after.items() if before.get(b) != v)
        log_.append((start, dt, buckets))

    fg.upsert = upsert
    return fg
