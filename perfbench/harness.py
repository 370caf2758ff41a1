"""Shared machinery of the benchmark: statistics, spans, the Spark
session lifecycle, progress collection, event-log and memory readers,
and the protocol fingerprint.

Nothing here imports the engine at module level, so the accounting
tests run without a JVM.
"""

from __future__ import annotations

import json
import math
import os
import platform
import resource
import shutil
import subprocess
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")
WORK_DIR = os.path.join(BENCH_DIR, ".work")
OUT_DIR = os.path.join(BENCH_DIR, ".out")

# A tail percentile is reported only from a sample with at least this
# many observations beyond it; fewer would make it a guess at the tail.
MIN_BEYOND = 10


# -- statistics -------------------------------------------------------------
def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in (0, 100]); ``inf`` entries count
    as the largest values, so a never-completed operation pushes the
    tail up instead of vanishing from the sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1]


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly beyond the q-th
    nearest-rank percentile."""
    return n - max(1, math.ceil(q / 100.0 * n))


def tail_percentile(values, q: float = 90.0) -> float:
    """The q-th percentile, refusing a sample too small to support it."""
    beyond = samples_beyond(len(values), q)
    if beyond < MIN_BEYOND:
        raise ValueError(
            f"p{q:g} of {len(values)} samples has {beyond} beyond it; "
            f"need at least {MIN_BEYOND}"
        )
    return percentile(values, q)


def median(values) -> float:
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("median of an empty sample")
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2.0


# -- spans ------------------------------------------------------------------
class Tracer:
    """In-memory span recorder.  A disabled tracer records nothing and
    costs one attribute test per call, so the untraced path is the
    same code as the traced one."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()  # open spans, per thread
        self._lock = threading.Lock()

    @property
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _add(self, name, layer, start, end, parent, attrs=None) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {
                    "id": sid,
                    "run_id": self.run_id,
                    "name": name,
                    "layer": layer,
                    "start": start,
                    "end": end,
                    "parent": parent,
                    **({"attrs": attrs} if attrs else {}),
                }
            )
            return sid

    @contextmanager
    def span(self, name: str, layer: str, parent: int | None = None):
        """Time the body as one span.  ``parent`` defaults to the
        innermost span this thread has open."""
        if not self.enabled:
            yield None
            return
        par = parent if parent is not None else (self._stack[-1] if self._stack else None)
        start = time.time()
        sid = self._add(name, layer, start, start, par)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def record(self, name, layer, start, end, parent=None, attrs=None):
        """Add a span measured elsewhere (a trigger from its progress
        report); returns its id, or None when disabled."""
        if not self.enabled:
            return None
        return self._add(name, layer, start, end, parent, attrs)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            lo, hi = s["start"], s["end"]
            covered, cur_lo, cur_hi = 0.0, None, None
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, lo), min(b, hi)
                if b <= a:
                    continue
                if cur_hi is None or a > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = a, b
                else:
                    cur_hi = max(cur_hi, b)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = max(0.0, (hi - lo) - covered)
        return out

    def self_time_by_layer(self) -> dict[str, float]:
        st = self.self_times()
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        st = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": st[s["id"]]}) + "\n")


# -- Spark session lifecycle ------------------------------------------------
def bench_cpus() -> int:
    """Local parallelism: the cores this process may use, at most 4, so
    the protocol stays the same on any host with 4 or more cores."""
    return max(1, min(4, len(os.sched_getaffinity(0))))


def start_spark(work: str, streaming: bool = False, event_log: bool = False, master=None):
    """The engine's own session factory, with every file the run
    writes kept under ``work``."""
    from watermark_remove_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    cpus = bench_cpus()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if event_log:
        d = os.path.join(work, "eventlog")
        os.makedirs(d, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = d
        conf["spark.eventLog.compress"] = "false"
    spark = build_session(
        app_name="perfbench",
        master=master or f"local[{cpus}]",
        shuffle_partitions=cpus,
        streaming=streaming,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def stop_spark() -> None:
    """Stop the active Spark context and the JVM behind it, and wait for
    the JVM to exit (its Python workers are its children and end with
    it)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class ProgressCollector:
    """Keeps every ``StreamingQueryProgress`` of the session as a dict
    (the engine's ``recentProgress`` ring drops old ones)."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        coll = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with coll._lock:
                    coll.events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._lock = threading.Lock()
        self.events: list[dict] = []
        self.listener = _L()

    def for_query(self, qid: str) -> list[dict]:
        with self._lock:
            return sorted(
                (e for e in self.events if e["id"] == qid), key=lambda e: e["batchId"]
            )

    def wait_for(self, qid: str, last_batch: int, timeout: float = 30.0) -> list[dict]:
        """Progress events are delivered asynchronously; wait until the
        query's last batch has reported."""
        deadline = time.monotonic() + timeout
        while True:
            got = self.for_query(qid)
            if (got and got[-1]["batchId"] >= last_batch) or time.monotonic() > deadline:
                return got
            time.sleep(0.05)


def committed_batch_files(checkpoint: str) -> dict[int, list[str]]:
    """batch id -> basenames of the source files it read, from the
    file source's metadata log in the checkpoint.  The log compacts
    itself every few batches into ``<id>.compact`` files that repeat
    the earlier entries; each entry carries its own batch id."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    out: dict[int, set[str]] = {}
    if not os.path.isdir(log_dir):
        return {}
    for name in os.listdir(log_dir):
        if not name.split(".")[0].isdigit() or name.endswith(".tmp"):
            continue
        with open(os.path.join(log_dir, name)) as f:
            lines = f.read().splitlines()[1:]  # first line is the log version
        for ln in lines:
            if ln.strip():
                e = json.loads(ln)
                out.setdefault(int(e["batchId"]), set()).add(os.path.basename(e["path"]))
    return {b: sorted(fs) for b, fs in out.items()}


def commit_count(checkpoint: str) -> int:
    d = os.path.join(checkpoint, "commits")
    return sum(1 for n in os.listdir(d) if n.isdigit()) if os.path.isdir(d) else 0


# -- Spark runtime counters (event log) ------------------------------------
def event_log_metrics(work: str, t0: float, t1: float) -> dict[str, float]:
    """Shuffle, spill, GC and task skew of the tasks launched inside
    [t0, t1] (epoch seconds), read from the session's event log once
    the session has stopped and flushed it."""
    d = os.path.join(work, "eventlog")
    files = [os.path.join(r, n) for r, _, ns in os.walk(d) for n in ns]
    shuffle_w = shuffle_r = spill = gc_ms = 0
    stage_tasks: dict[int, list[int]] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                launch = info.get("Launch Time", 0) / 1000.0
                if not (t0 <= launch <= t1):
                    continue
                sw = m.get("Shuffle Write Metrics", {})
                sr = m.get("Shuffle Read Metrics", {})
                shuffle_w += sw.get("Shuffle Bytes Written", 0)
                shuffle_r += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                gc_ms += m.get("JVM GC Time", 0)
                stage_tasks.setdefault(ev.get("Stage ID", -1), []).append(
                    m.get("Executor Run Time", 0)
                )
    skew = 0.0
    if stage_tasks:
        widest = max(stage_tasks.values(), key=len)
        med = median(widest)
        skew = max(widest) / med if med > 0 else 0.0
    return {
        "shuffle.bytes_written": float(shuffle_w),
        "shuffle.bytes_read": float(shuffle_r),
        "spill.bytes": float(spill),
        "jvm.gc_s": gc_ms / 1000.0,
        "tasks.skew_ratio": float(skew),
    }


class RssSampler:
    """Peak resident memory of the JVM (sampled from /proc while the
    run lasts) and of this Python process (kernel high-water mark)."""

    def __init__(self, pid: int, every: float = 0.2):
        self.pid = pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, args=(every,), daemon=True)

    def _loop(self, every):
        while not self._stop.is_set():
            try:
                with open(f"/proc/{self.pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            self.peak_kb = max(self.peak_kb, int(line.split()[1]))
            except OSError:
                return
            self._stop.wait(every)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)

    def metrics(self) -> dict[str, float]:
        return {
            "mem.jvm_peak_rss_mb": self.peak_kb / 1024.0,
            "mem.driver_py_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        }


# -- protocol fingerprint ---------------------------------------------------
def git_sha() -> str:
    """The checkout's commit: from git when it is a repository, else
    from a content hash of the engine package (a plain export has no
    history, and two exports of one commit hash the same)."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        lines = out.stdout.split()
        if out.returncode == 0 and os.path.realpath(lines[0]) == os.path.realpath(ROOT):
            return lines[1]
    except (OSError, subprocess.TimeoutExpired):
        pass
    import hashlib

    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "watermark_remove_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for n in sorted(files):
            if n.endswith(".py"):
                with open(os.path.join(d, n), "rb") as f:
                    h.update(n.encode() + f.read())
    return "tree-" + h.hexdigest()[:16]


def fingerprint(seed: int, workload: str, **extra) -> dict:
    import pyspark

    cpus = bench_cpus()
    return {
        "workload": workload,
        "seed": seed,
        "nproc": os.cpu_count(),
        "affinity": sorted(os.sched_getaffinity(0)),
        "spark_master": f"local[{cpus}]",
        "shuffle_partitions": cpus,
        "git_sha": git_sha(),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "loadavg_start": list(os.getloadavg()),
        **extra,
    }


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
