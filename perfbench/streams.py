"""Driving one streaming query through the engine's public pipeline
functions, with the benchmark's own timing around each sink commit."""

from __future__ import annotations

import math
import os
import threading
import time

from harness import Tracer, median, percentile


FAILED = "failed"  # key of the failed read calls in a read phase's times
READ_ROUNDS = 5  # timed consumer polls after a workload's timed window


class TimedSink:
    """Hands ``run_stream_to_sink`` a foreachBatch body that calls the
    real sink's ``write_batch`` and records when each commit returned
    (and, when tracing, one span per commit)."""

    def __init__(self, sink, tracer: Tracer, parent: int | None):
        self.sink = sink
        self.tracer = tracer
        self.parent = parent
        self.commits: dict[int, float] = {}  # batch id -> epoch seconds
        self.write_s: dict[int, float] = {}
        self._lock = threading.Lock()

    def foreach_batch(self):
        def body(df, batch_id):
            t0 = time.perf_counter()
            with self.tracer.span("sink.write_batch", "streaming.sink", parent=self.parent):
                self.sink.write_batch(df, batch_id)
            with self._lock:
                self.write_s[batch_id] = time.perf_counter() - t0
                self.commits[batch_id] = time.time()

        return body


def trigger_spans(tracer: Tracer, progress: list[dict], parent: int | None) -> None:
    """One span per trigger from its ``StreamingQueryProgress``, with its
    ``durationMs`` phases as child spans laid end to end in the order
    the engine runs them."""
    if not tracer.enabled:
        return
    import pandas as pd

    order = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"]
    for p in progress:
        dm = p.get("durationMs") or {}
        start = pd.Timestamp(p["timestamp"]).timestamp()
        total = dm.get("triggerExecution", 0) / 1000.0
        sid = tracer.record(
            "trigger", "streaming.pipeline", start, start + total, parent,
            {"batch_id": p["batchId"], "rows": p.get("numInputRows", 0)},
        )
        t = start
        for phase in order:
            if phase in dm:
                d = dm[phase] / 1000.0
                tracer.record(f"trigger.{phase}", "streaming.pipeline", t, t + d, sid)
                t += d


def is_no_data(p: dict) -> bool:
    return p.get("numInputRows", 0) == 0


def trigger_metrics(progress: list[dict]) -> dict[str, float]:
    """Per-trigger overheads and state-operator counters, summed or
    taken at the median over the given progress reports."""
    out: dict[str, float] = {}
    dms = [p.get("durationMs") or {} for p in progress]
    nodata = [d for p, d in zip(progress, dms) if is_no_data(p)]
    out["trigger.count"] = float(len(progress))
    out["trigger.no_data_count"] = float(len(nodata))
    out["trigger.no_data_s"] = sum(d.get("triggerExecution", 0) for d in nodata) / 1000.0
    for key, name in [
        ("triggerExecution", "execution"),
        ("addBatch", "add_batch"),
        ("queryPlanning", "query_planning"),
        ("walCommit", "wal_commit"),
        ("commitOffsets", "commit_offsets"),
        ("latestOffset", "latest_offset"),
    ]:
        vals = [d.get(key, 0) for d in dms]
        out[f"trigger.{name}_ms_p50"] = float(median(vals)) if vals else 0.0
    te = sum(d.get("triggerExecution", 0) for d in dms)
    ab = sum(d.get("addBatch", 0) for d in dms)
    out["trigger.overhead_share"] = 1.0 - ab / te if te else 0.0
    return out


def state_metrics(progress: list[dict]) -> dict[str, float]:
    """Dedup and window state operators reported separately: rows and
    memory are the peak over batches, drops and times are summed."""
    out: dict[str, float] = {}
    for kind in ("dedup", "window"):
        for f in ("rows_total", "rows_dropped_by_watermark", "commit_ms", "all_updates_ms", "memory_bytes"):
            out[f"state.{kind}.{f}"] = 0.0
    for p in progress:
        for s in p.get("stateOperators") or []:
            name = s.get("operatorName", "")
            kind = "dedup" if "dedupe" in name.lower() else "window"
            pre = f"state.{kind}."
            out[pre + "rows_total"] = max(out[pre + "rows_total"], float(s.get("numRowsTotal", 0)))
            out[pre + "rows_dropped_by_watermark"] += s.get("numRowsDroppedByWatermark", 0)
            out[pre + "commit_ms"] += s.get("commitTimeMs", 0)
            out[pre + "all_updates_ms"] += s.get("allUpdatesTimeMs", 0)
            out[pre + "memory_bytes"] = max(out[pre + "memory_bytes"], float(s.get("memoryUsedBytes", 0)))
            flush = (s.get("customMetrics") or {}).get("rocksdbCommitFlushLatency")
            if flush is not None:
                key = pre + "rocksdb_flush_ms"
                out[key] = out.get(key, 0.0) + flush
    return out


def watermark_drops(progress: list[dict]) -> int:
    return sum(
        s.get("numRowsDroppedByWatermark", 0)
        for p in progress
        for s in (p.get("stateOperators") or [])
        if "dedupe" in s.get("operatorName", "").lower()
    )


def sink_file_metrics(sink_dir: str) -> dict[str, float]:
    parts = size = dirs = 0
    for sub in ("data", "quarantine"):
        d = os.path.join(sink_dir, sub)
        if not os.path.isdir(d):
            continue
        for bd in os.listdir(d):
            if sub == "data":
                dirs += 1
            for n in os.listdir(os.path.join(d, bd)):
                if n.startswith("part-"):
                    parts += 1
                    size += os.path.getsize(os.path.join(d, bd, n))
    return {"sink.part_files": float(parts), "sink.bytes_written": float(size), "sink.batch_dirs": float(dirs)}


def read_round(spark, sink, sink_dir: str, tracer: Tracer, times: dict[str, list[float]]) -> None:
    """One consumer poll of the committed sink: committed row count,
    the newest half of the batches, the quarantine and a filtered
    query of the committed view.  Each call is forced to completion."""
    from watermark_remove_spark.serve import query_committed

    def timed(name, layer, fn):
        t0 = time.perf_counter()
        try:
            with tracer.span(name, layer):
                fn()
            dt = time.perf_counter() - t0
        except Exception as e:  # a failed read is a failed operation, not a dead run
            times.setdefault(FAILED, []).append(f"{name}: {type(e).__name__}: {e}"[:300])
            dt = math.inf
        times.setdefault(name, []).append(dt)

    batches = sorted(sink.committed_batches())
    mid = batches[len(batches) // 2] if batches else 0
    timed("sink.committed_rows", "streaming.sink", sink.committed_rows)
    timed("sink.read_incremental", "streaming.sink", lambda: sink.read_incremental(spark, mid).count())
    timed("sink.read_quarantined", "streaming.sink", lambda: sink.read_quarantined(spark).count())
    timed(
        "serve.query_committed",
        "serve",
        lambda: query_committed(spark, sink_dir, where="lang = 'en'").count(),
    )


def read_phase(spark, sink, sink_dir: str, tracer: Tracer, rounds: int = READ_ROUNDS):
    """A closed loop of consumer polls: one untimed poll that loads the
    reader's classes and file listings, then ``rounds`` timed ones.
    Returns the per-call times and the per-poll times."""
    read_round(spark, sink, sink_dir, Tracer(tracer.run_id, False), {})
    times: dict[str, list[float]] = {}
    polls = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        with tracer.span("read.round", "bench"):
            read_round(spark, sink, sink_dir, tracer, times)
        polls.append(time.perf_counter() - t0)
    return times, polls


def read_calls(times: dict[str, list]) -> tuple[int, list[str]]:
    """(attempted, failure descriptions) of a read phase."""
    return sum(len(v) for k, v in times.items() if k != FAILED), times.get(FAILED, [])


def read_metrics(times: dict[str, list[float]]) -> dict[str, float]:
    out = {}
    for name in ("sink.committed_rows", "sink.read_incremental", "sink.read_quarantined", "serve.query_committed"):
        vals = times.get(name) or [0.0]
        out[f"{name}_s_p50"] = percentile(vals, 50)
    return out
