"""flagship_drain: closed drains of a fixed page backlog through the
flagship plan, ``build_clean_stream`` -> ``build_window_stream`` ->
``ParquetLedgerSink``, with ``trigger(availableNow=True)``.

Why: extraction, dedup state and window state do most of the work, in
a few large micro-batches.  Each timed drain starts a fresh query
(fresh checkpoint and sink) over the same files, so every drain does
the same work; ``--seconds`` sets how many drains are timed.  Set-up
ends with a warm-up drain of the same plan over the first
micro-batch's files.

The whole backlog is due when a drain starts, so a page's latency runs
from the drain's start to the commit of the micro-batch that read it
(the same rule as an ingest tick's).  Failures are counted per
micro-batch, plus one output check per drain.
"""

from __future__ import annotations

import fnmatch
import glob
import math
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import pandas as pd

import harness
import oracles
import streams
from inputs import FlagshipShape, flagship_corpus, write_flagship_files

SHAPE = FlagshipShape()
# The timed window is a number of drains fixed by --seconds (a drain
# takes about DRAIN_S on a 4-CPU host), never by how fast the drains
# go: a run that fits one more drain would have a different structure.
DRAIN_S = 6.0
MIN_DRAINS = 2


def drain(spark, src, masks, out, tracer, collector, name="drain"):
    """One availableNow drain into a fresh sink; returns its record."""
    from watermark_remove_spark.streaming.pipeline import (
        build_clean_stream,
        build_window_stream,
        run_stream_to_sink,
    )
    from watermark_remove_spark.streaming.sink import ParquetLedgerSink

    sink_dir, ck = harness.fresh_dir(out + "-sink"), harness.fresh_dir(out + "-ck")
    with tracer.span(name, "streaming.pipeline") as sid:
        timed = streams.TimedSink(ParquetLedgerSink(sink_dir), tracer, sid)
        cleaned = build_clean_stream(spark, src, masks, files_per_trigger=SHAPE.subfiles)
        t0 = time.time()
        q = run_stream_to_sink(build_window_stream(cleaned), timed, ck)
        q.awaitTermination()
        wall = time.time() - t0
        n_batches = harness.commit_count(ck)
        progress = collector.wait_for(str(q.id), n_batches - 1)
        streams.trigger_spans(tracer, progress, sid)
    return {
        "sink": timed.sink,
        "sink_dir": sink_dir,
        "checkpoint": ck,
        "wall": wall,
        "t0": t0,
        "commits": timed.commits,
        "write_s": timed.write_s,
        "progress": progress,
        "n_batches": n_batches,
    }


# Masks are mined from the first micro-batch's files: a history sample,
# as a deployment mines from pages it has already seen.
MINING_GLOB = "batch-00000-*.parquet"


def page_latencies(d, frames) -> list[float]:
    """Per page read by the drain: its batch's commit time minus the
    drain's start; ``inf`` for a batch that never committed."""
    out = []
    for b, fs in harness.committed_batch_files(d["checkpoint"]).items():
        c = d["commits"].get(b)
        out += [c - d["t0"] if c is not None else math.inf] * sum(len(frames[f]) for f in fs)
    return out


def check_drains(spark, drains, frames, omasks) -> tuple[int, int, list[str]]:
    """Committed window rows of every drain against
    ``simulate_tumbling_agg`` over that drain's real batch boundaries."""
    attempted = failed = 0
    problems = []
    expected: dict[tuple, list] = {}
    for d in drains:
        attempted += d["n_batches"] + 1
        bf = harness.committed_batch_files(d["checkpoint"])
        key = (d["n_batches"], tuple(sorted((b, tuple(f)) for b, f in bf.items())))
        if key not in expected:
            expected[key] = oracles.expected_windows(
                oracles.batches_from_files(frames, bf, d["n_batches"]), omasks
            )
        got = oracles.window_rows(d["sink"].read_committed(spark).toPandas())
        ok, why = oracles.same_rows(got, expected[key])
        read = sum(len(frames[f]) for fs in bf.values() for f in fs)
        if read != sum(len(f) for f in frames.values()):
            ok, why = False, f"the drain read {read} of {sum(len(f) for f in frames.values())} pages"
        if not ok:
            failed += 1
            problems.append(f"flagship window rows differ from simulate_tumbling_agg: {why}")
    return attempted, failed, problems


def run(seed: int, seconds: float, tracer: harness.Tracer, work: str) -> dict:
    from watermark_remove_spark.operators.extract import mine_masks
    from watermark_remove_spark.sources.pages import read_pages_batch

    def make_inputs():
        with tracer.span("inputs.generate", "bench"):
            corpus = flagship_corpus(seed, SHAPE)
            return corpus, write_flagship_files(corpus.pages, SHAPE, src)

    src = os.path.join(work, "src")
    t_setup = time.perf_counter()
    # the pure-Python input generator runs while the JVM starts
    with ThreadPoolExecutor(max_workers=1) as pool:
        pending = pool.submit(make_inputs)
        with tracer.span("session.build", "session"):
            spark = harness.start_spark(work, event_log=tracer.enabled)
        corpus, files = pending.result()
    rss = harness.RssSampler(harness.jvm_pid(spark))
    try:
        with rss:
            collector = harness.ProgressCollector()
            spark.streams.addListener(collector.listener)
            n_pages = len(corpus.pages)
            with tracer.span("extract.mine_masks", "operators.extract"):
                masks = mine_masks(read_pages_batch(spark, os.path.join(src, MINING_GLOB))).cache()
                masks.count()
            # warm-up: the same plan over the first micro-batch's files
            warm_src = harness.fresh_dir(os.path.join(work, "warm-src"))
            for f in glob.glob(os.path.join(src, MINING_GLOB)):
                shutil.copy2(f, warm_src)
            drain(spark, warm_src, masks, os.path.join(work, "warm"), tracer, collector, "drain.warmup")
            setup_s = time.perf_counter() - t_setup

            drains = []
            t_window = time.time()
            for i in range(max(MIN_DRAINS, math.ceil(seconds / DRAIN_S))):
                drains.append(drain(spark, src, masks, os.path.join(work, f"d{i}"), tracer, collector))
            t_window_end = time.time()

            last = drains[-1]
            read_times, rounds = streams.read_phase(spark, last["sink"], last["sink_dir"], tracer)

            frames = {os.path.basename(p): pd.read_parquet(p) for p in files}
            mined = [f for f in sorted(frames) if fnmatch.fnmatch(f, MINING_GLOB)]
            omasks = oracles.oracle_masks(pd.concat([frames[f] for f in mined]))
            attempted, failed, problems = check_drains(spark, drains, frames, omasks)
            n_reads, read_failures = streams.read_calls(read_times)
            attempted += n_reads
            failed += len(read_failures)
            problems += read_failures

            lat = [x for d in drains for x in page_latencies(d, frames)]
            e2e = {
                "setup_s": setup_s,
                "items_per_s": n_pages / harness.median([d["wall"] for d in drains]),
                "op_p50_s": harness.percentile(lat, 50),
                "op_p90_s": harness.tail_percentile(lat, 90),
                "read_p50_s": harness.median(rounds),
            }
            layer: dict[str, float] = {}
            if tracer.enabled:
                layer = traced_layers(spark, work, src, warm_src, masks, drains, read_times, corpus.pages, omasks, tracer, collector)
        layer.update(rss.metrics())
        return {
            "e2e": e2e,
            "layer": layer,
            "attempted": attempted,
            "failed": failed,
            "problems": problems,
            "extra": {"n_pages": n_pages, "drains": len(drains), "micro_batches": SHAPE.micro_batches},
            "window": (t_window, t_window_end),
        }
    finally:
        harness.stop_spark()


def traced_layers(spark, work, src, warm_src, masks, drains, read_times, pages, omasks, tracer, collector) -> dict[str, float]:
    import profile_plan

    last = drains[-1]
    progress = [p for d in drains for p in d["progress"]]
    writes = [s for d in drains for s in d["write_s"].values()]
    out = {
        **streams.trigger_metrics(progress),
        **streams.state_metrics(progress),
        **streams.read_metrics(read_times),
        "sink.write_batch_s_p50": harness.median(writes),
        "sink.write_batch_s_sum": sum(writes) / len(drains),
        "sink.commits": float(len(last["commits"])),
        "sink.rows_committed": float(last["sink"].committed_rows()),
        "sink.rows_quarantined": 0.0,
        **streams.sink_file_metrics(last["sink_dir"]),
        **oracles.workload_properties(pages, omasks),
        **profile_plan.flagship_layers(spark, src, masks, tracer, work),
    }
    # the warm-up input drained on all local cores, then on one: the
    # single-threaded baseline
    from watermark_remove_spark.operators.extract import mine_masks
    from watermark_remove_spark.sources.pages import read_pages_batch

    with tracer.span("flagship.local1", "bench"):
        d4 = drain(spark, warm_src, masks, os.path.join(work, "local4"), tracer, collector, "drain.local4")
        spark.stop()
        one = harness.start_spark(work, master="local[1]")
        one.streams.addListener(collector.listener)
        m1 = mine_masks(read_pages_batch(one, os.path.join(src, MINING_GLOB))).cache()
        m1.count()
        d1 = drain(one, warm_src, m1, os.path.join(work, "local1"), tracer, collector, "drain.local1")
    out["flagship.speedup_vs_local1"] = d1["wall"] / d4["wall"]
    return out
