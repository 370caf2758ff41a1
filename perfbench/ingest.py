"""ingest_open_loop: pages arrive on a fixed schedule whatever the
stream does, through ``build_decode_clean_stream`` (html decode and
error tagging) -> ``ParquetLedgerSink(quarantine_col="error")``, with
the default trigger, RocksDB state (``build_session(streaming=True)``)
and ``attach_lineage_listener``.

Why: micro-batches are small, so per-trigger cost (planning, WAL,
offsets, state commit, the sink commit and its fsync) decides latency
and extraction does little; the sink takes many small commits and is
then read back across many small batch directories.  A drain gain that
costs latency, or that multiplies small files, shows here and not in
flagship_drain.

The generator is a thread that renames pre-written tick files into the
source directory at their due times and never waits for the stream.
A tick's latency runs from its due time to the return of the commit of
the micro-batch that read its file; a tick never committed has
infinite latency and counts as failed, as does one slower than
``LATENCY_LIMIT_S``.  After the timed ticks, a closed loop polls the
committed sink (``streams.read_round``).
"""

from __future__ import annotations

import math
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import harness
import oracles
import streams
from inputs import IngestShape, ingest_pages, write_tick_files

SHAPE = IngestShape()
MIN_TIMED_TICKS = 100  # p90 with ten samples beyond it
LATENCY_LIMIT_S = 20.0
COMMIT_WAIT_S = 30.0
PRIME_TICKS = 20  # offered at once before the query starts: the cold first batch


def tick_latencies(due: list[float], tick_batch: list[int | None], commits: dict[int, float]) -> list[float]:
    """Per tick: commit time of the batch that read its file minus its
    due time; ``inf`` when the file was never read or its batch never
    committed."""
    out = []
    for d, b in zip(due, tick_batch):
        c = commits.get(b) if b is not None else None
        out.append(c - d if c is not None else math.inf)
    return out


def failed_ticks(lat: list[float], limit: float = LATENCY_LIMIT_S) -> int:
    return sum(1 for x in lat if not x <= limit)


def conservation(offered: int, committed: int, quarantined: int, dedup_dropped: int, late_dropped: int) -> tuple[bool, str]:
    """ROADMAP aim 4 from outside the program: every offered page is
    committed, quarantined, dropped as a duplicate or dropped as late."""
    total = committed + quarantined + dedup_dropped + late_dropped
    ok = total == offered
    return ok, (
        f"offered {offered} != committed {committed} + quarantined {quarantined} "
        f"+ dedup-dropped {dedup_dropped} + watermark-dropped {late_dropped} = {total}"
    )


def history_pages(inp):
    """Pages that masks are mined from: the decodable pages of the first
    half of the offer, standing for the pages a deployment has already
    seen.  (Poison pages stay out: the engine's miner would count them
    in a domain's page total, the oracle's cannot read them.)"""
    half = inp.pages.iloc[: len(inp.pages) // 2]
    return half[half["text"].notna()].drop(columns=["tick"])


def lineage_records(path: str) -> int:
    with open(path) as f:
        return sum(1 for _ in f)


class Generator(threading.Thread):
    """Open-loop offer: file i becomes visible at ``start + i * tick_s``."""

    def __init__(self, paths: list[str], dest: str, start: float, tick_s: float):
        super().__init__(daemon=True)
        self.paths, self.dest, self.start_at, self.tick_s = paths, dest, start, tick_s
        self.due = [start + i * tick_s for i in range(len(paths))]
        self.late_s: list[float] = []
        self.error: BaseException | None = None

    def run(self):
        try:
            for p, due in zip(self.paths, self.due):
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                os.rename(p, os.path.join(self.dest, os.path.basename(p)))
                self.late_s.append(max(0.0, time.time() - due))
        except BaseException as e:  # surfaced by the caller after join
            self.error = e


def run(seed: int, seconds: float, tracer: harness.Tracer, work: str) -> dict:
    import pandas as pd

    from watermark_remove_spark.operators.extract import mine_masks
    from watermark_remove_spark.sources.pages import read_pages_batch, write_batch_files
    from watermark_remove_spark.streaming.lineage import attach_lineage_listener
    from watermark_remove_spark.streaming.pipeline import build_decode_clean_stream, run_stream_to_sink
    from watermark_remove_spark.streaming.sink import ParquetLedgerSink

    n_warm = round(SHAPE.warm_s / SHAPE.tick_s)
    n_timed = max(MIN_TIMED_TICKS, math.ceil(seconds / SHAPE.tick_s))
    n_ticks = PRIME_TICKS + n_warm + n_timed

    def make_inputs():
        with tracer.span("inputs.generate", "bench"):
            inp = ingest_pages(seed, SHAPE, n_ticks)
            paths = write_tick_files(inp, os.path.join(work, "staging"))
            history = history_pages(inp)
            write_batch_files([history], hist_dir, subfiles=harness.bench_cpus())
            return inp, paths, history

    hist_dir = os.path.join(work, "history")
    t_setup = time.perf_counter()
    # the pure-Python input generator runs while the JVM starts
    with ThreadPoolExecutor(max_workers=1) as pool:
        pending = pool.submit(make_inputs)
        with tracer.span("session.build", "session"):
            spark = harness.start_spark(work, streaming=True, event_log=tracer.enabled)
        inp, paths, history = pending.result()
    rss = harness.RssSampler(harness.jvm_pid(spark))
    q = None
    try:
        with rss:
            collector = harness.ProgressCollector()
            spark.streams.addListener(collector.listener)
            lineage_path = os.path.join(work, "lineage.jsonl")
            attach_lineage_listener(spark, lineage_path)
            with tracer.span("extract.mine_masks", "operators.extract"):
                masks = mine_masks(read_pages_batch(spark, hist_dir)).cache()
                masks.count()

            src = harness.fresh_dir(os.path.join(work, "src"))
            for p in paths[:PRIME_TICKS]:
                os.rename(p, os.path.join(src, os.path.basename(p)))
            sink_dir = os.path.join(work, "sink")
            sink = ParquetLedgerSink(sink_dir, quarantine_col="error")
            with tracer.span("ingest.stream", "streaming.pipeline") as stream_sid:
                timed_sink = streams.TimedSink(sink, tracer, stream_sid)
                # a trigger takes every file present: the backlog is
                # whatever arrived since the previous trigger
                df = build_decode_clean_stream(spark, src, masks, files_per_trigger=100_000)
                ck = os.path.join(work, "ck")
                q = run_stream_to_sink(df, timed_sink, ck, available_now=False, query_name="ingest")
                with tracer.span("ingest.prime", "bench"):
                    while not timed_sink.commits and q.isActive:
                        time.sleep(0.05)
                gen = Generator(paths[PRIME_TICKS:], src, time.time() + 0.2, SHAPE.tick_s)
                gen.start()
                timed_start = gen.due[n_warm]
                time.sleep(max(0.0, timed_start - time.time()))
                setup_s = time.perf_counter() - t_setup

                gen.join(timeout=n_ticks * SHAPE.tick_s + 60)
                t_window_end = time.time()
                if gen.is_alive() or gen.error:
                    raise RuntimeError(f"the generator did not finish: {gen.error!r}")
                # wait until the batch holding the last file has committed
                # to the sink and to the checkpoint (its progress report
                # carries its watermark drops)
                last = os.path.basename(paths[-1])
                deadline = time.time() + COMMIT_WAIT_S
                while time.time() < deadline and q.isActive:
                    hit = [b for b, fs in harness.committed_batch_files(ck).items() if last in fs]
                    if hit and hit[0] in timed_sink.commits and harness.commit_count(ck) > hit[0]:
                        break
                    time.sleep(0.05)
                q.stop()
                # the sink commits a batch before the checkpoint does, so
                # a stop can leave one batch in the sink's ledger only
                n_batches = max(harness.commit_count(ck), max(sink.committed_batches(), default=-1) + 1)
                progress = collector.wait_for(str(q.id), harness.commit_count(ck) - 1)
                streams.trigger_spans(tracer, progress, stream_sid)

            bf = harness.committed_batch_files(ck)
            batch_of = {f: b for b, fs in bf.items() for f in fs}
            timed_paths = paths[PRIME_TICKS + n_warm :]
            tick_batch = [batch_of.get(os.path.basename(p)) for p in timed_paths]
            lat = tick_latencies(gen.due[n_warm:], tick_batch, timed_sink.commits)
            attempted = len(lat)
            failed = failed_ticks(lat)

            read_times, rounds = streams.read_phase(spark, sink, sink_dir, tracer)
            n_reads, read_failures = streams.read_calls(read_times)
            attempted += n_reads
            failed += len(read_failures)

            # -- output and conservation checks ---------------------------
            problems = list(read_failures)
            attempted += 2
            frames = {
                os.path.basename(p): g.drop(columns=["tick"]).reset_index(drop=True)
                for p, (_, g) in zip(paths, inp.pages.groupby("tick", sort=True))
            }
            omasks = oracles.oracle_masks(history)
            want_good, want_bad = oracles.expected_ingest(oracles.batches_from_files(frames, bf, n_batches), omasks)
            got_good = oracles.page_rows(sink.read_committed(spark).select("url", "warc_ts", "clean_text").toPandas())
            quar = sink.read_quarantined(spark)
            got_bad = sorted(
                (r.url, pd.Timestamp(r.warc_ts)) for r in quar.select("url", "warc_ts").collect()
            ) if quar.columns else []
            ok1, why1 = oracles.same_rows(got_good, want_good)
            ok2, why2 = oracles.same_rows(got_bad, want_bad)
            if not (ok1 and ok2):
                failed += 1
                problems.append(f"ingest rows differ from simulate_dedup + oracle_extract: {why1} {why2}")
            n_offered = sum(len(frames[f]) for fs in bf.values() for f in fs)
            ok, why = conservation(
                offered=n_offered,
                committed=sink.committed_rows(),
                quarantined=len(got_bad),
                dedup_dropped=inp.n_dups,
                late_dropped=streams.watermark_drops(progress),
            )
            if n_offered != len(inp.pages):
                ok, why = False, f"the stream read {n_offered} of {len(inp.pages)} offered pages"
            if not ok:
                failed += 1
                problems.append(f"conservation: {why}")

            last_commit = max((c for c in (timed_sink.commits.get(b) for b in tick_batch) if c), default=None)
            timed_pages = len(timed_paths) * SHAPE.pages_per_tick
            e2e = {
                "setup_s": setup_s,
                "items_per_s": timed_pages / (last_commit - gen.due[n_warm]) if last_commit else 0.0,
                "op_p50_s": harness.percentile(lat, 50),
                "op_p90_s": harness.tail_percentile(lat, 90),
                "read_p50_s": harness.median(rounds),
            }
            layer: dict[str, float] = {}
            if tracer.enabled:
                writes = list(timed_sink.write_s.values())
                layer = {
                    **streams.trigger_metrics(progress),
                    **streams.state_metrics(progress),
                    **streams.read_metrics(read_times),
                    "sink.write_batch_s_p50": harness.median(writes),
                    "sink.write_batch_s_sum": sum(writes),
                    "sink.commits": float(len(timed_sink.commits)),
                    "sink.rows_committed": float(sink.committed_rows()),
                    "sink.rows_quarantined": float(len(got_bad)),
                    **streams.sink_file_metrics(sink_dir),
                    **oracles.workload_properties(inp.pages, omasks),
                    "lineage.records": float(lineage_records(lineage_path)),
                    "lineage.bytes": float(os.path.getsize(lineage_path)),
                    "ingest.generator_late_ms_max": 1000.0 * max(gen.late_s),
                    "ingest.ticks_over_limit": float(failed_ticks(lat)),
                }
                import catalog

                qtimes, n_queries, qproblems = catalog.run_pass(spark, seed, work, tracer)
                layer.update(qtimes)
                attempted += n_queries
                failed += len(qproblems)
                problems += qproblems
        layer.update(rss.metrics())
        return {
            "e2e": e2e,
            "layer": layer,
            "attempted": attempted,
            "failed": failed,
            "problems": problems,
            "window": (timed_start, t_window_end),
            "extra": {
                "ticks_timed": len(lat),
                "batches": n_batches,
                "generator_late_ms_max": 1000.0 * max(gen.late_s),
            },
        }
    finally:
        if q is not None and q.isActive:
            q.stop()
        harness.stop_spark()
