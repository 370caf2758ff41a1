"""Cumulative noop profile of the flagship plan (traced runs only).

Each step adds one call to the previous plan and writes the result to
Spark's ``noop`` sink, so a layer's cost is the difference between two
neighbouring steps: scan; + ``join_masks``; + ``clean_pages_udf_fast``;
+ ``lang_window_agg``.  Then ``write_batch`` on the cached result of the
last step times the sink's own work without its upstream plan.
"""

from __future__ import annotations

import os
import time

import harness


def _noop_s(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def flagship_layers(spark, src: str, masks, tracer: harness.Tracer, work: str) -> dict[str, float]:
    from pyspark.sql import functions as F

    from watermark_remove_spark.operators.extract import clean_pages_udf_fast, join_masks
    from watermark_remove_spark.operators.windows import lang_window_agg
    from watermark_remove_spark.sources.pages import read_pages_batch
    from watermark_remove_spark.streaming.sink import ParquetLedgerSink

    slim = read_pages_batch(spark, src).select("url", "warc_ts", "text", "lang")
    cleaned = clean_pages_udf_fast(slim, masks)
    windows = lang_window_agg(cleaned, exact_distinct=False)
    steps = [
        ("sources.scan_s", "sources", slim),
        ("extract.join_masks_s", "operators.extract", join_masks(slim, masks)),
        ("extract.clean_s", "operators.extract", cleaned),
        ("windows.agg_s", "operators.windows", windows),
    ]
    out: dict[str, float] = {}
    prev = 0.0
    with tracer.span("profile.cumulative", "bench"):
        for name, layer, df in steps:
            with tracer.span(f"profile.{name}", layer):
                cum = _noop_s(df)
            # a step can measure faster than the one before it on a
            # noisy host; a layer never costs less than nothing
            out[name] = max(0.0, cum - prev)
            prev = max(prev, cum)

        cached = windows.cache()
        cached.count()
        sink = ParquetLedgerSink(harness.fresh_dir(os.path.join(work, "profile-sink")))
        with tracer.span("profile.sink.write_only", "streaming.sink"):
            t0 = time.perf_counter()
            sink.write_batch(cached, 0)
            out["sink.write_only_s"] = time.perf_counter() - t0
        cached.unpersist()

        counted = clean_pages_udf_fast(slim, masks, carry_cols=("url", "text"))
        lines = lambda c: F.size(F.split(F.col(c), "\n", -1))  # noqa: E731
        r = counted.agg(
            F.sum(lines("text")).alias("lin"),
            F.sum(lines("clean_text")).alias("lout"),
            F.sum(F.octet_length("text")).alias("bin"),
            F.sum(F.octet_length("clean_text")).alias("bout"),
        ).first()
    out["extract.lines_in"] = float(r["lin"])
    out["extract.lines_removed"] = float(r["lin"] - r["lout"])
    out["extract.bytes_removed"] = float(r["bin"] - r["bout"])
    return out
