"""Tests of the benchmark's own accounting (no JVM needed):

    python3 -m pytest perfbench/test_accounting.py -q
"""

from __future__ import annotations

import math
import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
import ingest  # noqa: E402
import oracles  # noqa: E402


def test_never_committed_tick_is_infinite_and_failed():
    due = [0.0, 0.1, 0.2, 0.3]
    # tick 2's file was never read; tick 3's batch never committed
    tick_batch = [0, 0, None, 1]
    commits = {0: 1.0}
    lat = ingest.tick_latencies(due, tick_batch, commits)
    assert lat[:2] == [1.0, 0.9]
    assert lat[2] == math.inf and lat[3] == math.inf
    assert ingest.failed_ticks(lat) == 2
    assert harness.percentile(lat, 90) == math.inf


def test_tick_over_the_latency_limit_fails():
    lat = [1.0, ingest.LATENCY_LIMIT_S + 0.5]
    assert ingest.failed_ticks(lat) == 1


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert harness.samples_beyond(100, 90) == 10
    assert harness.tail_percentile(list(range(100)), 90) == 89
    with pytest.raises(ValueError):
        harness.tail_percentile(list(range(99)), 90)


def test_ingest_times_enough_ticks_for_its_tail():
    assert harness.samples_beyond(ingest.MIN_TIMED_TICKS, 90) >= harness.MIN_BEYOND


def _windows():
    t = pd.Timestamp("2026-01-01")
    w = pd.Timedelta(minutes=10)
    return pd.DataFrame(
        {
            "window_start": [t, t, t + w],
            "window_end": [t + w, t + w, t + 2 * w],
            "lang": ["en", "de", "en"],
            "n_pages": [3, 1, 2],
            "total_chars": [120, 40, 75],
        }
    )


def test_tampered_expected_windows_fail_the_check():
    want = oracles.window_rows(_windows())
    assert oracles.same_rows(oracles.window_rows(_windows()), want)[0]
    tampered = _windows()
    tampered.loc[1, "n_pages"] = 2
    ok, why = oracles.same_rows(oracles.window_rows(tampered), want)
    assert not ok and "1 unexpected, 1 missing" in why


def test_sentinel_windows_are_not_compared():
    from inputs import SENTINEL_TS

    df = _windows()
    extra = pd.DataFrame(
        {
            "window_start": [SENTINEL_TS],
            "window_end": [SENTINEL_TS + pd.Timedelta(minutes=10)],
            "lang": ["en"],
            "n_pages": [1],
            "total_chars": [9],
        }
    )
    assert oracles.window_rows(pd.concat([df, extra])) == oracles.window_rows(df)


def test_tampered_expected_pages_fail_the_check():
    rows = pd.DataFrame(
        {
            "url": ["https://a/p/1", "https://a/p/2"],
            "warc_ts": [pd.Timestamp("2026-01-01"), pd.Timestamp("2026-01-02")],
            "clean_text": ["alpha", "bravo"],
        }
    )
    want = oracles.page_rows(rows)
    tampered = rows.assign(clean_text=["alpha", "bravo charlie"])
    assert not oracles.same_rows(oracles.page_rows(tampered), want)[0]
    # a duplicate committed twice is a difference too
    assert not oracles.same_rows(oracles.page_rows(pd.concat([rows, rows.iloc[:1]])), want)[0]


def test_conservation_balances_or_fails():
    assert ingest.conservation(100, 90, 2, 3, 5)[0]
    ok, why = ingest.conservation(100, 90, 2, 3, 4)
    assert not ok and "= 99" in why


def test_self_time_subtracts_the_union_of_children():
    tr = harness.Tracer("t", enabled=True)
    root = tr.record("root", "bench", 0.0, 10.0)
    tr.record("a", "x", 1.0, 4.0, root)
    tr.record("b", "x", 3.0, 6.0, root)  # overlaps a: union is 1..6
    tr.record("c", "x", 9.0, 12.0, root)  # clipped to the parent: 9..10
    st = tr.self_times()
    assert st[root] == pytest.approx(10.0 - 5.0 - 1.0)
    assert tr.self_time_by_layer()["x"] == pytest.approx(3.0 + 3.0 + 3.0)


def test_batch_files_are_read_from_compacted_source_logs(tmp_path):
    import json

    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)

    def entry(f, b):
        return json.dumps({"path": f"file:///src/{f}", "timestamp": 1, "batchId": b})

    # batches 0-9 survive only in the compacted log; 10 has its own file
    (log / "9.compact").write_text("v1\n" + "\n".join(entry(f"t{b}.parquet", b) for b in range(10)) + "\n")
    (log / "10").write_text("v1\n" + entry("t10a.parquet", 10) + "\n" + entry("t10b.parquet", 10) + "\n")
    got = harness.committed_batch_files(str(tmp_path))
    assert sorted(got) == list(range(11))
    assert got[3] == ["t3.parquet"]
    assert got[10] == ["t10a.parquet", "t10b.parquet"]


def test_disabled_tracer_records_nothing():
    tr = harness.Tracer("t", enabled=False)
    with tr.span("s", "bench") as sid:
        assert sid is None
    assert tr.record("r", "bench", 0, 1) is None
    assert tr.spans == []
