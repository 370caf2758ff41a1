"""Expected outputs from the engine's own oracles (``oracle``,
``oracle_stream``, ``spec``), the comparisons against them, and the
workload-property report.

The oracles hash every shingle in pure Python.  The corpora draw
their tokens from a small vocabulary, so the benchmark memoises
``spec.xxhash64_str`` for its own process: the same function, the same
results, computed once per distinct shingle.  The engine's workers are
separate processes and never see the memo.
"""

from __future__ import annotations

import functools
from collections import Counter

import pandas as pd

DELAY = pd.Timedelta(minutes=10)  # streaming.pipeline.DEFAULT_WATERMARK
WINDOW = pd.Timedelta(minutes=10)  # build_window_stream's default window


def memoise_spec_hash() -> None:
    from watermark_remove_spark import hashing, spec

    if not hasattr(spec.xxhash64_str, "cache_info"):
        spec.xxhash64_str = functools.cache(hashing.xxhash64_str)


def oracle_masks(pages: pd.DataFrame) -> dict[str, frozenset[int]]:
    from watermark_remove_spark.oracle import oracle_mine_masks

    memoise_spec_hash()
    return oracle_mine_masks(pages[pages["text"].notna()])


def batches_from_files(
    frames: dict[str, pd.DataFrame], batch_files: dict[int, list[str]], n_batches: int
) -> list[pd.DataFrame]:
    """The input of each micro-batch 0..n_batches-1 as the engine saw
    it, from the checkpoint's file log; batches that read no file are
    the engine's no-data batches and come back empty."""
    empty = next(iter(frames.values())).iloc[0:0]
    out = []
    for bid in range(n_batches):
        files = sorted(batch_files.get(bid, []))
        out.append(pd.concat([frames[f] for f in files], ignore_index=True) if files else empty)
    return out


def dedup_survivor_batches(batches: list[pd.DataFrame]) -> list[pd.DataFrame]:
    """Per batch, the rows that survive watermark + dropDuplicates, each
    (url, warc_ts) once, at its first arrival (``simulate_dedup``)."""
    from watermark_remove_spark.oracle_stream import simulate_dedup

    survivors = simulate_dedup(batches, DELAY)
    keys = set(zip(survivors["url"], survivors["warc_ts"]))
    out = []
    for b in batches:
        keep = b[pd.Series([(u, t) in keys for u, t in zip(b["url"], b["warc_ts"])], index=b.index, dtype=bool)]
        keep = keep.drop_duplicates(subset=["url", "warc_ts"])
        keys -= set(zip(keep["url"], keep["warc_ts"]))
        out.append(keep)
    return out


def with_clean_text(frame: pd.DataFrame, masks) -> pd.DataFrame:
    from watermark_remove_spark.spec import clean_text, domain_of

    memoise_spec_hash()
    frame = frame.copy()
    frame["clean_text"] = [
        None if t is None else clean_text(t, masks.get(domain_of(u), frozenset()))
        for u, t in zip(frame["url"], frame["text"])
    ]
    return frame


def expected_windows(batches: list[pd.DataFrame], masks) -> list[tuple]:
    """Window rows the flagship commits, from ``simulate_tumbling_agg``
    over the run's real batch boundaries.  The input ends with a
    far-future sentinel page, so every real window is emitted; the
    sentinel's own windows never close and are left out on both
    sides (``window_rows``)."""
    from watermark_remove_spark.oracle_stream import simulate_tumbling_agg

    deduped = [with_clean_text(b, masks) for b in dedup_survivor_batches(batches)]
    return window_rows(simulate_tumbling_agg(deduped, DELAY, WINDOW))


def window_rows(df) -> list[tuple]:
    """Comparable window rows: bounds, lang, n_pages, total_chars (the
    HLL estimate n_urls_approx is not compared), without the windows
    of the sentinel page."""
    from inputs import SENTINEL_TS

    if len(df) == 0:
        return []
    return sorted(
        (pd.Timestamp(a), pd.Timestamp(b), str(c), int(d), int(e))
        for a, b, c, d, e in zip(
            df["window_start"], df["window_end"], df["lang"], df["n_pages"], df["total_chars"]
        )
        if pd.Timestamp(a) < SENTINEL_TS
    )


def same_rows(got: list[tuple], want: list[tuple]) -> tuple[bool, str]:
    """Multiset equality with a short description of the difference."""
    if sorted(got) == sorted(want):
        return True, ""
    g, w = Counter(got), Counter(want)
    extra, missing = list((g - w).elements()), list((w - g).elements())
    return False, f"{len(extra)} unexpected, {len(missing)} missing; e.g. {extra[:1]} / {missing[:1]}"


def expected_ingest(batches: list[pd.DataFrame], masks) -> tuple[list[tuple], list[tuple]]:
    """(committed, quarantined) rows of the open-loop pipeline:
    survivors of the dedup simulation, cleaned by the spec; a survivor
    whose html is null is quarantined."""
    rows = pd.concat(dedup_survivor_batches(batches), ignore_index=True)
    rows = with_clean_text(rows, masks)
    good = rows[rows["clean_text"].notna()]
    bad = rows[rows["clean_text"].isna()]
    return page_rows(good), sorted((u, pd.Timestamp(t)) for u, t in zip(bad["url"], bad["warc_ts"]))


def page_rows(df) -> list[tuple]:
    if len(df) == 0:
        return []
    return sorted(
        (u, pd.Timestamp(t), c) for u, t, c in zip(df["url"], df["warc_ts"], df["clean_text"])
    )


def workload_properties(pages: pd.DataFrame, masks) -> dict[str, float]:
    """Input properties that decide how much extraction work a page
    costs, measured with the spec on the generated input:

    - empty_mask_page_share: pages whose domain mask is empty (every
      shingle is still hashed, none can match);
    - masked_line_share: lines the spec removes;
    - decisive_shingle_share: shingles a line test must hash when it
      stops at the first shingle missing from the mask, as a share of
      the shingles the full test hashes;
    - mask_hashes_per_domain: mean mask size over non-empty masks;
    - dup_share / late_share: input rows that repeat an earlier
      (url, warc_ts), and rows whose event time is behind an earlier
      row's (the candidates the watermark may drop).
    """
    from watermark_remove_spark.spec import domain_of, shingle_hashes

    memoise_spec_hash()
    live = pages[pages["text"].notna()]
    n_pages = len(live)
    empty_pages = lines = masked = full = decisive = 0
    for url, text in zip(live["url"], live["text"]):
        mask = masks.get(domain_of(url), frozenset())
        empty_pages += not mask
        for ln in text.split("\n"):
            hs = shingle_hashes(ln)
            lines += 1
            if not hs:
                continue
            full += len(hs)
            first_miss = next((i for i, h in enumerate(hs) if h not in mask), None)
            if first_miss is None:
                masked += 1
                decisive += len(hs)
            else:
                decisive += first_miss + 1
    sizes = [len(m) for m in masks.values() if m]
    dup = pages.duplicated(subset=["url", "warc_ts"]).sum()
    late = (pages["warc_ts"] < pages["warc_ts"].cummax()).sum()
    return {
        "extract.empty_mask_page_share": empty_pages / max(1, n_pages),
        "extract.masked_line_share": masked / max(1, lines),
        "extract.decisive_shingle_share": decisive / max(1, full),
        "extract.mask_hashes_per_domain": sum(sizes) / max(1, len(sizes)),
        "input.dup_share": float(dup) / max(1, len(pages)),
        "input.late_share": float(late) / max(1, len(pages)),
    }
