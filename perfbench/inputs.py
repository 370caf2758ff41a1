"""Seeded workload inputs.  The same seed gives byte-identical input
files; the engine only ever sees these files.

Both page workloads start from the engine's own fixture generator
(``fixtures.generate_corpus``) and differ in what the benchmark adds:
the open-loop ingest input carries poison pages, long per-domain
boilerplate and duplicates that arrive inside the watermark.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

# -- flagship drain -----------------------------------------------------------
@dataclass(frozen=True)
class FlagshipShape:
    n_pages: int = 6000
    n_domains: int = 50
    micro_batches: int = 3
    # files per micro-batch: scan parallelism inside a trigger equals
    # its file count, so match the local core count
    subfiles: int = 4


def flagship_corpus(seed: int, shape: FlagshipShape):
    from watermark_remove_spark.fixtures import PagesConfig, generate_corpus

    return generate_corpus(
        PagesConfig(
            n_pages=shape.n_pages, n_domains=shape.n_domains, seed=seed, mean_gap_seconds=1.0
        )
    )


SENTINEL_TS = pd.Timestamp("2027-01-01T00:00:00")


def write_flagship_files(pages: pd.DataFrame, shape: FlagshipShape, src: str) -> list[str]:
    """The backlog as ``micro_batches`` batches of ``subfiles`` files.
    The last batch also carries one far-future sentinel page: its
    watermark closes every real window, so the drain emits all of them
    whatever the engine's trailing no-data batches do (the golden
    strategy of ``oracle_stream``).  File modification times follow
    batch order, which is the order the file source reads them in."""
    from watermark_remove_spark.sources.pages import write_batch_files

    per = -(-len(pages) // shape.micro_batches)
    batches = [pages.iloc[i * per : (i + 1) * per] for i in range(shape.micro_batches)]
    sentinel = pages.iloc[:1].assign(url="https://sentinel.example.com/p/1", warc_ts=SENTINEL_TS)
    batches[-1] = pd.concat([batches[-1], sentinel], ignore_index=True)
    paths = write_batch_files(batches, src, subfiles=shape.subfiles)
    base = 1_700_000_000
    for i, p in enumerate(paths):
        os.utime(p, (base + i, base + i))
    return paths


# -- open-loop ingest -----------------------------------------------------------
@dataclass(frozen=True)
class IngestShape:
    rate: int = 30  # offered pages per second
    tick_s: float = 0.1  # one file is due every tick
    warm_s: float = 3.0  # ticks offered before the timed window
    n_domains: int = 50
    poison_frac: float = 0.01
    dup_frac: float = 0.02
    dup_max_lag: int = 40  # a duplicate arrives at most this many pages after its original
    boiler_lines: int = 2  # extra per-domain boilerplate lines on every page
    boiler_tokens: int = 100  # tokens per boilerplate line
    # no page of the first calm_ticks ticks is shifted late: while the
    # first watermark forms, whether such a page is dropped depends on
    # how many batches the in-force watermark lags, which differs by
    # trigger (one batch with the default trigger, as observed in the
    # progress reports, two in oracle_stream's availableNow model)
    calm_ticks: int = 40

    @property
    def pages_per_tick(self) -> int:
        return max(1, round(self.rate * self.tick_s))


@dataclass
class IngestInput:
    pages: pd.DataFrame  # every offered page, in arrival order, with a "tick" column
    n_dups: int  # duplicates the generator placed (each inside the watermark)


def ingest_pages(seed: int, shape: IngestShape, n_ticks: int) -> IngestInput:
    """Pages for ``n_ticks`` ticks.  Duplicates copy a page that is
    neither poison nor shifted late, and arrive a few pages after it,
    so the watermark never drops them: dedup does.  Event time advances
    one second per page on average, so a watermark of ten minutes
    holds hundreds of pages."""
    from watermark_remove_spark.fixtures import _WORDS, PagesConfig, generate_corpus

    n_total = n_ticks * shape.pages_per_tick
    n_dups = int(n_total * shape.dup_frac)
    n_orig = n_total - n_dups
    corpus = generate_corpus(
        PagesConfig(
            n_pages=n_orig + shape.calm_ticks * shape.pages_per_tick,
            n_domains=shape.n_domains,
            seed=seed,
            mean_gap_seconds=1.0,
            dup_frac=0.0,
        )
    )
    pages = corpus.pages
    # which rows generate_corpus pushed back in event time (late)
    late = pages["warc_ts"] < pages["warc_ts"].cummax()
    calm = np.arange(len(pages)) < shape.calm_ticks * shape.pages_per_tick
    pages = pages[~(late & calm).to_numpy()].iloc[:n_orig].reset_index(drop=True)
    late = (pages["warc_ts"] < pages["warc_ts"].cummax()).to_numpy()
    rng = np.random.default_rng(seed + 7_919)

    # long per-domain boilerplate: the same lines on every page of a
    # domain, so each domain mask grows by about lines x tokens hashes
    domains = pages["url"].str.split("/", n=3).str[2]
    boiler = {}
    for i, dom in enumerate(sorted(domains.unique())):
        brng = np.random.default_rng(seed * 31 + i)
        boiler[dom] = "\n".join(
            f"nav-{dom}-{j} " + " ".join(_WORDS[t] for t in brng.integers(0, len(_WORDS), shape.boiler_tokens))
            for j in range(shape.boiler_lines)
        )
    texts = [t + "\n" + boiler[d] for t, d in zip(pages["text"], domains)]
    pages["text"] = texts
    pages["html"] = [t.encode("utf-8") for t in texts]

    poison_idx = rng.choice(n_orig, size=int(n_orig * shape.poison_frac), replace=False)
    pages.loc[poison_idx, "html"] = None
    pages.loc[poison_idx, "text"] = None
    poison = np.zeros(n_orig, dtype=bool)
    poison[poison_idx] = True

    eligible = np.flatnonzero(~poison & ~late)
    # the last dup_max_lag originals cannot host a duplicate behind them
    eligible = eligible[eligible < n_orig - shape.dup_max_lag]
    src = np.sort(rng.choice(eligible, size=n_dups, replace=False))
    lags = rng.integers(1, shape.dup_max_lag + 1, size=n_dups)
    order = np.concatenate([np.arange(n_orig, dtype=float), src + lags - 0.5])
    both = pd.concat([pages, pages.iloc[src]], ignore_index=True)
    out = both.iloc[np.argsort(order, kind="stable")].reset_index(drop=True)
    out["tick"] = np.arange(len(out)) // shape.pages_per_tick
    return IngestInput(pages=out, n_dups=n_dups)


def write_tick_files(inp: IngestInput, staging: str) -> list[str]:
    """One parquet file per tick, named so that name order is arrival
    order; returns the paths indexed by tick.  The schema is explicit:
    a tick of poison pages alone would otherwise infer a null-typed
    ``html`` column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [("url", pa.string()), ("warc_ts", pa.timestamp("us")), ("html", pa.binary()),
         ("text", pa.string()), ("lang", pa.string())]
    )
    os.makedirs(staging, exist_ok=True)
    paths = []
    for tick, chunk in inp.pages.groupby("tick", sort=True):
        p = os.path.join(staging, f"tick-{tick:06d}.parquet")
        table = pa.Table.from_pandas(chunk[schema.names], schema=schema, preserve_index=False)
        pq.write_table(table, p)
        paths.append(p)
    return paths
