"""A pass over a short fixed list of batch catalog queries, run in the
traced ingest run to time the ``queries`` layer.

The list holds q13, q14 and q22, which share the shingle and MinHash
functions with extraction, and one cheap entry from each of three
other ``queries/block_*`` modules; no streaming entry and no entry
whose DuckDB oracle is slow (the graph family).  Each query runs
against tables generated from the seed and is compared with its
registered oracle by value, as ``tools/selfcheck.py`` does.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

import harness

QUERY_NAMES = [
    "q13_frequent_shingles",
    "q14_boiler_ratio",
    "q22_minhash_near_dupes",
    "q238_ohlc_downsample",
    "q438_jarque_bera",
    "q452_kpi_bridge",
]

_DOC_WORDS = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()


def write_tables(seed: int, out: str) -> list[str]:
    """The two tables the listed queries read, shaped like the catalog's
    test data (uniform keys, a 30-word document vocabulary with a share
    of near-duplicate documents)."""
    rng = np.random.default_rng(seed + 104_729)
    os.makedirs(out, exist_ok=True)
    n_docs, n_events = 1000, 20000

    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:  # near duplicate of an earlier document
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = "dup"
            texts.append(" ".join(toks))
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(_DOC_WORDS[j] for j in rng.integers(0, len(_DOC_WORDS), n)))
    langs = np.array(["en", "de", "zh", "es", "fr"])
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": langs[rng.choice(5, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    gaps = rng.exponential(26.0, n_events)
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(np.cumsum(gaps), unit="s").round("us"),
            "user_id": rng.integers(0, 300, n_events).astype(np.int64),
            "event_type": np.array(["view", "click", "purchase", "signup", "error"])[rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    kw = {"index": False, "coerce_timestamps": "us", "allow_truncated_timestamps": True}
    tables = {"documents": documents, "events": events}
    for name, df in tables.items():
        df.to_parquet(os.path.join(out, f"{name}.parquet"), **kw)
    return list(tables)


def run_pass(spark, seed: int, work: str, tracer: harness.Tracer) -> tuple[dict[str, float], int, list[str]]:
    """Import the catalog, run each listed query once (collecting its
    rows), then compare every result with its DuckDB oracle.  Returns
    the per-layer times, the number of queries attempted and the
    failures."""
    import duckdb
    from selfcheck import frame_to_rows

    data = os.path.join(work, "catalog")
    tables = write_tables(seed, data)
    out: dict[str, float] = {}
    with tracer.span("queries.import", "queries"):
        t0 = time.perf_counter()
        from watermark_remove_spark.queries import ORACLES, QUERIES

        out["queries.import_s"] = time.perf_counter() - t0
    results = {}
    problems = []
    with tracer.span("queries.pass", "queries"):
        for name in QUERY_NAMES:
            t0 = time.perf_counter()
            try:
                with tracer.span(f"queries.{name}", "queries"):
                    df = QUERIES[name](spark, data)
                    results[name] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as e:  # a failed query is a failed operation
                problems.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                continue
            out[f"queries.{name}_s"] = time.perf_counter() - t0
    out["queries.pass_s"] = sum(v for k, v in out.items() if k.startswith("queries.q"))
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        for name, (cols, rows) in results.items():
            res = con.execute(ORACLES[name])
            want = frame_to_rows([d[0] for d in res.description], res.fetchall())
            if frame_to_rows(cols, rows) != want:
                problems.append(f"{name}: result differs from its DuckDB oracle")
    finally:
        con.close()
    return out, len(QUERY_NAMES), problems
