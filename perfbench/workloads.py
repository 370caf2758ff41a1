"""Workload registry: name -> run function, and the protocol settings
each one stamps into its fingerprint."""

from __future__ import annotations

import flagship
import ingest

WORKLOADS = {
    "flagship_drain": flagship.run,
    "ingest_open_loop": ingest.run,
}

PROTOCOL = {
    "flagship_drain": {"pages": flagship.SHAPE.n_pages, "micro_batches": flagship.SHAPE.micro_batches},
    "ingest_open_loop": {"offered_rate": ingest.SHAPE.rate, "tick_s": ingest.SHAPE.tick_s},
}
