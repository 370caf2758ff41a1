"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload flagship_drain --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The workload's inputs are generated
from ``--seed``; the engine only sees the generated files.  Every file
the run writes stays under ``perfbench/.work`` (removed at the end) and
``perfbench/.out`` (span dumps and a log of results).

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are its per-layer metrics, taken from spans the
benchmark records around its own calls into each engine module, and
written out with their parent links to ``perfbench/.out``.  A layer
that a workload does not exercise reports 0.

End-to-end metrics mean the same on every workload:

- ``setup_s``: everything before the timed window (session start,
  input generation, mask mining, warm-up);
- ``items_per_s``: pages drained per second (flagship_drain), pages
  offered per second of ingest (ingest_open_loop);
- ``op_p50_s`` / ``op_p90_s``: latency from when input was due until
  the commit of the micro-batch that read it: per page of a flagship
  drain (the whole backlog is due at the drain's start), per ingest
  tick (due on its schedule);
- ``read_p50_s``: one consumer poll of the committed sink (four read
  calls), in a closed loop after the timed window.

Exit status: 0 when a result was printed (``correct`` says whether the
outputs matched the oracles), non-zero without a result when the run
could not be made, for example without the engine package.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def overhead(results_log: str, workload: str, sha: str, e2e: dict) -> dict[str, float]:
    """Traced minus untraced, per end-to-end metric, against the median
    of the untraced runs of this workload logged for the same code."""
    import harness

    base: dict[str, list[float]] = {}
    if os.path.exists(results_log):
        with open(results_log) as f:
            for line in f:
                r = json.loads(line)
                if r["workload"] == workload and r["git_sha"] == sha and not r["trace"]:
                    for k, v in r["e2e"].items():
                        base.setdefault(k, []).append(v)
    out = {"overhead.baseline_runs": float(len(base.get("setup_s", [])))}
    for k, v in e2e.items():
        out[f"overhead.{k}"] = v - harness.median(base[k]) if base.get(k) else 0.0
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tools"))  # selfcheck's row comparison
    sys.path.insert(0, HERE)
    try:
        import watermark_remove_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable here: {e}", file=sys.stderr)
        return 2

    import harness
    import workloads

    spec = load_spec()
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = harness.fresh_dir(os.path.join(harness.WORK_DIR, f"{args.workload}-{os.getpid()}"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    tempfile.tempdir = os.environ["TMPDIR"]
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}"
    tracer = harness.Tracer(run_id, enabled=bool(args.trace))
    fp = harness.fingerprint(args.seed, args.workload, **workloads.PROTOCOL[args.workload])
    try:
        res = workloads.WORKLOADS[args.workload](args.seed, args.seconds, tracer, work)
        if args.trace:
            res["layer"].update(harness.event_log_metrics(work, *res["window"]))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    fp["loadavg_end"] = list(os.getloadavg())

    results_log = os.path.join(harness.OUT_DIR, "results.jsonl")
    if args.trace:
        layer = dict(res["layer"])
        for s in tracer.spans:
            if s["name"] in ("session.build", "extract.mine_masks"):
                layer[s["name"] + "_s"] = s["end"] - s["start"]
        for lay, secs in tracer.self_time_by_layer().items():
            layer[f"self.{lay}_s"] = secs
        layer.update(overhead(results_log, args.workload, fp["git_sha"], res["e2e"]))
        tracer.write(os.path.join(harness.OUT_DIR, f"spans-{run_id}.jsonl"))
        declared = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = {k: layer.get(k, 0.0) for k in declared}
    else:
        declared = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = {k: res["e2e"][k] for k in declared}
    os.makedirs(harness.OUT_DIR, exist_ok=True)
    with open(results_log, "a") as f:
        f.write(
            json.dumps(
                {
                    **fp,
                    "trace": args.trace,
                    "e2e": res["e2e"],
                    "layer": res["layer"],
                    "attempted": res["attempted"],
                    "failed": res["failed"],
                    "problems": res["problems"],
                    "extra": res.get("extra", {}),
                },
                default=float,
            )
            + "\n"
        )
    for p in res["problems"]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(json.dumps({"fingerprint": fp, "extra": res.get("extra", {})}))
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0 and not res["problems"],
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                # a never-committed operation has infinite latency, which
                # JSON cannot carry: it prints as the largest double
                "metrics": {
                    k: {"value": float(v) if math.isfinite(v) else sys.float_info.max, "unit": declared[k]}
                    for k, v in values.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
