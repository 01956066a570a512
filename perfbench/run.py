#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_sf01 --seed 1 --seconds 10 --trace 0

Runs one workload from BENCHMARK.json, checks its outputs, and prints one
JSON object as the last line of stdout: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics untraced
(``--trace 0``), the per-layer metrics traced (``--trace 1``). The line
before it carries the run's detail (box stamp, sample counts, audit
summary, tracing overhead); the same detail and the spans of a traced run
are written under ``.perfbench/out``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# import the benchmark as a package from the checkout root; its own
# directory must not shadow modules named like its files (trace, stats)
sys.path[0] = ROOT

from perfbench import infra  # noqa: E402
from perfbench.trace import Spans, write_json  # noqa: E402

WORKLOADS = {"batch_sf01": "perfbench.batch", "cdc_catchup": "perfbench.cdc"}


class Context:
    """What a workload receives: its inputs and the run's recorders."""

    def __init__(self, seed: int, seconds: float, trace: bool) -> None:
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.cleanup = infra.Cleanup()
        self.spans = Spans(trace)
        self.sampler = infra.Sampler()
        self.spark_conf = infra.isolate_tmp()


def _overhead(out_dir: str, workload: str, seed: int, traced: dict) -> dict | None:
    """Traced minus untraced end-to-end values, when an untraced run of
    the same workload and seed left its result in this checkout."""
    path = os.path.join(out_dir, f"{workload}-seed{seed}-trace0.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        untraced = json.load(f)["end_to_end"]
    return {k: traced[k] - untraced[k] for k in traced if k in untraced}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    infra.require_program()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    import importlib

    workload = importlib.import_module(WORKLOADS[args.workload])
    stamp = infra.box_stamp()  # before Spark exists
    steal0 = infra.steal_seconds()
    ctx = Context(args.seed, args.seconds, bool(args.trace))
    ctx.sampler.start()
    ctx.cleanup.push("sampler", ctx.sampler.stop)
    try:
        res = workload.run(ctx)
    finally:
        ctx.cleanup.run()
    e2e = {k: v for k, (v, _) in res["metrics"].items()}

    if args.trace:
        # a layer the workload does not exercise reads 0
        wanted = spec["per_layer"]
        got = res["layers"]
    else:
        wanted = spec["end_to_end"]
        got = {k: (v, "") for k, v in e2e.items()}
    metrics = {}
    for m in wanted:
        value = got.get(m["name"], (0.0,))[0]
        metrics[m["name"]] = {"value": float(value), "unit": m["unit"]}
    missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in e2e]
    if missing and not res["failed"]:  # a failed run may have nothing to time
        raise RuntimeError(f"workload did not measure {missing}")

    out_dir = infra.state_dir("out")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    detail = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, **stamp,
              "end_to_end": e2e, "peak_rss_mb": ctx.sampler.peak_mb,
              "steal_s": infra.steal_seconds() - steal0,
              **res["detail"]}
    if args.trace:
        detail["layers"] = {k: v for k, (v, _) in res["layers"].items()}
        detail["tracing_overhead"] = _overhead(out_dir, args.workload, args.seed, e2e)
        ctx.spans.write(os.path.join(out_dir, f"{tag}-spans.jsonl"))
    write_json(os.path.join(out_dir, f"{tag}.json"), detail)
    for stale in glob.glob(os.path.join(infra.STATE, "tmp", "*.zip")):
        os.unlink(stale)  # the per-process package zip Spark ships
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
