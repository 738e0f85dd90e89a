"""Crawl-frontier benchmark: one command, one workload per invocation.

    python3 frontierbench/run.py --workload frontier_polite --seed 1 \
        --seconds 1 --trace 0

Runs the crawl engine (``crawl_spark``) through its public API on
``local[4]``, checks every timed crawl against the ``tests.refmodel``
golden, and prints as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json, ``--trace 1`` its per-layer
metrics. Diagnostics (drift controls, per-crawl numbers) go to the line
before it. Exits non-zero if a crawl fails its golden check or a metric
is missing. Run from the root of a checkout; everything it writes stays
under ``.bench_cache/`` and ``.bench_work/`` there.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def result_metrics(metrics: dict, trace: bool) -> dict:
    """``metrics`` with the units BENCHMARK.json declares; every declared
    metric of the run's kind must be present."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer" if trace else "end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in metrics]
    if missing:
        raise RuntimeError("metrics not measured: %s" % ", ".join(missing))
    return {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    from frontierbench.harness import SparkHarness
    from frontierbench.measure import measure
    from frontierbench.workloads import WORKLOADS, ensure_fixture

    wl = WORKLOADS[args.workload]
    # inputs are generated in a child process while the JVM launches (the
    # launch counts toward setup_s); the engines are built once both are done
    goldens = ("crawl", "resumed") if args.trace else ("crawl",)
    gen = multiprocessing.get_context("fork").Process(
        target=ensure_fixture, args=(wl, args.seed), kwargs={"goldens": goldens}
    )
    gen.start()
    work = os.path.join(ROOT, ".bench_work", "%s-s%d-t%d" % (wl.name, args.seed, args.trace))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    h = SparkHarness(work)
    try:
        h.session()
        gen.join()
        if gen.exitcode != 0:
            raise RuntimeError("input generation failed")
        fx = ensure_fixture(wl, args.seed, goldens=goldens)
        result, diag = measure(h, wl, fx, work, args.seconds, bool(args.trace))
    finally:
        if gen.is_alive():
            gen.terminate()
        gen.join()
        h.close()
    shutil.rmtree(work, ignore_errors=True)
    result["metrics"] = result_metrics(result["metrics"], bool(args.trace))
    print("diagnostics " + json.dumps(diag, default=str))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
