"""Fast self-test of the benchmark at a tiny scale.

    python3 frontierbench/selftest.py

Every name in ``layer_map.json`` must be a metric or workload of
BENCHMARK.json. For every workload, shrunk tenfold, one untraced and one
traced run must pass the golden check and emit every metric BENCHMARK.json
names, with its unit; then a deliberately perturbed golden must be
reported as failed crawls. All runs share one Spark driver; everything is written under
``.bench_work/selftest`` and removed afterwards. Exits non-zero on the
first broken expectation.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def tiny(wl):
    return dataclasses.replace(
        wl,
        n_pages=wl.n_pages // 10,
        n_seeds=max(wl.n_seeds // 10, 8),
        batch_cap=max(wl.batch_cap // 10, 8),
    )


def layer_map_problems() -> list[str]:
    """Names in layer_map.json that BENCHMARK.json does not declare."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(ROOT, "frontierbench", "layer_map.json")) as f:
        moves = json.load(f)["moves"]
    known = {
        "layer": {m["name"] for m in spec["per_layer"]},
        "end_to_end": {m["name"] for m in spec["end_to_end"]},
        "most_on": {w["name"] for w in spec["workloads"]},
        "least_on": {w["name"] for w in spec["workloads"]},
    }
    return [
        "layer_map.json: unknown %s %s" % (key, name)
        for m in moves
        for key, names in known.items()
        for name in ([m[key]] if isinstance(m[key], str) else m[key])
        if name not in names
    ]


def main() -> int:
    sys.path.insert(0, ROOT)
    from frontierbench.harness import SparkHarness
    from frontierbench.measure import measure
    from frontierbench.run import result_metrics
    from frontierbench.workloads import WORKLOADS, ensure_fixture

    work = os.path.join(ROOT, ".bench_work", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    h = SparkHarness(work)
    problems = layer_map_problems()
    try:
        for wl in map(tiny, WORKLOADS.values()):
            fx = ensure_fixture(
                wl, 1, cache=os.path.join(work, "cache"), goldens=("crawl", "resumed")
            )
            for trace in (False, True):
                result, _ = measure(h, wl, fx, os.path.join(work, "run"), 0, trace)
                if not result["correct"]:
                    problems.append("%s trace=%d: golden check failed" % (wl.name, trace))
                try:
                    result_metrics(result["metrics"], trace)
                except RuntimeError as e:
                    problems.append("%s trace=%d: %s" % (wl.name, trace, e))
            # perturbed golden: swap the first two urls of round 0
            batch = fx.golden["crawl"]["transcript"][0]
            batch[0], batch[1] = batch[1], batch[0]
            result, _ = measure(h, wl, fx, os.path.join(work, "run"), 0, False)
            if result["correct"] or result["failed"] != result["attempted"]:
                problems.append("%s: perturbed golden not caught" % wl.name)
    finally:
        h.close()
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print("FAIL " + p)
    print("selftest %s" % ("failed" if problems else "ok"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
