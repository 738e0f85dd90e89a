"""The two kinds of benchmark run.

Untraced (``--trace 0``): launch the JVM, then repeat timed crawls of R
rounds, each by a new engine, until the run's seconds are spent, and
report end-to-end medians. At the benchmark's ``run_seconds`` one crawl
fills a run, so it runs on the fresh JVM, as a crawl driver's first
crawl does. Traced (``--trace 1``): one crawl of R+1 rounds run round by
round (the last one a resume) under Spark job groups, an untraced twin
crawl, then the per-layer probes. Both are a closed loop: this process
is the only caller, and each round waits for the previous commit.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback

from . import layers
from .harness import (
    JobGroup,
    PeakRss,
    SparkHarness,
    cpu_control,
    file_sizes,
    parse_control,
    steal_s,
)
from .workloads import Fixture, Workload, registry

CORES = 4
CONTROL_PAGES = 50


def make_engine(spark, wl: Workload, fx: Fixture, workdir: str):
    from crawl_spark.plans.engine import CrawlEngine, EngineConfig

    robots = spark.read.parquet(fx.robots_path) if fx.robots_path else None
    return CrawlEngine(
        spark,
        spark.read.parquet(fx.pages_dir),
        registry(),
        robots_df=robots,
        # the global cap goes through the distributed ranked_topk, the shape
        # bench.py measures
        config=EngineConfig(
            batch_cap=wl.batch_cap, max_rounds=wl.rounds, workdir=workdir, topk_serial_max=0
        ),
    )


def golden_mismatch(spark, eng, res, golden: dict) -> str | None:
    """Why the committed crawl differs from the refmodel golden, or None."""
    got = res.read_transcript(spark)
    want = golden["transcript"]
    if got != want:
        bad = next(
            (r for r in range(min(len(got), len(want))) if got[r] != want[r]),
            min(len(got), len(want)),
        )
        return "transcript differs from round %d (%d vs %d rounds)" % (bad, len(got), len(want))
    seen = {row.url_canon for row in eng.read_table("seen").select("url_canon").collect()}
    if seen != set(golden["seen"]):
        return "seen-set differs: %d extra, %d missing" % (
            len(seen - set(golden["seen"])), len(set(golden["seen"]) - seen))
    return None


def controls(spark, htmls: list) -> dict:
    return {"cpu_control_s": cpu_control(spark), "parse_control_us": parse_control(htmls)}


def timed_crawl(h: SparkHarness, wl: Workload, fx: Fixture, seeds, wd: str) -> dict:
    """One timed crawl of R rounds by a new engine on ``wd``; the committed
    result is checked against the golden."""
    spark = h.session()
    # untimed scan: page-cache state must not fake a regression
    spark.read.parquet(fx.pages_dir).write.format("noop").mode("overwrite").save()
    t0 = time.perf_counter()
    eng = make_engine(spark, wl, fx, wd)
    init_s = time.perf_counter() - t0
    stolen = steal_s()
    with PeakRss() as rss:
        t0 = time.perf_counter()
        res = eng.run(seeds, max_rounds=wl.rounds)
        crawl_s = time.perf_counter() - t0
    return {
        "init_s": init_s,
        "crawl_s": crawl_s,
        "steal_s": steal_s() - stolen,
        "pages_per_s": res.total_fetched / crawl_s,
        "urls_per_s": (len(seeds) + res.total_scheduled) / crawl_s,
        "workdir_mb": sum(file_sizes(wd).values()) / 1e6,
        "peak_rss_mb": rss.peak / 1e6,
        "mismatch": golden_mismatch(spark, eng, res, fx.golden["crawl"]),
    }


def _attempt(fn, *args):
    """Run one timed crawl; an exception counts as a failed attempt."""
    try:
        return fn(*args)
    except Exception:
        traceback.print_exc()
        return {"mismatch": "raised"}


def e2e(h, wl, fx, seeds, work, seconds, htmls) -> tuple[dict, int, int, dict]:
    """Timed crawls, each by a new engine, until ``seconds`` are spent, at
    least one; medians over them. ``setup_s`` is the JVM launch plus the
    first ``CrawlEngine.__init__`` on it."""
    runs = []
    t_end = time.perf_counter() + seconds
    while not runs or time.perf_counter() < t_end:
        wd = os.path.join(work, "crawl%d" % len(runs))
        runs.append(_attempt(timed_crawl, h, wl, fx, seeds, wd))
        shutil.rmtree(wd, ignore_errors=True)
    failed = sum(r["mismatch"] is not None for r in runs)
    timed = [r for r in runs if "crawl_s" in r]
    names = ["crawl_s", "pages_per_s", "urls_per_s", "workdir_mb", "peak_rss_mb"]
    metrics = {n: statistics.median(r[n] for r in timed) for n in names} if timed else {}
    if metrics:
        metrics["setup_s"] = h.launch_s + timed[0]["init_s"]
    diag = {"launch_s": h.launch_s, "runs": runs, **controls(h.session(), htmls)}
    return metrics, len(runs), failed, diag


def _manifest(wd: str, r: int) -> dict:
    with open(os.path.join(wd, "round_%05d" % r, "manifest.json")) as f:
        return json.load(f)


def _compactions(m: dict, r: int) -> int:
    log = m["frontier_log"]
    return (
        (log["base"] == "frontier_log/base_%05d" % r)
        + any(p.endswith("hs_compact_%05d" % r) for p in m["host_state_deltas"])
        + any(p.endswith("/compact_%05d" % r) for p in m["seen_deltas"])
    )


def traced(h, wl, fx, seeds, work, htmls) -> tuple[dict, int, int, dict]:
    """Per-layer metrics from one crawl run round by round, each round its
    own ``run(max_rounds=r+1, resume=r>0)`` under a Spark job group."""
    spark = h.session()
    out = {}
    t0 = time.perf_counter()
    eng = make_engine(spark, wl, fx, os.path.join(work, "seeded"))
    out["engine.init_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    eng.seed_frontier(seeds)
    out["engine.seed_s"] = time.perf_counter() - t0

    wd = os.path.join(work, "traced")
    eng = make_engine(spark, wl, fx, wd)
    warns0 = h.window_warns()
    rounds, before, res = [], {}, None
    for r in range(wl.rounds + 1):
        with JobGroup(spark, "round-%d" % r) as group:
            t0 = time.perf_counter()
            res = eng.run(seeds, max_rounds=r + 1, resume=r > 0)
            wall = time.perf_counter() - t0
        st = group.totals()
        sizes = file_sizes(wd)
        new = [p for p, s in sizes.items() if before.get(p) != s]
        m = _manifest(wd, r)
        log = m["frontier_log"]
        rounds.append({
            "round_s": wall,
            **st,
            "idle_share": 1 - st["exec_run_s"] / (wall * CORES),
            "mb_written": sum(sizes[p] for p in new) / 1e6,
            "files_written": len(new),
            "seen_deltas": len(m["seen_deltas"]),
            "frontier_log_len": 1 + len(log["adds"]) + len(log["dels"]),
            "compactions": _compactions(m, r),
        })
        before = sizes
        if r == 0:
            out["operators.ranked_topk_s"] = layers.ranked_topk_s(
                eng.read_table("frontier", 0), wl.batch_cap
            )
    out["engine.window_warns"] = h.window_warns() - warns0
    mismatch = golden_mismatch(spark, eng, res, fx.golden["resumed"])
    # the untraced twin, run after the traced crawl: trace_overhead_s errs
    # high, never hides overhead behind JIT warm-up
    base = _attempt(timed_crawl, h, wl, fx, seeds, os.path.join(work, "untraced"))
    failed = (mismatch is not None) + (base["mismatch"] is not None)

    mean = lambda k: statistics.fmean(x[k] for x in rounds)  # noqa: E731
    out.update({
        "engine.round_s": mean("round_s"),
        "engine.round_last_s": rounds[-1]["round_s"],
        "engine.jobs_per_round": mean("jobs"),
        "engine.stages_per_round": mean("stages"),
        "engine.tasks_per_round": mean("tasks"),
        "engine.exec_run_s": mean("exec_run_s"),
        "engine.idle_share": mean("idle_share"),
        "engine.shuffle_read_mb": mean("shuffle_read_mb"),
        "engine.shuffle_write_mb": mean("shuffle_write_mb"),
        "engine.input_mb": mean("input_mb"),
        "engine.trace_overhead_s": sum(x["round_s"] for x in rounds[: wl.rounds])
        - base.get("crawl_s", float("nan")),
        "state.mb_written_per_round": mean("mb_written"),
        "state.files_written_per_round": mean("files_written"),
        "state.seen_deltas": mean("seen_deltas"),
        "state.frontier_log_len": mean("frontier_log_len"),
        "state.compactions": sum(x["compactions"] for x in rounds),
    })
    c = res.counters
    batch = sum(len(t) for t in fx.golden["resumed"]["transcript"])
    scheduled = sum(x["scheduled"] for x in c)
    deferred = sum(x["deferred_by_politeness"] for x in c)
    out["dedup.useful_ratio"] = scheduled / max(scheduled + sum(x["deduped"] for x in c), 1)
    out["fetch.hit_ratio"] = sum(x["fetched"] for x in c) / max(batch, 1)
    out["politeness.deferred_ratio"] = deferred / max(batch + deferred, 1)

    pdf = fx.pages()
    pages = dict(zip(pdf["url"], pdf["html"]))
    urls = layers.fetched_urls(fx.golden["resumed"], pages)
    out.update(layers.kernel_costs(pages, urls))
    out.update(layers.arrow_costs(spark, fx.pages_dir, urls))
    diag = {"untraced": base, "rounds": rounds, "golden": mismatch,
            **controls(spark, htmls)}
    return out, 2, failed, diag


def measure(h, wl: Workload, fx: Fixture, work: str, seconds: float,
            trace: bool) -> tuple[dict, dict]:
    """Everything one benchmark run does after its inputs exist; returns
    the result object (correct/attempted/failed/metrics) and diagnostics."""
    seeds = fx.seeds()
    htmls = [bytes(x) for x in fx.pages()["html"][:CONTROL_PAGES]]
    if trace:
        metrics, attempted, failed, diag = traced(h, wl, fx, seeds, work, htmls)
    else:
        metrics, attempted, failed, diag = e2e(h, wl, fx, seeds, work, seconds, htmls)
    if failed:
        print("golden check failed; JVM log tail:\n" + h.jvm_log_tail(), file=sys.stderr)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}, diag
