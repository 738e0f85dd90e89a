"""Benchmark harness (driver contract): one JSON line on stdout.

Runs (a) the crawl engine — the headline workload — over a deterministic
Common-Crawl-style pages fixture sized by the scale factor, and (b) the
operator/pipeline queries from ``__spark_entry__`` against the driver
tables in ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1),
on ``local[$SPARK_GRAFT_CPUS]`` (default 32).

Output: {"metric": "headline_suite_seconds", "value": <total sec>,
"unit": "sec", "queries": {name: sec, ...}, "sf": <sf>,
"crawl": {...urls/sec...}}.  Query results are forced through the noop
sink so projections actually evaluate (count() alone would let Catalyst
prune every expression).

The scaling-efficiency evidence (same crawl at local[8] vs local[32])
lives in tools/bench_scaling.py → BENCH.md; it is too slow to run on
every bench invocation.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry  # noqa: E402

# every contract query is benched except these: the queries() dict is the
# one list of names, so a new query is benched unless it is named here
_NOT_BENCHED = frozenset({
    "glob_route", "deadline_expire", "host_skew", "pq_encode", "ivf_pq",
    "minhash_bands", "neardup_clusters", "domain_mix", "contamination",
    "sitemap", "recrawl", "anchor_topk", "latest_capture", "metrics_rollup",
    "decontaminate", "url_filter", "ivf_assign", "ivf_train", "curate",
    "signbit_buckets", "multimodal_meta", "image_hashes", "audio_features",
    "image_neardup", "video_demux",
    # the crawl is timed by run_crawl below, not as a query
    "crawl_flagship",
})
BENCH_QUERIES = [n for n in entry.queries() if n not in _NOT_BENCHED]

PAGES_PER_SF = 2_000_000  # sf0.1 -> 200k pages
FIXTURE_FILES = 32  # parquet files -> scan parallelism (a real corpus has many)


def sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.1


def ensure_pages_fixture(
    n_pages: int,
    cache_root: str = "/tmp/crawl_spark_bench",
    filler_paras: int = 0,
) -> str:
    """Deterministic pages fixture, cached across runs, written as
    FIXTURE_FILES parquet files so the scan parallelizes."""
    from crawl_spark.sources.fixtures import gen_pages

    out = os.path.join(cache_root, f"pages_{n_pages}_f{filler_paras}")
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return out
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    pages = gen_pages(
        n_pages, n_hosts=max(50, n_pages // 2000), filler_paras=filler_paras
    )
    chunk = (len(pages) + FIXTURE_FILES - 1) // FIXTURE_FILES
    for i in range(0, len(pages), chunk):
        pages.iloc[i : i + chunk].to_parquet(
            os.path.join(out, f"part-{i//chunk:05d}.parquet"),
            index=False,
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
    with open(done, "w") as f:
        f.write("ok")
    return out


def run_crawl(spark, pages_dir: str, n_pages: int, rounds: int = 3) -> dict:
    """The headline crawl: large seeded frontier, politeness path on.
    Returns throughput counters."""
    from pyspark.sql import functions as F

    from crawl_spark.plans.engine import CrawlEngine, EngineConfig
    from crawl_spark.plans.handlers import Handler, HandlerRegistry
    from crawl_spark.sources.fixtures import gen_pages  # noqa: F401 (doc link)

    reg = HandlerRegistry()
    reg.register("page", Handler(name="page", text_selector="body", link_selector="a"))
    wd = tempfile.mkdtemp(prefix="bench_crawl_")
    eng = CrawlEngine(
        spark,
        spark.read.parquet(pages_dir),
        reg,
        config=EngineConfig(
            batch_cap=max(1000, n_pages // 4),
            workdir=wd,
        ),
    )
    seed_urls = [
        r.url
        for r in spark.read.parquet(pages_dir)
        .select("url")
        .limit(n_pages // 4)
        .collect()
    ]
    seeds = [{"url": u, "callbacks": ["page"]} for u in seed_urls]
    t0 = time.time()
    res = eng.run(seeds, max_rounds=rounds)
    wall = time.time() - t0
    shutil.rmtree(wd, ignore_errors=True)
    scheduled = res.total_scheduled + len(seeds)
    fetched = res.total_fetched
    return {
        "rounds": res.rounds,
        "seconds": round(wall, 2),
        "urls_scheduled": scheduled,
        "pages_fetched": fetched,
        "urls_scheduled_per_sec": round(scheduled / wall, 1),
        "pages_fetched_per_sec": round(fetched / wall, 1),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_of(sf_dir)

    from crawl_spark.session import make_session

    spark = make_session("bench", master=f"local[{cpus}]")

    n_pages = max(2000, int(PAGES_PER_SF * sf))
    pages_dir = ensure_pages_fixture(n_pages)

    # warm-up: a small untimed crawl first. The first crawl in a fresh
    # JVM pays JIT/codegen/Arrow-path warm-up worth ~20% of its wall
    # (measured: 51 s first run vs ~40 s repeats of the identical job);
    # the steady-state number is the one that scales to a long-running
    # cluster job, so the measured run starts warm.
    run_crawl(spark, pages_dir, max(2000, n_pages // 10), rounds=1)

    # Box-speed calibration control: a fixed, CPU-bound, whole-stage-
    # codegen JVM job (no I/O, no shuffle beyond one final agg). This
    # box is a shared VM whose effective speed drifts between rounds
    # (measured 2026-08-17: the identical committed suite ran 1.4x
    # slower than the round-2 recording, uniformly across every query,
    # with zero local load — host contention). control_sec makes the
    # per-round numbers comparable: divide query seconds by
    # (control_sec / reference_control) before reading trends.
    t0 = time.time()
    spark.range(2_000_000_000, numPartitions=32).selectExpr(
        "bit_xor(xxhash64(id)) as h"
    ).collect()
    control_sec = round(time.time() - t0, 3)

    t_suite = time.time()
    crawl = run_crawl(spark, pages_dir, n_pages)

    qtimes: dict[str, float] = {"crawl": crawl["seconds"]}
    qs = entry.queries()
    for name in BENCH_QUERIES:
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        qtimes[name] = round(time.time() - t0, 3)
    total = round(time.time() - t_suite, 2)

    print(
        json.dumps(
            {
                "metric": "headline_suite_seconds",
                "value": total,
                "unit": "sec",
                "queries": qtimes,
                "sf": sf,
                "control_sec": control_sec,
                "crawl": crawl,
            }
        )
    )


if __name__ == "__main__":
    main()
