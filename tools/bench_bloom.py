"""Bloom seen-set pre-filter benchmark (VERDICT round-1 item #6).

Same crawl, same input, ``use_bloom`` on vs off, in separate processes
(cold JVM each). The Bloom path's win is the anti-join shuffle it
avoids: links the per-bucket bitmaps prove unseen skip the exact
anti-join entirely; only ``bloom_exact_checked`` rows (the counter the
engine records per round) pay the shuffle against the seen set. At test
scale the exact anti-join is cheap, so wall-clock parity is the
expected result here — the reported metric is the fraction of link
traffic removed from the shuffle, which is what grows with seen-set
size at 10^9+ rows.

Usage:
    python tools/bench_bloom.py                 # orchestrate both runs
    python tools/bench_bloom.py --run 0|1       # single measured run
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_PAGES = int(os.environ.get("BLOOM_PAGES", "600000"))
ROUNDS = int(os.environ.get("BLOOM_ROUNDS", "3"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
TMPFS = "/dev/shm/crawl_spark_bloom"


def one_run(use_bloom: bool) -> None:
    import tempfile

    from bench import ensure_pages_fixture
    from crawl_spark.plans.engine import CrawlEngine, EngineConfig
    from crawl_spark.plans.handlers import Handler, HandlerRegistry
    from crawl_spark.session import make_session

    spark = make_session("bloom_%d" % use_bloom, master=f"local[{CPUS}]")
    pages_dir = ensure_pages_fixture(N_PAGES, filler_paras=0)
    reg = HandlerRegistry()
    reg.register("page", Handler(name="page"))
    workdir = tempfile.mkdtemp(
        prefix="bloom_", dir=TMPFS if os.path.isdir("/dev/shm") else None
    )
    eng = CrawlEngine(
        spark,
        spark.read.parquet(pages_dir),
        reg,
        config=EngineConfig(
            batch_cap=N_PAGES // 6,
            workdir=workdir,
            use_bloom=use_bloom,
            bloom_buckets=64,
            bloom_bits=1 << 22,
        ),
    )
    seeds = [
        {"url": r.url, "callbacks": ["page"]}
        for r in spark.read.parquet(pages_dir)
        .select("url")
        .limit(N_PAGES // 6)
        .collect()
    ]
    t0 = time.time()
    res = eng.run(seeds, max_rounds=ROUNDS)
    wall = time.time() - t0
    links_checked = sum(c.get("bloom_exact_checked", 0) for c in res.counters)
    links_total = sum(
        c["scheduled"] + c["deduped"] for c in res.counters
    )  # valid links entering the seen check
    print(
        json.dumps(
            {
                "use_bloom": use_bloom,
                "seconds": round(wall, 2),
                "urls_scheduled": res.total_scheduled + len(seeds),
                "pages_fetched": res.total_fetched,
                "links_into_seen_check": links_total,
                "links_exact_checked": links_checked if use_bloom else links_total,
            }
        )
    )


def orchestrate() -> None:
    os.makedirs(TMPFS, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(TMPFS, "spark_local"))
    results = {}
    for flag in (0, 1):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--run", str(flag)],
            capture_output=True,
            text=True,
            env=env,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
        if not lines:
            print(out.stdout[-2000:], out.stderr[-3000:], file=sys.stderr)
            raise SystemExit(f"bloom run {flag} produced no result")
        results[flag] = json.loads(lines[-1])
        print(lines[-1])
    on, off = results[1], results[0]
    print(
        json.dumps(
            {
                "n_pages": N_PAGES,
                "rounds": ROUNDS,
                "wall_exact_s": off["seconds"],
                "wall_bloom_s": on["seconds"],
                "antijoin_rows_exact": off["links_exact_checked"],
                "antijoin_rows_bloom": on["links_exact_checked"],
                "shuffle_reduction_pct": round(
                    100.0
                    * (1 - on["links_exact_checked"] / max(off["links_exact_checked"], 1)),
                    1,
                ),
            }
        )
    )


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--run":
        one_run(bool(int(sys.argv[2])))
    else:
        orchestrate()
