"""Scaling-efficiency evidence (BASELINE.json north_rule).

The rule requires ≥0.8 throughput-scaling efficiency between clusters of
N and 4N executors. No cluster exists in this sandbox, so the pinned
stand-in (SURVEY.md §6) is: the same crawl job, same input, at N vs 4N
local cores — strong scaling:

    efficiency = throughput(4N) / (4 × throughput(N))

Measurement hygiene:
- each parallelism level runs in its OWN subprocess (cold JVM, no JIT
  carry-over);
- Spark scratch (shuffle, checkpoint blocks) on tmpfs so the single
  shared disk — which a real 4N-executor cluster would NOT share —
  doesn't cap the 4N run;
- pages are Common-Crawl-realistic ~12 KB bodies (filler_paras=20):
  with 1 KB toy pages the job is dominated by fixed per-round costs that
  no amount of parallelism removes, which measures the harness, not the
  engine;
- two core pairs are reported: (4,16) — the faithful pair on this
  32-core box, since every task slot runs a JVM thread plus an Arrow
  Python worker and local[32] would oversubscribe 64 runnable threads
  onto 32 cores, a contention a real 4N cluster does not have — and
  (8,32) for completeness.

Isolated-executor mode (SCALING_CLUSTER=1): the same pairs run under
``local-cluster[n_execs,2,mem]`` — separate executor JVMs with separate
heaps/GC/Arrow arenas, the closest this box gets to real N vs 4N
executors (4 cores = 2 executors × 2; 16 cores = 8 × 2). Each run also
reports the extracted-rows-per-partition balance from the round
manifests — the per-executor-counter evidence that no engine stage
serializes as input grows.

Usage:
    python tools/bench_scaling.py                 # orchestrate + print JSON
    SCALING_CLUSTER=1 python tools/bench_scaling.py
    python tools/bench_scaling.py --run 8 [master] # single measured run
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_PAGES = int(os.environ.get("SCALING_PAGES", "100000"))
FILLER = int(os.environ.get("SCALING_FILLER", "60"))
ROUNDS = 2
PAIRS = [
    tuple(int(x) for x in p.split(":"))
    for p in os.environ.get("SCALING_PAIRS", "4:16").split(",")
]
TMPFS = "/dev/shm/crawl_spark_scaling"


def one_run(cpus: int, master: str | None = None) -> None:
    import tempfile

    from bench import ensure_pages_fixture
    from crawl_spark.plans.engine import CrawlEngine, EngineConfig
    from crawl_spark.plans.handlers import Handler, HandlerRegistry
    from crawl_spark.session import make_session

    extra = {}
    if master and master.startswith("local-cluster"):
        # blob-heavy extraction needs ~3 GB/core of executor heap: at
        # 2-core executors, 3 GB heaps GC-thrash on the html Arrow
        # batches (measured: extract 99 s vs 30 s at 6 GB)
        extra["spark.executor.memory"] = os.environ.get("SCALING_EXEC_MEM", "6g")
    spark = make_session(
        f"scaling_{cpus}", master=master or f"local[{cpus}]", extra_conf=extra
    )
    pages_dir = ensure_pages_fixture(N_PAGES, filler_paras=FILLER)
    reg = HandlerRegistry()
    reg.register("page", Handler(name="page"))
    workdir = tempfile.mkdtemp(prefix=f"scaling_{cpus}_", dir=TMPFS if os.path.isdir("/dev/shm") else None)
    eng = CrawlEngine(
        spark,
        spark.read.parquet(pages_dir),
        reg,
        config=EngineConfig(
            batch_cap=N_PAGES // 2,
            workdir=workdir,
        ),
    )
    seeds = [
        {"url": r.url, "callbacks": ["page"]}
        for r in spark.read.parquet(pages_dir).select("url").limit(N_PAGES // 2).collect()
    ]
    t0 = time.time()
    res = eng.run(seeds, max_rounds=ROUNDS)
    wall = time.time() - t0
    scheduled = res.total_scheduled + len(seeds)
    # partition-balance evidence (north_rule per-partition counters): the
    # extraction stage's rows-per-partition from each round's manifest —
    # a serial stage would show up as one partition holding the work
    balance = []
    for m in eng.snapshots():
        parts = list(m["lineage"]["extracted_rows_per_partition"].values())
        if parts:
            balance.append(
                {
                    "round": m["round"],
                    "n_partitions": len(parts),
                    "max_over_mean": round(max(parts) / (sum(parts) / len(parts)), 2),
                }
            )
    print(
        json.dumps(
            {
                "cpus": cpus,
                "master": master or f"local[{cpus}]",
                "seconds": round(wall, 2),
                "urls_scheduled": scheduled,
                "pages_fetched": res.total_fetched,
                "urls_per_sec": round(scheduled / wall, 1),
                "extract_balance": balance,
            }
        )
    )


def control_run(cpus: int, master: str | None = None) -> None:
    """CPU-bound control: chained md5 over a range — pure JVM codegen
    compute, cache-resident, no Arrow/no parse/no blob traffic. If THIS
    scales at N vs 4N while the crawl doesn't, the crawl's gap is the
    box's shared memory bandwidth (parse is allocation-heavy), not an
    engine serial stage."""
    from pyspark.sql import functions as F

    from crawl_spark.session import make_session

    extra = {}
    if master and master.startswith("local-cluster"):
        extra["spark.executor.memory"] = os.environ.get("SCALING_EXEC_MEM", "6g")
    spark = make_session(
        f"control_{cpus}", master=master or f"local[{cpus}]", extra_conf=extra
    )
    n = int(os.environ.get("CONTROL_ROWS", "2000000"))
    df = spark.range(0, n, 1, 64)
    c = F.col("id").cast("string")
    for _ in range(64):
        c = F.md5(c)
    df.select(c.alias("h")).filter(F.col("h").startswith("00")).count()  # warm JIT
    t0 = time.time()
    hits = df.select(c.alias("h")).filter(F.col("h").startswith("0")).count()
    wall = time.time() - t0
    print(
        json.dumps(
            {
                "cpus": cpus,
                "master": master or f"local[{cpus}]",
                "seconds": round(wall, 2),
                "rows": n,
                "hits": hits,
                "urls_per_sec": round(n / wall, 1),  # rows/s (keyed for orchestrate)
            }
        )
    )


def _master_for(cpus: int) -> str | None:
    if os.environ.get("SCALING_CLUSTER"):
        # isolated executor JVMs: cpus = n_execs × 2 cores each
        mem_mb = int(os.environ.get("SCALING_EXEC_MEM_MB", "6144"))
        return "local-cluster[%d,2,%d]" % (max(cpus // 2, 1), mem_mb)
    return None


def orchestrate() -> None:
    os.makedirs(TMPFS, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(TMPFS, "spark_local"))
    cpu_levels = sorted({c for pair in PAIRS for c in pair}, reverse=True)
    results = {}
    runner = "--control" if os.environ.get("SCALING_CONTROL") else "--run"
    for cpus in cpu_levels:
        cmd = [sys.executable, os.path.abspath(__file__), runner, str(cpus)]
        m = _master_for(cpus)
        if m:
            cmd.append(m)
        out = subprocess.run(
            cmd,
            capture_output=True,
            text=True,
            env=env,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
        if not lines:
            print(out.stdout[-2000:], out.stderr[-2000:], file=sys.stderr)
            raise SystemExit(f"run at {cpus} cores produced no result")
        results[cpus] = json.loads(lines[-1])
        print(lines[-1])
    pairs = []
    for n, n4 in PAIRS:
        eff = results[n4]["urls_per_sec"] / (4 * results[n]["urls_per_sec"])
        pairs.append(
            {
                "n": n,
                "n4": n4,
                "speedup": round(results[n]["seconds"] / results[n4]["seconds"], 2),
                "efficiency": round(eff, 3),
            }
        )
    summary = {
        "n_pages": N_PAGES,
        "filler_paras": FILLER,
        "rounds": ROUNDS,
        "cluster_mode": bool(os.environ.get("SCALING_CLUSTER")),
        "runs": results,
        "pairs": pairs,
    }
    print(json.dumps(summary))
    if os.environ.get("SCALING_WRITE_MD"):  # BENCH.md is curated by hand
        write_bench_md(summary)


def write_bench_md(s: dict) -> None:
    rows = "\n".join(
        f"| local[{c}] | {r['seconds']} | {r['urls_scheduled']:,} | "
        f"{r['pages_fetched']:,} | {r['urls_per_sec']:,} |"
        for c, r in sorted(s["runs"].items())
    )
    pair_rows = "\n".join(
        f"| {p['n']} → {p['n4']} | {p['speedup']}× | **{p['efficiency']}** |"
        for p in s["pairs"]
    )
    md = f"""# BENCH — crawl throughput + scaling evidence

Headline workload: the crawl engine (politeness-path batch selection →
broadcast fetch join → Arrow-batched one-parse extraction → vectorized
canonicalization → dedup anti-join → atomic snapshot commit) over the
deterministic Common-Crawl-style pages fixture: {s['n_pages']:,} pages,
~12 KB realistic bodies (filler_paras={s['filler_paras']}), Zipf-skewed
hosts, {s['rounds']} rounds, batch cap = half the corpus.

## Two-cluster-size scaling (north_rule stand-in: N vs 4N executors)

Same job, same input; cold JVM per run (separate processes); Spark
scratch on tmpfs (a real 4N cluster brings 4N disks — the single shared
spindle must not cap the 4N run); efficiency =
throughput(4N) / (4 × throughput(N)).

| cores | wall (s) | urls scheduled | pages fetched | urls/s |
|---|---|---|---|---|
{rows}

| pair (N → 4N) | speedup | scaling efficiency |
|---|---|---|
{pair_rows}

The (4, 16) pair is the faithful stand-in on this 32-core box: every
Spark task slot runs a JVM thread **plus** an Arrow Python worker, so
local[32] schedules ~64 runnable threads on 32 cores — an
oversubscription a real 4N-executor cluster does not experience. The
(8, 32) pair is reported for completeness and under-states cluster
scaling for that reason.

Reproduce: `python tools/bench_scaling.py` (SCALING_PAGES /
SCALING_FILLER to resize). Per-round bench: `python bench.py` → one
JSON line (driver contract).
"""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH.md")
    with open(path, "w") as f:
        f.write(md)


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--run":
        one_run(int(sys.argv[2]), sys.argv[3] if len(sys.argv) > 3 else None)
    elif len(sys.argv) >= 3 and sys.argv[1] == "--control":
        control_run(int(sys.argv[2]), sys.argv[3] if len(sys.argv) > 3 else None)
    else:
        orchestrate()
