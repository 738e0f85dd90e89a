"""Seen-log compaction read-side evidence (round-3 default:
seen_compact_min_deltas=32).

Builds a delta log of N_DELTAS flat per-round dirs via the engine's own
writer (_write_delta), then times a full seen read (count through
_read_seen) against (a) the raw N-dir log and (b) the single bucketed
dir the compaction writer (_write_seen_delta) makes of it — the file-
listing/metadata overhead a 200-round crawl would pay every round
without compaction.

Usage: python tools/bench_seen_compaction.py [n_deltas] [rows_per_delta]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench_bloom_crossover import synth  # noqa: E402


def main() -> None:
    from crawl_spark.plans.engine import CrawlEngine, EngineConfig
    from crawl_spark.plans.handlers import HandlerRegistry
    from crawl_spark.session import make_session
    from pyspark.sql import functions as F

    n_deltas = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    rows = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000
    spark = make_session(
        "seen_compact", master="local[%s]" % os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    spark.sparkContext.setLogLevel("ERROR")
    wd = os.environ.get("SEEN_COMPACT_SCRATCH", "/dev/shm/seen_compact_wd")
    if os.path.isdir(wd):
        shutil.rmtree(wd)
    os.makedirs(os.path.join(wd, "seen_deltas"))
    eng = CrawlEngine(
        spark,
        spark.createDataFrame([], "url string, html binary"),
        HandlerRegistry(),
        config=EngineConfig(workdir=wd),
    )
    rels = []
    t0 = time.time()
    for i in range(n_deltas):
        rels.append(
            eng._write_delta(
                synth(spark, rows, "d%d" % i, parts=4).select(
                    "url_canon", "url_hash", "host_hash", F.lit(i).alias("first_round")
                ),
                "delta_%05d" % i,
                "seen_deltas",
            )
        )
    t_writes = time.time() - t0

    def timed_read(rel_list):
        eng._read_seen(rel_list).count()  # warm listing caches? no: fresh DF each call
        t0 = time.time()
        n = eng._read_seen(rel_list).count()
        return n, round(time.time() - t0, 2)

    n_raw, t_raw = timed_read(rels)
    t0 = time.time()
    compact_rel = eng._write_seen_delta(eng._read_seen(rels), "compact_all")
    t_compact = time.time() - t0
    n_c, t_c = timed_read([compact_rel])
    assert n_raw == n_c == n_deltas * rows
    print(
        json.dumps(
            {
                "n_deltas": n_deltas,
                "rows_per_delta": rows,
                "total_rows": n_raw,
                "delta_writes_s": round(t_writes, 2),
                "read_raw_log_s": t_raw,
                "compact_rewrite_s": round(t_compact, 2),
                "read_compacted_s": t_c,
            }
        ),
        flush=True,
    )
    shutil.rmtree(wd)


if __name__ == "__main__":
    main()
