"""spark-submit entry point for the crawl engine (+ the out-of-band
`seed` subcommand, the `crawl-schedule` CLI analog,
reference nsq/crawl-schedule/main.go:73-137).

    spark-submit --py-files dist/crawl_spark.zip tools/crawl_submit.py \
        crawl --pages /data/pages --workdir /data/crawl --rounds 10 \
        --seeds /data/seeds.parquet [--robots /data/robots.parquet] \
        [--batch-cap 100000] [--resume] [--bloom]

    spark-submit ... tools/crawl_submit.py \
        seed --staging /data/crawl/staged --url http://... --callback page

`seed` appends rows to the streaming staging table from outside the
running job; they are picked up at the next round boundary (snapshot
isolation — SURVEY.md §3.3).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="crawl_submit")
    sub = ap.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("crawl")
    c.add_argument("--pages", required=True)
    c.add_argument("--seeds", required=True)
    c.add_argument("--robots")
    c.add_argument("--workdir", required=True)
    c.add_argument("--rounds", type=int, default=10)
    c.add_argument("--batch-cap", type=int, default=100000)
    c.add_argument("--resume", action="store_true")
    c.add_argument("--bloom", action="store_true")
    c.add_argument("--staging", help="streaming seed staging dir to drain each run")

    s = sub.add_parser("seed")
    s.add_argument("--staging", required=True)
    s.add_argument("--url", required=True, nargs="+")
    s.add_argument("--callback", action="append", default=[])
    s.add_argument("--priority", type=int, default=0)
    s.add_argument("--referer")

    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from crawl_spark.session import make_session

    if args.cmd == "seed":
        # lightweight append: canonicalization happens engine-side at pickup
        import datetime as dt

        import pandas as pd

        spark = make_session("crawl_seed")
        from crawl_spark.functions.canon_udf import canon_row

        rows = []
        for u in args.url:
            c = canon_row(u, args.referer)
            if c["url_canon"] is None:
                print(f"skip invalid url: {u}", file=sys.stderr)
                continue
            rows.append(
                {
                    "url": u, "url_canon": c["url_canon"], "host": c["host"],
                    "path": c["path"], "host_hash": c["host_hash"],
                    "url_hash": c["url_hash"], "priority": args.priority,
                    "callbacks": args.callback or ["page"], "deadline": None,
                    "event_ts": dt.datetime.now(dt.timezone.utc),
                }
            )
        if not rows:
            return 1
        from crawl_spark.streaming.feed import STAGED_SCHEMA

        cols = [f.split()[0] for f in STAGED_SCHEMA.split(", ")]
        pdf = pd.DataFrame(rows)[cols]
        # write with the DECLARED schema — inference would stage int64 where
        # the drain reads int32 etc. and break the reader mid-scan.
        # Staged via tmp-then-rename under a cli- name. The drain
        # (drain_staged_seeds) accepts ANY structurally complete
        # *.parquet (footer check) regardless of origin — it does NOT
        # gate sink files on _spark_metadata. The rename still matters:
        # it keeps half-written CLI files from ever being footer-complete
        # under their final name. Duplicates from aborted streaming
        # micro-batches are collapsed by the seen check (at-least-once).
        import shutil
        import uuid

        tmp = os.path.join(args.staging, ".cli_tmp_%s" % uuid.uuid4().hex)
        spark.createDataFrame(pdf, STAGED_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        os.makedirs(args.staging, exist_ok=True)
        n_parts = 0
        for f in sorted(os.listdir(tmp)):
            if f.endswith(".parquet"):
                os.rename(
                    os.path.join(tmp, f),
                    os.path.join(
                        args.staging, "cli-%s-%d.parquet" % (uuid.uuid4().hex, n_parts)
                    ),
                )
                n_parts += 1
        shutil.rmtree(tmp, ignore_errors=True)
        print(f"staged {len(rows)} seeds")
        return 0

    spark = make_session("crawl")
    from crawl_spark.plans.engine import CrawlEngine, EngineConfig
    from crawl_spark.plans.handlers import Handler, HandlerRegistry

    reg = HandlerRegistry()
    reg.register("page", Handler(name="page"))
    robots = spark.read.parquet(args.robots) if args.robots else None
    eng = CrawlEngine(
        spark,
        spark.read.parquet(args.pages),
        reg,
        robots_df=robots,
        config=EngineConfig(
            batch_cap=args.batch_cap,
            max_rounds=args.rounds,
            workdir=args.workdir,
            use_bloom=args.bloom,
            # engine-side pickup: EVERY round boundary drains the
            # staging table (not just job start), so seeds scheduled
            # while the job runs are honored mid-crawl
            staged_seeds_dir=args.staging,
        ),
    )
    import pandas as pd

    seeds = pd.read_parquet(args.seeds)
    res = eng.run(seeds, max_rounds=args.rounds, resume=args.resume)
    print(json.dumps({"rounds": res.rounds, "fetched": res.total_fetched,
                      "scheduled": res.total_scheduled}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
