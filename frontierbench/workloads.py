"""Benchmark workloads, their per-(workload, seed) input cache and the
refmodel golden every timed crawl is checked against.

The engine only ever receives what ``crawl_spark.sources.fixtures``
generates for the workload seed: ``gen_pages(seed=…)``, ``gen_robots(seed=…)``
and a seed list ``gen_seeds(seed=…)`` samples from those pages. Inputs are
generated once per (workload, seed) under ``<checkout>/.bench_cache`` and
marked done with a ``_DONE`` file, each golden with its own marker and
only once a run needs it, so generation never counts toward a measured
number.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import shutil
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".bench_cache", "frontierbench")
PAGE_FILES = 8  # parquet files per pages fixture: the scan splits across cores


@dataclass(frozen=True)
class Workload:
    name: str
    n_pages: int
    n_hosts: int
    filler_paras: int  # ~500 B of extra html per paragraph
    n_seeds: int
    batch_cap: int
    rounds: int  # R: the timed crawl is run(max_rounds=R); a traced run adds one
    robots: bool  # gen_robots rules + crawl delays for every host


# R rounds per timed crawl (a traced run resumes for one more), as many
# as let a run set up and crawl within about a minute. Every engine
# threshold is the EngineConfig default, so no log compaction fires in
# these rounds.
WORKLOADS = {
    w.name: w
    for w in (
        # extract-bound: ~24 KB pages, so the html scan, the Arrow transfer
        # into mapInPandas and the htmldom parse dominate each round
        Workload(
            name="frontier_heavy_pages",
            n_pages=1800,
            n_hosts=50,
            filler_paras=60,
            n_seeds=500,
            batch_cap=500,
            rounds=2,
            robots=False,
        ),
        # politeness-bound: robots + crawl delays on ~2k hosts defer most of
        # the frontier; ~1 KB pages, so canonicalization, the seen anti-join
        # and batch selection carry the rest of each round
        Workload(
            name="frontier_polite",
            n_pages=20000,
            n_hosts=2000,
            filler_paras=0,
            n_seeds=3000,
            batch_cap=1000,
            rounds=2,
            robots=True,
        ),
    )
}


def registry():
    """The handler set of the engine's e2e tests: a following ``page``
    handler plus a glob-matched, non-following ``lister``."""
    from crawl_spark.plans.handlers import Handler, HandlerRegistry

    reg = HandlerRegistry()
    reg.register("page", Handler(name="page", text_selector="body", link_selector="a"))
    reg.register(
        "li*",
        Handler(name="lister", text_selector="h1", link_selector="ul.nav a", follow=False),
    )
    return reg


@dataclass
class Fixture:
    """Paths of one (workload, seed) input set plus its goldens."""

    pages_dir: str
    seeds_path: str
    robots_path: str | None
    # "crawl": after the timed crawl's R rounds, "resumed": after the R+1
    # rounds of a traced run; each holds transcript: [[url_canon]] per
    # round and seen: [url_canon]
    golden: dict

    def pages(self):
        import pandas as pd

        return pd.read_parquet(self.pages_dir)

    def seeds(self):
        import pandas as pd

        return pd.read_parquet(self.seeds_path)

    def robots(self):
        import pandas as pd

        return pd.read_parquet(self.robots_path) if self.robots_path else None


def _write_parquet(df, path: str) -> None:
    # µs timestamps: Spark's parquet reader rejects TIMESTAMP(NANOS)
    df.to_parquet(path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True)


def golden_crawl(wl: Workload, pages, seeds, robots, rounds: int) -> dict:
    """``tests.refmodel.crawl`` over ``rounds`` rounds."""
    from tests import refmodel

    robots_map = None
    if robots is not None:
        robots_map = {
            r["host"]: (list(r["disallow"]), float(r["crawl_delay"]))
            for r in robots.to_dict("records")
        }
    res = refmodel.crawl(
        dict(zip(pages["url"], pages["html"])),
        seeds.to_dict("records"),
        registry(),
        robots=robots_map,
        batch_cap=wl.batch_cap,
        max_rounds=rounds,
    )
    return {"transcript": res.transcript, "seen": sorted(res.seen)}


GOLDEN_ROUNDS = {"crawl": lambda wl: wl.rounds, "resumed": lambda wl: wl.rounds + 1}


def ensure_fixture(wl: Workload, seed: int, cache: str = CACHE,
                   goldens=("crawl",)) -> Fixture:
    """Generate (once) and return the inputs of ``wl`` at ``seed`` and the
    goldens named in ``goldens``."""
    # keyed by the workload's whole shape: a changed workload regenerates
    key = hashlib.sha1(json.dumps(dataclasses.asdict(wl), sort_keys=True).encode())
    out = os.path.join(cache, "%s-%s-s%d" % (wl.name, key.hexdigest()[:10], seed))
    fx = Fixture(
        pages_dir=os.path.join(out, "pages"),
        seeds_path=os.path.join(out, "seeds.parquet"),
        robots_path=os.path.join(out, "robots.parquet") if wl.robots else None,
        golden={},
    )
    if not os.path.exists(os.path.join(out, "_DONE")):
        from crawl_spark.sources.fixtures import gen_pages, gen_robots, gen_seeds

        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(fx.pages_dir)
        pages = gen_pages(
            wl.n_pages, n_hosts=wl.n_hosts, seed=seed, filler_paras=wl.filler_paras
        )
        chunk = -(-len(pages) // PAGE_FILES)
        for i in range(0, len(pages), chunk):
            _write_parquet(
                pages.iloc[i : i + chunk],
                os.path.join(fx.pages_dir, "part-%05d.parquet" % (i // chunk)),
            )
        _write_parquet(gen_seeds(pages, n_seeds=wl.n_seeds, seed=seed), fx.seeds_path)
        if wl.robots:
            _write_parquet(gen_robots(n_hosts=wl.n_hosts, seed=seed), fx.robots_path)
        with open(os.path.join(out, "_DONE"), "w") as f:
            f.write("ok\n")
    for name in goldens:
        path = os.path.join(out, "golden_%s.json" % name)
        if not os.path.exists(path + ".done"):
            golden = golden_crawl(wl, fx.pages(), fx.seeds(), fx.robots(), GOLDEN_ROUNDS[name](wl))
            with open(path, "w") as f:
                json.dump(golden, f)
            with open(path + ".done", "w") as f:
                f.write("ok\n")
        with open(path) as f:
            fx.golden[name] = json.load(f)
    return fx
