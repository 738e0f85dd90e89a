"""The crawl round loop — the engine core (SURVEY.md §3.1 Spark lifecycle).

Implements PINNED ROUND SPEC v1 (tests/refmodel.py docstring) as
DataFrame dataflow:

    frontier_0 = seeds -> canonicalize -> seq-stamp
    round r:
      live     = frontier minus expired (deadline <= r)
      allowed  = live minus robots-disallowed           (broadcast join)
      ranked   = row_number over (partition host, FIFO key) <= host budget
      batch    = exact top batch_cap by FIFO key (operators/topk.ranked_topk)
      fetched  = batch JOIN pages on url_canon           (broadcast batch)
      extract  = one-parse mapInPandas: per-handler text + links
      new      = explode links -> canonicalize -> in-round dedup
                 -> anti-join seen
      frontier log += (adds=new, dels=this round's transcript);
      seen log += a reference to that add delta;  host clock advances
      -> snapshot (parquet per round under workdir; lineage truncation;
         seen is an APPEND-ONLY delta log and the frontier is a
         MERGE-ON-READ log — base ∪ adds − dels, with expired and
         robots-denied rows dropped by predicate at read; full frontier
         materialization happens only at compaction rounds)
      -> one atomic manifest rename commits the round, then `_reap`
         deletes every log dir the committed manifest does not reference

Scale design notes (100 TB pages, 10^10-row frontier):
- The fetch join broadcasts the BATCH side (bounded by batch_cap) against
  the huge pages table — no shuffle of pages, no full sort. Catalyst
  additionally gets an IN-filter on host_hash buckets for partition
  pruning when the pages table is bucket-partitioned.
- The politeness window shuffles the frontier once on `host`; the
  host-budget filter and FIFO ranking are partition-local after that
  single shuffle. The global cap and `batch_pos` come from ranked_topk:
  a partition-local prune to <= batch_cap rows per partition, one bounded
  range shuffle, and per-partition counts prefix-summed on the driver
  into a literal offsets array the stamp reads without a join — no
  TakeOrdered merge and no single-partition window at any cap
  (batch_cap is the reference's queue-capacity backpressure bound,
  crawler.go:69).
- Each round is materialized to parquet (the snapshot/checkpoint layer),
  which truncates plan lineage — round N's plan never re-executes round
  N-1's DAG.
- All Python is Arrow-vectorized; the only per-row Python runs inside
  pandas batches (urllib canonicalization, HTML parse). The control path
  builds no frame from a Python list (empty placeholders come from
  `schemas.empty_frame`, the seeds take Arrow), so a crawl runs one
  Python worker pool: the one its UDF kernels need.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import InitVar, dataclass, field
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.canon_udf import canonicalize_udf
from ..functions.extract import extract_links as _extract_links_py
from ..functions.htmldom import parse_html, sel_text
from ..operators.topk import grouped_topk, ranked_topk
from ..schemas import empty_frame
from ..sources.fixtures import PAGES_BUCKET_COL
from .handlers import HandlerRegistry

SEQ_STRIDE = 1 << 20

FIFO_KEY = ["priority", "round_added", "seq"]

# Full Request parity (request.go:13-32): the reference's method / form
# / query / cookies / header fields ride the frontier as nullable
# columns so middlewares and the request-construction pipeline
# (plans/request.py) see them; engine columns follow.
_FRONTIER_COLS = [
    "url", "url_canon", "host", "path", "host_hash", "url_hash",
    "priority", "depth", "round_added", "seq", "callbacks", "referer",
    "deadline", "raw", "method", "form", "query", "cookies", "header",
    # politeness columns, stamped AT ADD TIME (robots is static per
    # engine run — pinned by the manifest fingerprint): `denied` is the
    # robots-disallow verdict for this row, `crawl_delay` the host's
    # delay (null = no robots row: no delay).
    # Stamping when rows enter the frontier (seeds / new links / staged
    # pickups — all bounded per round) means the round loop NEVER joins
    # the frontier against robots: at a 10^8-host robots table the old
    # per-round frontier⋈broadcast(robots) join was the last per-round
    # O(|hosts|) network cost.
    "crawl_delay", "denied",
]

_MULTIMAP = T.MapType(T.StringType(), T.ArrayType(T.StringType()))

_FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("url_canon", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("host_hash", T.IntegerType()),
        T.StructField("url_hash", T.LongType()),
        T.StructField("priority", T.IntegerType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("round_added", T.IntegerType()),
        T.StructField("seq", T.LongType()),
        T.StructField("callbacks", T.ArrayType(T.StringType())),
        T.StructField("referer", T.StringType()),
        T.StructField("deadline", T.DoubleType()),
        T.StructField("raw", T.BooleanType()),
        T.StructField("method", T.StringType()),
        T.StructField("form", _MULTIMAP),
        T.StructField("query", _MULTIMAP),
        T.StructField("cookies", _MULTIMAP),
        T.StructField("header", T.MapType(T.StringType(), T.StringType())),
        T.StructField("crawl_delay", T.DoubleType()),
        T.StructField("denied", T.BooleanType()),
    ]
)

_EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("url_canon", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("batch_pos", T.LongType()),
        T.StructField("priority", T.IntegerType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("handler", T.StringType()),
        T.StructField("out_callbacks", T.ArrayType(T.StringType())),
        T.StructField("text", T.StringType()),
        T.StructField("links", T.ArrayType(T.StringType())),
        T.StructField("link_pos0", T.LongType()),
    ]
)

_SEEN_SCHEMA = T.StructType(
    [
        T.StructField("url_canon", T.StringType()),
        T.StructField("url_hash", T.LongType()),
        T.StructField("host_hash", T.IntegerType()),
        T.StructField("first_round", T.IntegerType()),
    ]
)

# on-disk layout of the seen log: per-round entries are flat dirs (the
# frontier's own `frontier_log/base_seed` and `add_*` dirs; older
# workdirs' `seen_deltas/delta_*` dirs of the _SEEN_SCHEMA columns), read
# with _SEEN_FLAT_SCHEMA; compacted dirs (`seen_deltas/delta=compact_*`)
# are hive-partitioned by the url_hash bucket (sb=pmod(url_hash,
# seen_buckets)/), files sorted by url_hash within each bucket so parquet
# row-group min/max stats can skip. Every read yields
# _SEEN_BUCKETED_SCHEMA (flat dirs get sb computed)
_SEEN_FLAT_SCHEMA = T.StructType(
    _SEEN_SCHEMA.fields + [T.StructField("round_added", T.IntegerType())]
)
_SEEN_BUCKETED_SCHEMA = T.StructType(
    _SEEN_SCHEMA.fields + [T.StructField("sb", T.IntegerType())]
)

_HOST_STATE_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("next_time", T.DoubleType()),
    ]
)


@dataclass
class EngineConfig:
    batch_cap: int = 1000
    max_rounds: int = 50
    workdir: str = "/tmp/crawl_spark_work"
    # accepted and ignored: every batch is selected by ranked_topk. The
    # benchmark harness (frontierbench/measure.py) is the last caller
    # that still passes it; not a field, so it is neither stored nor
    # listed by dataclasses.fields().
    topk_serial_max: InitVar[int | None] = None
    # politeness skew: hosts with at least this many frontier rows are
    # routed through a distributed per-host top-k instead of the
    # groupBy(host) window (0/None disables detection; at most
    # CrawlEngine._MAX_HOT_HOSTS hosts per round take that route)
    hot_host_threshold: int | None = 2_000_000
    # Bloom seen-set pre-filter (operators/bloom.py): OFF by default at
    # test scale (the exact anti-join is cheaper below ~10^7 seen rows);
    # turn on for 10^9+ seen-sets where the anti-join shuffle dominates.
    use_bloom: bool = False
    bloom_buckets: int = 64
    bloom_bits: int = 1 << 20
    # seen-set delta-log compaction: once the log holds at least this
    # many delta dirs, the commit rewrites their union into one compact
    # dir and the manifest references only that (bounds reader file
    # count; older manifests lose seen time-travel — the documented
    # retention contract). 0 disables.
    # default 32: a 1,000-round crawl would otherwise union 1,000 delta
    # dirs on every seen read (file-listing cost grows per round);
    # compacting every ~32 rounds amortizes the O(|seen|) rewrite to
    # 1/32 of rounds while keeping reads at ≤32 dirs. 0 disables.
    # Compaction is also what writes the bucketed (sb=) layout that the
    # small-probe directory prune needs; the per-round entries are the
    # frontier's flat add dirs. It also bounds how long those add dirs
    # (and frontier_log/base_seed) stay on disk: a frontier compaction
    # drops them from the frontier log, but the reaper keeps each one
    # until the seen compaction replaces its seen entry.
    seen_compact_min_deltas: int = 32
    # seen-set hash-bucket count: every compacted seen dir is hive-
    # partitioned by sb = pmod(url_hash, seen_buckets) (SURVEY §4.2's
    # bucket(hash, B) layout) and flat per-round deltas get the same sb
    # computed on read. The membership check prunes its scan to the
    # buckets the round's links actually touch, and the Bloom bitmaps
    # share the same idea per host bucket.
    seen_buckets: int = 64
    # frontier merge-on-read log: rounds append an add delta (their
    # transcript is the del entry); once the log holds this many add
    # deltas the commit materializes the merged frontier as a new base
    # (amortizes the O(|frontier|) write to 1/k rounds). 1 = materialize
    # every round (legacy behavior).
    frontier_compact_every: int = 8
    # out-of-band seed pickup: when set, every round boundary drains the
    # streaming staging dir (streaming/feed.py) and unions not-yet-seen
    # staged urls into the frontier — the reference's NSQ-topic "picked
    # up at the next round boundary" semantics (SURVEY §3.3)
    staged_seeds_dir: str | None = None
    # bucketed pages layout (SURVEY §4.2, fetch side): when set, pages_df
    # must carry a hive-partition column PAGES_BUCKET_COL ("pb") with
    # value pmod(F.hash(url), pages_buckets) (sources.fixtures.
    # write_bucketed_pages writes this layout). Each round collects the
    # batch's ≤batch_cap distinct bucket ids (tiny job over the
    # checkpointed batch) and filters the pages scan on them BEFORE the
    # fetch joins — partition pruning skips every other bucket's files,
    # so the two per-round pages scans read O(batch buckets / B) of the
    # 100 TB table instead of all of it. None disables (flat layout).
    pages_buckets: int | None = None
    # robots dimension layout (positive int): a robots table above the
    # broadcast row cap (CrawlEngine._seen_probe_max — the one
    # autoBroadcastJoinThreshold byte budget the seen probe also uses)
    # is persisted ONCE per workdir under `robots_dim/`, hive-partitioned
    # by rb = pmod(hash(host), B) with files host-sorted within each
    # bucket — the same layout the compacted seen log uses. The stamp
    # probe (new links' hosts, bounded) then prunes its robots scan to
    # the touched buckets instead of scanning (or worse, broadcasting)
    # all 10^8 hosts. At or below the cap the whole table broadcasts at
    # stamp time and no robots_dim is written.
    robots_buckets: int = 64
    # host_state is a merge-on-read delta log (host_state_log/): each
    # round appends only the batch's host-clock updates (≤ batch hosts
    # rows); the state is the per-host MAX over the deltas (valid
    # because next_time strictly increases per host — greatest(nt, r) +
    # k·d > nt for k ≥ 1, d > 0, and robots/delays are static per run).
    # Once the log holds this many deltas, the commit compacts them into
    # one dir (same amortization contract as seen_compact_min_deltas).
    # 0 disables compaction.
    host_state_compact_min_deltas: int = 32

    def __post_init__(self, topk_serial_max):
        if not isinstance(self.robots_buckets, int) or self.robots_buckets < 1:
            raise ValueError("robots_buckets must be a positive int")


@dataclass
class CrawlResult:
    counters: list = field(default_factory=list)
    rounds: int = 0
    workdir: str = ""

    @property
    def total_fetched(self) -> int:
        return sum(c["fetched"] for c in self.counters)

    @property
    def total_scheduled(self) -> int:
        return sum(c.get("scheduled", 0) for c in self.counters)

    def read_transcript(self, spark: SparkSession) -> list[list[str]]:
        """The per-round dequeue transcript, read from the durable
        parquet `transcript` tables (the O(batch_cap)-per-round record)."""
        out = []
        for rr in range(self.rounds):
            tp = os.path.join(self.workdir, "round_%05d" % rr, "transcript")
            out.append(
                [
                    row.url_canon
                    for row in spark.read.parquet(tp).orderBy("batch_pos").collect()
                ]
            )
        return out


def _make_extract_fn(registry: HandlerRegistry):
    """mapInPandas fn: one parse per page, all matched handlers per row.

    Emits one output row per (page, matched handler) with that handler's
    extracted text and (for follow handlers) resolved links plus the
    row-global starting link position (spec step 7).
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k.name: [] for k in _EXTRACT_SCHEMA.fields}
            for i in range(len(pdf)):
                html = pdf["html"].iat[i]
                if html is None or bool(pdf["raw"].iat[i]):
                    continue
                cb = pdf["callbacks"].iat[i]  # Arrow gives numpy arrays
                callbacks = [] if cb is None else list(cb)
                handlers = registry.get_handlers(callbacks)
                if not handlers:
                    continue
                root = parse_html(html)
                pos = 0
                for h in handlers:
                    links = (
                        _extract_links_py(root, pdf["url"].iat[i], h.link_selector)
                        if h.follow
                        else []
                    )
                    out["url_canon"].append(pdf["url_canon"].iat[i])
                    out["url"].append(pdf["url"].iat[i])
                    out["batch_pos"].append(int(pdf["batch_pos"].iat[i]))
                    out["priority"].append(int(pdf["priority"].iat[i]))
                    out["depth"].append(int(pdf["depth"].iat[i]))
                    out["handler"].append(h.name)
                    out["out_callbacks"].append(
                        list(h.out_callbacks) if h.out_callbacks else callbacks
                    )
                    out["text"].append(sel_text(root, h.text_selector))
                    out["links"].append(links)
                    out["link_pos0"].append(pos)
                    pos += len(links)
            yield pd.DataFrame(out)

    return fn


class CrawlEngine:
    """PySpark-native crawler over a Common-Crawl-style pages table.

    `pages_df` must have columns (url, html); `url` is assumed canonical
    (set ``canonicalize_pages=True`` to canonicalize it with the UDF —
    one extra pass over the table).
    """

    def __init__(
        self,
        spark: SparkSession,
        pages_df: DataFrame,
        registry: HandlerRegistry,
        robots_df: DataFrame | None = None,
        config: EngineConfig | None = None,
        canonicalize_pages: bool = False,
        middlewares: list | None = None,
    ):
        self.spark = spark
        self.registry = registry
        self.config = config or EngineConfig()
        # middleware chain (crawler.go:25, run crawler.go:153-158):
        # ordered DataFrame→DataFrame transforms applied to the dequeued
        # batch BEFORE the fetch. A middleware may add/set a string
        # column `mw_error`; rows where it is non-null abort (routed to
        # the errors table, skipped by the fetch) and later middlewares
        # never see them — the reference's first-error-aborts semantics.
        self.middlewares = list(middlewares or [])
        if canonicalize_pages:
            pages_df = pages_df.withColumn(
                "url", canonicalize_udf(F.col("url"), F.lit(None).cast("string"))["url_canon"]
            )
        # only url+html ever reach the engine: column pruning at the scan
        # (+ the bucket partition column when the layout is bucketed)
        page_cols = [F.col("url").alias("page_url"), F.col("html").alias("html")]
        if self.config.pages_buckets:
            page_cols.append(F.col(PAGES_BUCKET_COL))
        self.pages = pages_df.select(*page_cols)
        self._robots_fp: dict | None = None
        if robots_df is None:
            robots_df = empty_frame(
                spark, "host string, disallow array<string>, crawl_delay double"
            )
            # what robots_fingerprint() computes over no rows (bit_xor
            # coalesces to 0), without its job
            self._robots_fp = {"n": 0, "fp": 0, "default_crawl_delay": 0.0}
        self.robots = robots_df.select("host", "disallow", "crawl_delay")
        # one row per host is a CORRECTNESS contract, not a convention:
        # the add-time robots stamp left-joins entering rows on host, so
        # a duplicate host row would duplicate frontier rows through the
        # join — inflating the committed expired/allowed counters and
        # double-scheduling that host's urls. ONE partial-aggregated job
        # at construction (count + count_distinct combine map-side —
        # a single scan even at a 10^8-host table); none without robots.
        n_rb = 0
        if self._robots_fp is None:
            row = self.robots.agg(
                F.count("*").alias("n"), F.countDistinct("host").alias("nd")
            ).collect()[0]
            n_rb = row.n
            if n_rb and n_rb != row.nd:
                raise ValueError(
                    "robots_df must have exactly one row per host "
                    "(deduplicate/merge rules upstream — "
                    "functions.robots.robots_table emits one row per host)"
                )
        # politeness fast path: with no robots rules every budget is
        # unlimited (absent crawl_delay -> 0.0) and no URL is denied — the
        # per-host window rank, robots join and host-clock update are
        # identity transforms, so skip them (saves a shuffle + 2 joins
        # per round).
        self._politeness_active = n_rb > 0  # no isEmpty job
        self._n_robots = n_rb
        self._robots_dim_path: str | None = None  # set by _ensure_robots_dim
        self._robots_small: DataFrame | None = None  # small-dim stamp cache
        self._parallelism = spark.sparkContext.defaultParallelism
        self._staged_drained: set[str] = set()
        self._bloom = None
        if self.config.use_bloom:
            from ..operators.bloom import BloomConfig

            self._bloom_cfg = BloomConfig(self.config.bloom_buckets, self.config.bloom_bits)
        else:
            self._bloom_cfg = None

    # -- seed stamping -------------------------------------------------------
    # seq = position in the seed list (refmodel spec); canonicalization
    # runs IN SPARK (the vectorized canon UDF), not a driver loop — a
    # 10^6-seed list would otherwise serialize ~1 min of driver-side URL
    # parsing ahead of an otherwise parallel job. Dedup keeps the
    # first occurrence (min seq) per canonical URL, matching the
    # sequential reference model exactly.
    def seed_frontier(self, seeds: pd.DataFrame | list) -> DataFrame:
        if isinstance(seeds, list):
            seeds = pd.DataFrame(seeds)
        n = len(seeds)
        if n == 0:
            self._seed_errors, self._seed_dups = [], 0
            self._n_seeded = 0
            return empty_frame(self.spark, _FRONTIER_SCHEMA)

        def col_or(name, default):
            if name in seeds.columns:
                return seeds[name]
            return pd.Series([default] * n)

        isnull = lambda v: v is None or (isinstance(v, float) and v != v)
        as_multimap = lambda v: (
            None if isnull(v) else {k: list(vv) for k, vv in dict(v).items()}
        )
        pdf = pd.DataFrame(
            {
                "url": col_or("url", None),
                "referer": [None if isnull(v) else v for v in col_or("referer", None)],
                "priority": [0 if isnull(v) else int(v) for v in col_or("priority", 0)],
                "seq": range(n),
                "callbacks": [[] if isnull(v) else list(v) for v in col_or("callbacks", None)],
                "deadline": [None if isnull(v) else float(v) for v in col_or("deadline", None)],
                "raw": [False if isnull(v) else bool(v) for v in col_or("raw", False)],
                "method": [None if isnull(v) else str(v) for v in col_or("method", None)],
                "form": [as_multimap(v) for v in col_or("form", None)],
                "query": [as_multimap(v) for v in col_or("query", None)],
                "cookies": [as_multimap(v) for v in col_or("cookies", None)],
                "header": [
                    None if isnull(v) else dict(v) for v in col_or("header", None)
                ],
            }
        )
        raw_df = self.spark.createDataFrame(
            pdf,
            "url string, referer string, priority int, seq long, "
            "callbacks array<string>, deadline double, raw boolean, "
            "method string, form map<string,array<string>>, "
            "query map<string,array<string>>, cookies map<string,array<string>>, "
            "header map<string,string>",
        )
        if n > 64:  # spread a big seed list before the parallel canon pass
            raw_df = raw_df.repartition(self._parallelism)
        stamped = raw_df.withColumn(
            "c", canonicalize_udf(F.col("url"), F.col("referer"))
        ).select(
            "url", "referer", "priority", "seq", "callbacks", "deadline", "raw",
            "method", "form", "query", "cookies", "header",
            F.col("c.url_canon").alias("url_canon"),
            F.col("c.host").alias("host"),
            F.col("c.path").alias("path"),
            F.col("c.url_hash").alias("url_hash"),
            F.col("c.host_hash").alias("host_hash"),
        )
        # checkpoint before filtering on the UDF output (pushdown would
        # double-evaluate the canon pass, see the links pipeline below)
        stamped = stamped.localCheckpoint(eager=True)
        # exact invalid count from ONE aggregate; the collected error list
        # is a bounded 10k SAMPLE (documented cap — don't ship 10^6
        # malformed urls to the driver), so dup accounting never drifts
        n_invalid = stamped.filter(F.col("url_canon").isNull()).count()
        self._seed_errors = [
            (row.url, 0, "invalid_url", "")
            for row in stamped.filter(F.col("url_canon").isNull())
            .select("url").limit(10000).collect()
        ]
        w = Window.partitionBy("url_canon").orderBy("seq")
        frontier = (
            stamped.filter(F.col("url_canon").isNotNull())
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .withColumn("depth", F.lit(0))
            .withColumn("round_added", F.lit(0))
        )
        # politeness stamp at add time (bounded by the seed list)
        frontier = self._stamp_robots(frontier, n).select(*_FRONTIER_COLS)
        frontier = frontier.localCheckpoint(eager=True)
        self._n_seeded = frontier.count()
        self._seed_dups = n - self._n_seeded - n_invalid
        return frontier

    # -- one round ---------------------------------------------------------
    def _round(
        self,
        r: int,
        frontier: DataFrame,
        seen: DataFrame,
        host_state: DataFrame,
        tick,
    ):
        cfg = self.config
        c = {"round": r, "fetched": 0, "deduped": 0, "deferred_by_politeness": 0,
             "expired": 0, "errors": 0, "scheduled": 0}
        errors_parts = []

        # 1. expire (deadline drop, nsq/nsqcrawl/queue.go:90-94).
        expired_cond = F.col("deadline").isNotNull() & (F.col("deadline") <= r)

        if self._politeness_active:
            # 2. robots disallow — a COLUMN predicate: the verdict (and
            # the host's crawl_delay) was stamped when the row entered
            # the frontier (robots is static per run, manifest-pinned),
            # so the round never joins the frontier against robots. The
            # old frontier⋈broadcast(robots) join shipped the whole
            # robots table to every executor every round — GBs at a
            # 10^8-host web-scale frontier.
            fr = frontier
            # denied is non-null by construction (every row is stamped
            # at add time; pre-stamping workdirs are REJECTED on resume
            # by _check_frontier_stamped when politeness is active) —
            # the coalesce is belt-and-braces for the politeness-
            # inactive legacy case where the verdict is unused anyway
            denied_cond = F.coalesce(F.col("denied"), F.lit(False))
            # ONE full-frontier counting job per round: a per-host partial
            # aggregate (map-side combine — the shuffle carries ≤ one row
            # per host, never frontier rows) feeds (a) the global
            # expired/allowed totals and (b) heavy-hitter detection. This
            # replaces the three separate full-frontier scans the round
            # used to run (expiry agg + hot-host groupBy + n_allowed
            # count). The ≤|hosts|-row result is checkpointed and reused.
            per_host = (
                fr.groupBy("host")
                .agg(
                    F.count("*").alias("__n"),
                    F.count(F.when(expired_cond, 1)).alias("__n_exp"),
                    F.count(F.when(~expired_cond & denied_cond, 1)).alias("__n_den"),
                )
                .localCheckpoint(eager=True)
            )
            host_allowed = F.col("__n") - F.col("__n_exp") - F.col("__n_den")
            tot = per_host.agg(
                F.sum("__n").alias("n"),
                F.sum("__n_exp").alias("n_expired"),
                F.sum("__n_den").alias("n_denied"),
                F.max(host_allowed).alias("max_host_allowed"),
            ).collect()[0]
            c["expired"] = int(tot.n_expired or 0)
            n_allowed = int((tot.n or 0) - (tot.n_expired or 0) - (tot.n_denied or 0))
            tick("counts_agg")

            live_r = fr.filter(~expired_cond)
            denied = live_r.filter(denied_cond)
            errors_parts.append(
                denied.select(
                    F.col("url_canon").alias("url"), F.lit(r).alias("round"),
                    F.lit("robots_denied").alias("error_class"), F.lit("").alias("message"),
                )
            )
            allowed = live_r.filter(~denied_cond)

            # 3+4. per-host budget selection. The window rank shuffles on
            # `host`, so a mega-host (hot domain) lands its ENTIRE
            # frontier slice in one task — the classic skew the
            # north_rule calls out. Mitigation with EXACT semantics:
            # detect heavy hitters from the per-host aggregate above (the
            # collect job runs only when the totals' per-host max says a
            # host is hot), route each hot host through a distributed
            # per-host top-k whose per-row budget is the same `budget`
            # column the window filters on, and keep the single-shuffle
            # window for the cold tail. The union equals the plain window
            # rank because FIFO keys are unique.
            hot_hosts: list[str] = []
            thr = cfg.hot_host_threshold
            if thr and (tot.max_host_allowed or 0) >= thr:
                hot_hosts = [
                    row.host
                    for row in per_host.select("host", host_allowed.alias("n"))
                    .filter(F.col("n") >= thr)
                    .orderBy(F.col("n").desc())
                    .limit(self._MAX_HOT_HOSTS)
                    .collect()
                ]
            cold = allowed.filter(~F.col("host").isin(hot_hosts)) if hot_hosts else allowed

            # crawl_delay comes from the frontier row itself; next_time
            # joins only the ACTIVE host_state slice (hosts with
            # next_time > r) — for nt ≤ r, greatest(nt, r) = r, identical
            # to the host being absent, so the broadcast is bounded by
            # hosts still on cooldown, never all hosts ever fetched.
            d = F.coalesce(F.col("crawl_delay"), F.lit(0.0))
            nt = F.coalesce(F.col("next_time"), F.lit(0.0))
            s_t = F.greatest(nt, F.lit(float(r)))
            budget = F.when(d <= 0, F.lit(None).cast("long")).otherwise(
                F.greatest(F.ceil((F.lit(r + 1.0) - s_t) / d), F.lit(0))
            )
            active_hs = F.broadcast(self._active_host_state(host_state, r))
            w = Window.partitionBy("host").orderBy(*FIFO_KEY)
            ranked = (
                cold.join(active_hs, "host", "left")
                .withColumn("host_budget", budget)
                .withColumn("host_rank", F.row_number().over(w))
            )
            survivors = ranked.filter(
                F.col("host_budget").isNull() | (F.col("host_rank") <= F.col("host_budget"))
            ).select(*_FRONTIER_COLS)

            if hot_hosts:
                # ONE distributed grouped top-k over ALL hot hosts: every
                # row carries its stamped crawl_delay, so the budget is
                # the window's column (unlimited = batch_cap, the global
                # cap bounds it).
                # grouped_topk's contract: the input must recompute
                # DETERMINISTICALLY (its monotonic-id rank is evaluated on
                # both sides of a self-aggregate-join). Holds here:
                # `allowed` derives from parquet scans of the committed
                # frontier log through deterministic filters/joins, and
                # FIFO keys are unique (seq stamping).
                cap = F.lit(cfg.batch_cap).cast("long")
                hot = (
                    allowed.filter(F.col("host").isin(hot_hosts))
                    .join(active_hs, "host", "left")
                    .withColumn("__k", F.least(F.coalesce(budget, cap), cap))
                )
                hot_top = grouped_topk(hot, ["host"], FIFO_KEY, "__k").select(
                    *_FRONTIER_COLS
                )
                survivors = survivors.unionByName(hot_top)
        else:
            # no politeness: counts still come from ONE aggregation job
            agg = frontier.agg(
                F.count("*").alias("n"),
                F.count(F.when(expired_cond, 1)).alias("n_expired"),
            ).collect()[0]
            c["expired"] = agg.n_expired
            tick("counts_agg")
            live = frontier.filter(~expired_cond)
            allowed = live
            survivors = live
            n_allowed = agg.n - agg.n_expired  # no extra job

        # 5. global cap + batch_pos stamp: distributed exact top-k
        # (operators/topk.py) — no TakeOrdered merge, no single-partition
        # window; the only serial data is one row-count per partition.
        # FIFO keys are unique, so the batch is the spec's exact one.
        batch = ranked_topk(
            survivors.select(*_FRONTIER_COLS), FIFO_KEY, cfg.batch_cap,
            pos_col="batch_pos", num_partitions=self._parallelism,
        )
        batch = batch.localCheckpoint(eager=True)  # reused 4×; bounded by cap
        n_batch = batch.count()
        c["deferred_by_politeness"] = n_allowed - n_batch
        tick("batch_select")

        # 6. host clock update — the round's host_state DELTA (≤ batch
        # hosts rows).
        # crawl_delay rides the batch rows (stamped at add time,
        # identical per host — first() is deterministic), so no robots
        # join; next_time joins only the broadcast ACTIVE slice. The
        # caller appends the delta to the merge-on-read host_state log —
        # the full table is never rebuilt or rewritten per round. None
        # without politeness: the caller writes no delta then.
        host_state_delta = None
        if self._politeness_active:
            fetched_per_host = batch.groupBy("host").agg(
                F.count("*").alias("k"),
                F.first("crawl_delay").alias("crawl_delay"),
            )
            host_state_delta = (
                fetched_per_host.join(
                    F.broadcast(self._active_host_state(host_state, r)),
                    "host",
                    "left",
                )
                .withColumn("d", F.coalesce(F.col("crawl_delay"), F.lit(0.0)))
                .filter(F.col("d") > 0)
                .select(
                    "host",
                    (F.greatest(F.coalesce(F.col("next_time"), F.lit(0.0)), F.lit(float(r)))
                     + F.col("k") * F.col("d")).alias("next_time"),
                )
            )

        # 6a. middleware chain on the dequeued batch (reference semantics:
        # runs inside Execute AFTER dequeue — so the transcript above
        # already includes rows a middleware aborts; they just never
        # reach the fetch). Rows flagged via `mw_error` route to the
        # errors table and drop out of the stream before later
        # middlewares, matching first-error-aborts (crawler.go:153-158).
        fetch_batch = batch
        if self.middlewares:
            for mw in self.middlewares:
                fetch_batch = mw(fetch_batch)
                if "mw_error" in fetch_batch.columns:
                    aborted = fetch_batch.filter(F.col("mw_error").isNotNull())
                    errors_parts.append(
                        aborted.select(
                            F.col("url_canon").alias("url"), F.lit(r).alias("round"),
                            F.lit("middleware").alias("error_class"),
                            F.col("mw_error").alias("message"),
                        )
                    )
                    fetch_batch = fetch_batch.filter(
                        F.col("mw_error").isNull()
                    ).drop("mw_error")
            fetch_batch = fetch_batch.localCheckpoint(eager=True)  # bounded

        # 6b. fetch = equi-join against pages, broadcasting the bounded
        # batch. A single left-outer join can't broadcast its preserved
        # side (Spark only builds the non-preserved side), which would
        # silently shuffle the 100 TB pages table — so split into
        #   hits   = pages ⋈ broadcast(batch)        (inner, build right)
        #   misses = batch ⋉̸ broadcast(hit urls)     (left-anti, build right)
        # Both joins build the ≤batch_cap side; pages is only scanned.
        fetch_cols = ["url_canon", "url", "batch_pos", "priority", "depth", "callbacks", "raw"]
        # Hit/miss accounting uses a url-ONLY join — parquet column
        # pruning means this scan never touches the html blobs. The html
        # scan happens exactly once, streamed straight into extraction
        # below (never checkpointed: materializing per-round page bodies
        # would write+read the whole fetched batch's html to disk).
        pages_src = self.pages
        if cfg.pages_buckets:
            # bucket-pruned fetch: the batch touches ≤batch_cap buckets —
            # collect their ids (tiny job over the checkpointed batch) and
            # let partition pruning skip every other bucket's files in
            # BOTH per-round pages scans (url-only hit join + html scan)
            bucket_ids = [
                row.b
                for row in fetch_batch.select(
                    F.pmod(F.hash("url_canon"), F.lit(cfg.pages_buckets)).alias("b")
                )
                .distinct()
                .collect()
            ]
            pages_src = self.pages.filter(
                F.col(PAGES_BUCKET_COL).isin(bucket_ids)
            )
        hit_urls = pages_src.select("page_url").join(
            F.broadcast(fetch_batch.select(F.col("url_canon"))),
            F.col("url_canon") == F.col("page_url"),
            "inner",
        ).select("url_canon")
        hit_urls = hit_urls.localCheckpoint(eager=True)  # tiny; reused 2×
        misses = fetch_batch.select("url_canon").join(
            F.broadcast(hit_urls), "url_canon", "left_anti"
        )
        errors_parts.append(
            misses.select(
                F.col("url_canon").alias("url"), F.lit(r).alias("round"),
                F.lit("fetch_miss").alias("error_class"), F.lit("").alias("message"),
            )
        )
        c["fetched"] = hit_urls.count()
        tick("fetch_join")

        # 7. fetch + extract + dispatch in ONE pass over the html scan
        # (broadcast join against the bounded batch, one parse per page,
        # Arrow-batched). Parallelism comes from the pages scan splits —
        # make_session caps files.maxPartitionBytes so local fixtures
        # split like a real many-file corpus does naturally.
        hits = pages_src.join(
            F.broadcast(fetch_batch.select(*fetch_cols)),
            F.col("url_canon") == F.col("page_url"),
            "inner",
        ).drop("page_url")
        extracted = hits.select(
            "url_canon", "url", "batch_pos", "priority", "depth", "callbacks", "raw", "html"
        ).mapInPandas(_make_extract_fn(self.registry), _EXTRACT_SCHEMA)
        extracted = extracted.localCheckpoint(eager=True)  # parse once, reuse
        tick("extract")

        # 8. schedule links: explode -> canonicalize -> dedup -> anti-join seen
        links = (
            extracted.filter(F.size("links") > 0)
            .select(
                F.col("url").alias("referer"), "batch_pos", "priority", "depth",
                "out_callbacks", "link_pos0",
                F.posexplode("links").alias("pos", "link"),
            )
            .withColumn("seq", F.col("batch_pos") * SEQ_STRIDE + F.col("link_pos0") + F.col("pos"))
            .withColumn("c", canonicalize_udf(F.col("link"), F.lit(None).cast("string")))
            .select(
                "referer", "priority", "depth", "out_callbacks", "link", "seq",
                F.col("c.url_canon").alias("url_canon"),
                F.col("c.host").alias("host"),
                F.col("c.path").alias("path"),
                F.col("c.url_hash").alias("url_hash"),
                F.col("c.host_hash").alias("host_hash"),
            )
        )
        # Materialize BEFORE filtering out malformed links: a filter on a
        # UDF-derived column gets predicate-pushed below the projection,
        # turning one ArrowEvalPython into two (the whole canon pass runs
        # twice — measured 2× wall). The checkpoint also lets the
        # dedup/anti-join and the `deduped` counter share one UDF pass.
        # Bounded by batch_cap × links/page.
        links = links.localCheckpoint(eager=True)
        links = links.filter(F.col("url_canon").isNotNull())
        tick("links_canon")
        # in-round dedup: first occurrence in sequential order wins (spec:
        # links are scheduled in (batch_pos, position) = seq order)
        w_dup = Window.partitionBy("url_canon").orderBy("seq")
        deduped_links = links.withColumn("rn", F.row_number().over(w_dup)).filter(F.col("rn") == 1)
        n_valid = links.count()
        if self._bloom is not None:
            # Bloom pre-filter (operators/bloom.py): definite-new links
            # skip the seen anti-join; possible-seen links get the exact
            # check, so the union equals the plain anti-join exactly.
            from ..operators.bloom import split_by_bloom

            tagged = split_by_bloom(
                deduped_links.drop("rn"), self._bloom, self._bloom_cfg, self.spark
            ).localCheckpoint(eager=True)  # consumed by both branches
            definite_new = tagged.filter(~F.col("possibly_seen")).drop("possibly_seen")
            candidates = tagged.filter(F.col("possibly_seen")).drop("possibly_seen")
            # shuffle-reduction evidence: only these rows pay the exact
            # membership check against the seen set (cheap count:
            # checkpointed)
            c["bloom_exact_checked"] = candidates.count()
            unseen = definite_new.unionByName(
                self._links_minus_seen(candidates, seen, c["bloom_exact_checked"])
            )
        else:
            unseen = self._links_minus_seen(deduped_links, seen, n_valid)
        new_rows = (
            unseen
            .select(
                F.col("link").alias("url"),
                "url_canon", "host", "path", "host_hash", "url_hash",
                F.col("priority"),
                (F.col("depth") + 1).alias("depth"),
                F.lit(r + 1).alias("round_added"),
                F.col("seq"),
                F.col("out_callbacks").alias("callbacks"),
                F.col("referer"),
                F.lit(None).cast("double").alias("deadline"),
                F.lit(False).alias("raw"),
                # links are plain GETs: Request extras default to null
                F.lit(None).cast("string").alias("method"),
                F.lit(None).cast(_MULTIMAP).alias("form"),
                F.lit(None).cast(_MULTIMAP).alias("query"),
                F.lit(None).cast(_MULTIMAP).alias("cookies"),
                F.lit(None).cast("map<string,string>").alias("header"),
            )
        )
        # politeness stamp at add time: one bucket-pruned robots probe
        # over the round's NEW links (bounded) replaces the old
        # full-frontier robots broadcast join in every later round.
        # hosts_src=links: the strategy probe's host set comes from the
        # CHECKPOINTED pre-anti-join frame (a superset of new_rows'
        # hosts), so the seen anti-join is never evaluated twice.
        new_rows = self._stamp_robots(
            new_rows, n_valid, hosts_src=links
        ).select(*_FRONTIER_COLS)
        # new_rows feeds the add write, the scheduled count and the Bloom
        # update — materialize once so the dedup window + seen anti-join
        # don't run per consumer. Bounded by the links of one batch.
        new_rows = new_rows.localCheckpoint(eager=True)
        tick("dedup_antijoin")

        # MERGE-ON-READ frontier semantics: the round emits only DELTAS —
        # adds = this round's new links (bounded by the batch's link
        # fan-out); the dels are the dequeued batch's urls, which the
        # round's `transcript` table below already holds (bounded by
        # batch_cap) — the manifest lists that table as the del entry,
        # so the urls are written once. Deferred rows are never
        # rewritten: they simply stay in the log and re-rank next round.
        # Expired and robots-denied rows need no delete lists at all —
        # deadlines and robots are static, so `_read_frontier` drops them
        # by predicate. Exactness of url-list deletes rests on the
        # seen-set invariant: a url that ever entered the frontier is in
        # `seen`, so it can never be re-added — dels and adds never
        # collide. The invariant holds by construction: the caller lists
        # the add dir it writes from these rows as the seen log's entry
        # for this round (APPEND-ONLY seen: the set is the union of its
        # entries, never rewritten except by compaction).
        frontier_adds = new_rows
        # union EVERY error part (robots + each middleware's aborts +
        # fetch misses) — middlewares append parts between the first and
        # last, so a pairwise union would silently drop them
        import functools

        errors_df = functools.reduce(lambda a, b: a.unionByName(b), errors_parts)
        # the durable transcript record (url_canon, batch_pos): the
        # O(batch_cap)-per-round source of truth, and the frontier log's
        # del entry for this round
        transcript_df = batch.select("url_canon", "batch_pos")
        return (frontier_adds, host_state_delta,
                errors_df, extracted, transcript_df, c, n_valid)

    @staticmethod
    def _make_tick(phase_s: dict):
        """``tick(label)`` adds the wall seconds since the previous tick
        (or since this call) to ``phase_s[label]`` — the round's
        per-phase record, committed as the manifest's ``phase_s``."""
        import time as _t

        last = [_t.perf_counter()]

        def tick(label: str) -> None:
            now = _t.perf_counter()
            phase_s[label] = round(phase_s.get(label, 0.0) + now - last[0], 4)
            last[0] = now

        return tick

    def robots_fingerprint(self) -> dict:
        """Order-independent fingerprint of the politeness inputs the
        merge-on-read frontier's predicate-deletes depend on. Stored in
        every manifest and asserted on resume/read: a workdir replayed
        under DIFFERENT robots rules (or default delay) would silently
        reconstruct a different frontier than was committed — fail loudly
        instead. Computed in Spark (bit_xor of per-row xxhash64), never
        collected: robots is a per-host dim table that can be huge. An
        engine built without ``robots_df`` holds the no-rows value from
        construction and runs no job."""
        if self._robots_fp is None:
            row = self.robots.agg(
                F.count("*").alias("n"),
                F.coalesce(
                    F.expr(
                        "bit_xor(xxhash64(host, concat_ws('|', disallow), crawl_delay))"
                    ),
                    F.lit(0),
                ).alias("fp"),
            ).collect()[0]
            # the key is kept so manifests written before the config
            # default went away compare equal (absent delay is always 0.0)
            self._robots_fp = {
                "n": int(row.n),
                "fp": int(row.fp),
                "default_crawl_delay": 0.0,
            }
        return self._robots_fp

    def _check_robots_fp(self, manifest: dict, what: str) -> None:
        committed = manifest.get("robots")
        if committed is not None and committed != self.robots_fingerprint():
            raise ValueError(
                "%s: robots/politeness inputs differ from the ones snapshot "
                "%s was committed under (committed %s, engine has %s) — the "
                "frontier log's predicate-deletes would reconstruct a "
                "different frontier. Rebuild the engine with the original "
                "robots table, or start a fresh workdir."
                % (what, manifest.get("snapshot_id"), committed, self._robots_fp)
            )

    def _check_seen_buckets(self, manifest: dict, what: str) -> None:
        """Compacted seen dirs store ``sb = pmod(url_hash, B)`` as a
        hive partition VALUE — it is only meaningful under the B it was
        written with. Resuming with a different ``seen_buckets`` would
        make ``_links_minus_seen``'s partition prune (computed with the
        new B) silently skip partitions holding matching seen rows, so
        seen urls would re-enter the frontier — breaking the invariant
        the frontier log's delete exactness depends on. Same
        pin-and-assert pattern as the robots fingerprint."""
        committed = manifest.get("seen_buckets")
        if committed is not None and committed != self.config.seen_buckets:
            raise ValueError(
                "%s: snapshot %s was committed with seen_buckets=%d but the "
                "engine is configured with seen_buckets=%d — the bucketed "
                "seen deltas' sb partition values would no longer line up "
                "with the membership probe's prune and seen urls would "
                "re-enter the frontier. Resume with seen_buckets=%d (a "
                "compaction under the new B must rewrite every delta), or "
                "start a fresh workdir."
                % (
                    what,
                    manifest.get("snapshot_id"),
                    committed,
                    self.config.seen_buckets,
                    committed,
                )
            )

    def _check_frontier_stamped(self, manifest: dict, what: str) -> None:
        """Frontier rows carry their robots verdict/crawl_delay as
        STAMPED columns (round 4). A workdir committed by a pre-stamping
        engine stores frontier parquet without those columns — the
        schema-on-read fills NULLs, which the round loop would coalesce
        to denied=False / default delay: previously-denied urls would be
        fetched (robots violation) and budgets would use the wrong
        delay. With politeness active that is a silent semantic break,
        so fail loudly (same pin-and-assert pattern as seen_buckets);
        with politeness inactive the stamped columns are unused and the
        legacy workdir resumes fine."""
        if manifest.get("frontier_stamped") or not self._politeness_active:
            return
        raise ValueError(
            "%s: this workdir's frontier log predates add-time robots "
            "stamping (no 'frontier_stamped' manifest pin) and politeness "
            "is active — resuming would treat every queued row as "
            "robots-allowed with no crawl delay. Re-crawl into a "
            "fresh workdir (or resume with politeness disabled if that "
            "matches the original run's config)." % what
        )

    # -- robots dimension: persisted bucketed layout + add-time stamping ----
    _ROBOTS_DIM_SCHEMA = (
        "host string, disallow array<string>, crawl_delay double"
    )

    def _ensure_robots_dim(self) -> None:
        """Persist the robots table under ``workdir/robots_dim`` in the
        compacted seen log's bucketed layout (hive-partitioned by
        rb = pmod(hash(host), robots_buckets), host-sorted files) so the
        per-round stamp probe is a partition-pruned SCAN — robots is
        never broadcast or shuffled by the round loop. Written once per
        workdir; reused across resumes when the stored fingerprint and
        bucket count match the engine's (robots is static per run — the
        manifest fingerprint already rejects resumes under different
        rules), rewritten otherwise (the dir is a cache of the
        constructor-provided robots_df, not state)."""
        if self._n_robots <= self._seen_probe_max():
            return  # small-dim stamp broadcasts outright — no dim needed
        B = self.config.robots_buckets
        final = os.path.join(self.config.workdir, "robots_dim")
        meta_p = os.path.join(final, "_meta.json")
        want = {"buckets": B, "fp": self.robots_fingerprint()}
        if os.path.exists(meta_p):
            with open(meta_p) as f:
                if json.load(f) == want:
                    self._robots_dim_path = final
                    return
        tmp = final + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        (
            self.robots.withColumn(
                "rb", F.pmod(F.hash("host"), F.lit(B)).cast("int")
            )
            .repartition(B, "rb")
            .sortWithinPartitions("rb", "host")
            .write.mode("overwrite")
            .partitionBy("rb")
            .parquet(tmp)
        )
        with open(os.path.join(tmp, "_meta.json"), "w") as f:
            json.dump(want, f)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)
        self._robots_dim_path = final

    def _robots_scan(self) -> DataFrame:
        """Scan of the persisted rb-bucketed robots_dim (written here on
        first use when the engine was not started through ``run``)."""
        if self._robots_dim_path is None:
            self._ensure_robots_dim()
        return (
            self.spark.read.option("basePath", self._robots_dim_path)
            .schema(self._ROBOTS_DIM_SCHEMA + ", rb int")
            .parquet(self._robots_dim_path)
        )

    def _stamp_robots(
        self, df: DataFrame, n_probe: int, hosts_src: DataFrame | None = None
    ) -> DataFrame:
        """Stamp (crawl_delay, denied) onto rows ENTERING the frontier.

        One row cap, ``_seen_probe_max()`` (autoBroadcastJoinThreshold /
        ~96 B per row — the byte budget the seen probe also uses),
        picks the strategy:

        - a robots table at or below the cap broadcasts outright: one
          broadcast join, ZERO driver jobs per stamp (removes the fixed
          ~1 s/round probe floor BENCH §e6 measured below ~10^6 hosts);
        - above it, ``df`` is bounded (one batch's link fan-out / a seed
          list / a staged drain), so the join runs as the same
          scan-side probe the seen membership check uses against the
          persisted rb-bucketed robots_dim (robots is only SCANNED —
          never shuffled, never fully broadcast): up to
          ``_PRUNE_MAX_PROBE`` distinct hosts become rb + host IN-lists
          on the scan; more hosts left-semi the scan against the
          broadcast host set; a host set above the cap itself falls back
          to a shuffle join (AQE applies). The ≤|hosts| slice broadcasts
          back onto the rows.

        With politeness inactive the stamp is two literals — no jobs.
        ``hosts_src``, when given, must be a MATERIALIZED frame whose
        distinct hosts are a superset of df's — the strategy probe
        collects from it instead of re-evaluating df's un-checkpointed
        plan (the links path hands the checkpointed pre-anti-join frame,
        so the seen anti-join is not run twice per round)."""
        if not self._politeness_active:
            return df.withColumn(
                "crawl_delay", F.lit(None).cast("double")
            ).withColumn("denied", F.lit(False))
        denied = F.coalesce(
            F.exists(
                F.coalesce(F.col("disallow"), F.array().cast("array<string>")),
                lambda p: F.col("path").startswith(p),
            ),
            F.lit(False),
        )
        if self._n_robots <= self._seen_probe_max():
            if self._robots_small is None:
                # materialized once, broadcast from cached blocks every
                # later stamp (no per-round scan/footer re-read)
                self._robots_small = self.robots.localCheckpoint(eager=False)
            joined = df.join(F.broadcast(self._robots_small), "host", "left")
            return joined.withColumn("denied", denied).drop("disallow")
        rsrc = self._robots_scan()
        # strategy selection is by DISTINCT HOSTS, not link rows: the
        # broadcast side is always the ≤|hosts| robots slice (never the
        # links), so a 10^6-link fan-out over a few hundred hosts still
        # takes the pruned-scan probe — gating on n_probe here would
        # needlessly fall back to a full robots shuffle join exactly in
        # the production case (large batches, few hosts).
        hosts = (hosts_src if hosts_src is not None else df).select("host").distinct()
        cap = self._PRUNE_MAX_PROBE
        B = self.config.robots_buckets
        # ONE bounded job fetches (host, rb) pairs — limit cap+1 so an
        # over-cap host set is detected without a count job
        pairs = hosts.select(
            "host", F.pmod(F.hash("host"), F.lit(B)).cast("int").alias("rb"),
        ).limit(cap + 1).collect()
        if not pairs:
            return df.withColumn(
                "crawl_delay", F.lit(None).cast("double")
            ).withColumn("denied", F.lit(False))
        if len(pairs) <= cap:
            # small host set: TWO pushable predicates replace the
            # semi-join — the rb isin prunes hive partitions, the
            # host isin skips row groups via the host-sorted files'
            # min/max stats. The robots scan cost is then ~flat in
            # |robots| (O(touched row groups), not O(table)).
            touched = sorted({p.rb for p in pairs})
            if len(touched) < B:
                rsrc = rsrc.filter(F.col("rb").isin(touched))
            rslice = rsrc.filter(
                F.col("host").isin([p.host for p in pairs])
            ).select("host", "disallow", "crawl_delay")
            joined = df.join(F.broadcast(rslice), "host", "left")
        else:
            # > cap distinct hosts: the isin/prune lists stop paying.
            # n_probe bounds |hosts|, so when the LINKS fit the probe
            # budget the host set certainly does — semi-join the scan
            # against the broadcast host set and broadcast the slice
            # back. Past that, one bounded count decides; only a host
            # set too big to broadcast falls to the shuffle join
            # (AQE skew-split applies).
            n_hosts = (
                n_probe if n_probe <= self._seen_probe_max() else hosts.count()
            )
            if n_hosts <= self._seen_probe_max():
                rslice = rsrc.select("host", "disallow", "crawl_delay").join(
                    F.broadcast(hosts), "host", "leftsemi"
                )
                joined = df.join(F.broadcast(rslice), "host", "left")
            else:
                joined = df.join(
                    rsrc.select("host", "disallow", "crawl_delay"),
                    "host",
                    "left",
                )
        return joined.withColumn("denied", denied).drop("disallow")

    # -- host_state merge-on-read delta log ----------------------------------
    # Each round appends only the batch's host-clock updates; the state
    # is the per-host MAX of next_time over the log (updates are strictly
    # increasing per host since robots/delays are static per run and
    # next_time' = greatest(nt, r) + k·d > nt for k ≥ 1, d > 0). The
    # round loop never materializes the full table: the budget formula
    # only distinguishes hosts with next_time > r (for nt ≤ r,
    # greatest(nt, r) = r — identical to the host being absent), so the
    # per-round join broadcasts the ACTIVE slice — hosts still on
    # cooldown, bounded by recent fetch activity — never all hosts ever
    # fetched. The old design broadcast and fully rewrote host_state
    # every round: O(|hosts|) per round at a 10^8-host frontier.
    def _read_host_state_deltas(
        self, rels: list[str], extra_paths: list[str] | None = None
    ) -> DataFrame:
        paths = [os.path.join(self.config.workdir, rel) for rel in rels] + list(
            extra_paths or []
        )
        if not paths:
            return empty_frame(self.spark, _HOST_STATE_SCHEMA)
        return self.spark.read.schema(_HOST_STATE_SCHEMA).parquet(*paths)

    @staticmethod
    def _merge_host_state(deltas: DataFrame) -> DataFrame:
        """Full merged view (one row per host) — read_table/compaction;
        the round loop uses _active_host_state instead."""
        return deltas.groupBy("host").agg(F.max("next_time").alias("next_time"))

    @staticmethod
    def _active_host_state(deltas: DataFrame, r: int) -> DataFrame:
        """Hosts still on cooldown at round r. Filtering next_time > r
        BEFORE the merge is exact (the per-host max survives iff it is
        > r, and max over the surviving subset equals the overall max)
        and pushes to parquet row-group stats; the groupBy then shuffles
        only cooldown rows, not the full host history."""
        return (
            deltas.filter(F.col("next_time") > r)
            .groupBy("host")
            .agg(F.max("next_time").alias("next_time"))
        )

    # -- snapshot catalog (Iceberg-style: ids, lineage, time travel) -------
    def _load_manifest(self, r: int) -> dict:
        """The committed manifest of round ``r``."""
        mf = os.path.join(self.config.workdir, "round_%05d" % r, "manifest.json")
        if not os.path.exists(mf):
            raise FileNotFoundError("no committed snapshot r%05d" % r)
        with open(mf) as f:
            return json.load(f)

    def _committed_rounds(self) -> list[int]:
        """Rounds with a committed manifest in workdir, ascending."""
        if not os.path.isdir(self.config.workdir):
            return []
        return sorted(
            int(d.split("_")[1])
            for d in os.listdir(self.config.workdir)
            if d.startswith("round_") and not d.endswith(".tmp")
            and os.path.exists(os.path.join(self.config.workdir, d, "manifest.json"))
        )

    # the workdir dirs holding the state logs; everything under them is
    # owned by the latest committed manifest (see _reap)
    _LOG_ROOTS = ("seen_deltas", "frontier_log", "host_state_log")

    def _reap(self, manifest: dict) -> None:
        """The one deletion rule: once ``manifest`` is committed, delete
        every dir under the state logs it does not reference — deltas a
        compaction or a rebase replaced, and the orphans a crash leaves
        between a delta write and its commit or between a commit and this
        cleanup. A frontier add dir is also a seen entry, so it lives
        until neither log references it: a frontier compaction or a
        rebase leaves it to the seen compaction. Round dirs (whose
        transcripts are the frontier's del entries) and ``robots_dim/``
        are never touched. Older manifests lose time-travel over reaped
        dirs: the documented retention contract."""
        log = manifest["frontier_log"]
        keep = {
            os.path.normpath(p)
            for p in [
                *manifest["seen_deltas"], log["base"], *log["adds"], *log["dels"],
                *manifest.get("host_state_deltas", []),
            ]
        }
        for root in self._LOG_ROOTS:
            d = os.path.join(self.config.workdir, root)
            for name in os.listdir(d) if os.path.isdir(d) else []:
                if os.path.join(root, name) not in keep:
                    shutil.rmtree(os.path.join(d, name))

    @staticmethod
    def _parquet_files(path: str) -> list[str]:
        """The parquet files of one written dir (a snapshot's file-level
        lineage)."""
        return sorted(f for f in os.listdir(path) if f.endswith(".parquet"))

    def snapshots(self) -> list[dict]:
        """All committed snapshot manifests, oldest first."""
        return [self._load_manifest(r) for r in self._committed_rounds()]

    def read_table(self, name: str, snapshot: int | None = None) -> DataFrame:
        """Time-travel read: a state table (frontier/seen/host_state/
        errors/extracted/transcript) at a given committed round (default:
        latest). Raises if that table was pruned by retention/compaction.

        ``seen`` is append-only: each manifest lists the dirs whose union
        IS the seen set at that snapshot — the read unions them
        (merge-on-read); nothing is ever rewritten except by compaction.
        """
        r = snapshot if snapshot is not None else self.latest_round()
        if r is None:
            raise FileNotFoundError("no committed snapshot in %s" % self.config.workdir)
        if name == "frontier":
            manifest = self._load_manifest(r)
            self._check_robots_fp(manifest, "read_table('frontier')")
            self._check_frontier_stamped(manifest, "read_table('frontier')")
            log = manifest["frontier_log"]
            missing = [
                p
                for p in [log["base"], *log["adds"], *log["dels"]]
                if not os.path.isdir(os.path.join(self.config.workdir, p))
            ]
            if missing:
                raise FileNotFoundError(
                    "frontier log dirs %s for snapshot r%05d were compacted away "
                    "(retention?)" % (missing, r)
                )
            return self._read_frontier(log, r)
        if name == "seen":
            manifest = self._load_manifest(r)
            self._check_seen_buckets(manifest, "read_table('seen')")
            rels = manifest.get("seen_deltas", [])
            missing = [p for p in rels if not os.path.isdir(os.path.join(self.config.workdir, p))]
            if missing:
                raise FileNotFoundError(
                    "seen deltas %s for snapshot r%05d were compacted away (retention?)"
                    % (missing, r)
                )
            return self._read_seen(rels)
        if name == "host_state":
            manifest = self._load_manifest(r)
            # merge-on-read: the manifest lists the delta dirs whose
            # per-host MAX is the host-clock table at that snapshot
            # (next_time strictly increases per host — see the delta-log
            # notes above). Legacy manifests stored the full table in the
            # round dir: a valid one-entry delta set.
            rels = manifest.get("host_state_deltas", ["round_%05d/host_state" % r])
            missing = [
                p for p in rels
                if not os.path.isdir(os.path.join(self.config.workdir, p))
            ]
            if missing:
                raise FileNotFoundError(
                    "host_state deltas %s for snapshot r%05d were compacted "
                    "away (retention?)" % (missing, r)
                )
            return self._merge_host_state(self._read_host_state_deltas(rels))
        path = os.path.join(self.config.workdir, "round_%05d" % r, name)
        if not os.path.isdir(path):
            raise FileNotFoundError(
                "table %r not present at snapshot r%05d (retention?)" % (name, r)
            )
        return self.spark.read.parquet(path)

    def diff_snapshots(self, from_snapshot: int, to_snapshot: int) -> dict:
        """Incremental changefeed (CDC export) between two committed
        rounds — the Iceberg ``incremental read`` shape on this engine's
        delta-log manifests. Returns a dict of DataFrames:

        - ``seen_added``: urls first seen in ``(from, to]``. The seen set
          is an APPEND-ONLY delta log, so this is pure log arithmetic —
          read only the delta dirs the ``to`` manifest lists beyond the
          ``from`` manifest, O(changed rows) with no join. If compaction
          rewrote the log between the snapshots (``from``'s dirs are no
          longer a subset of ``to``'s) it falls back to an exact
          bucket-colocated anti-join of the two materialized reads.
        - ``frontier_added`` / ``frontier_removed``: exact url-keyed
          anti-joins of the two materialized frontiers. There is no
          "changed" class WITHIN a manifest lineage: frontier rows are
          add-once/delete-once (the seen-set invariant — a url never
          re-enters; robots verdicts are stamped at add time), and the
          one sanctioned restamp (``rebase_robots``) opens a NEW lineage
          whose fingerprint ``read_table`` already refuses to mix.
        - ``host_state_changed``: hosts whose politeness clock advanced,
          with the new clock. Fast path mirrors ``seen_added``: merge
          only the delta dirs added after ``from`` — exact because
          ``next_time`` strictly increases per host, so the max over the
          new deltas IS the host's value at ``to``. Legacy full-table
          layouts (no ``host_state_deltas`` manifest key) take the exact
          join fallback.
        - ``extracted_added``: the extraction sink rows produced in
          rounds ``(from, to]`` (one multi-dir scan of the per-round
          sink dirs that still exist under retention) — the "new
          training data since snapshot N" export the curation pipeline
          consumes.

        At 100 TB every fast path here is metadata-bounded: CDC cost
        scales with the CHANGE volume, never with accumulated state;
        only the frontier diff touches full state, and the live frontier
        is the bounded working set, orders smaller than seen.
        """
        if from_snapshot > to_snapshot:
            raise ValueError(
                "from_snapshot %d > to_snapshot %d" % (from_snapshot, to_snapshot)
            )
        mf0 = self._load_manifest(from_snapshot)
        mf1 = self._load_manifest(to_snapshot)

        # seen: append-only log → set difference of delta dirs
        s0, s1 = mf0.get("seen_deltas", []), mf1.get("seen_deltas", [])
        new_rels = [p for p in s1 if p not in set(s0)]
        if set(s0) <= set(s1) and all(
            os.path.isdir(os.path.join(self.config.workdir, p)) for p in new_rels
        ):
            self._check_seen_buckets(mf1, "diff_snapshots('seen')")
            seen_added = self._read_seen(new_rels)
        else:  # compacted between the snapshots: exact fallback
            seen_added = self.read_table("seen", to_snapshot).join(
                self.read_table("seen", from_snapshot).select("url_hash"),
                "url_hash",
                "left_anti",
            )

        f0 = self.read_table("frontier", from_snapshot)
        f1 = self.read_table("frontier", to_snapshot)
        frontier_added = f1.join(f0.select("url"), "url", "left_anti")
        frontier_removed = f0.join(f1.select("url"), "url", "left_anti")

        h0_rels = mf0.get("host_state_deltas")
        h1_rels = mf1.get("host_state_deltas")
        if (
            h0_rels is not None
            and h1_rels is not None
            and set(h0_rels) <= set(h1_rels)
        ):
            new_h = [p for p in h1_rels if p not in set(h0_rels)]
            host_state_changed = self._merge_host_state(
                self._read_host_state_deltas(new_h)
            )
        else:
            old = self.read_table("host_state", from_snapshot).select(
                "host", F.col("next_time").alias("__old")
            )
            host_state_changed = (
                self.read_table("host_state", to_snapshot)
                .join(old, "host", "left")
                .filter(F.col("__old").isNull() | (F.col("next_time") > F.col("__old")))
                .drop("__old")
            )

        ex_dirs = [
            os.path.join(self.config.workdir, "round_%05d" % r, "extracted")
            for r in range(from_snapshot + 1, to_snapshot + 1)
        ]
        ex_dirs = [p for p in ex_dirs if os.path.isdir(p)]
        extracted_added = (
            self.spark.read.schema(_EXTRACT_SCHEMA).parquet(*ex_dirs)
            if ex_dirs
            else empty_frame(self.spark, _EXTRACT_SCHEMA)
        )

        return {
            "seen_added": seen_added,
            "frontier_added": frontier_added,
            "frontier_removed": frontier_removed,
            "host_state_changed": host_state_changed,
            "extracted_added": extracted_added,
        }

    # -- seen delta log ----------------------------------------------------
    # The seen set is an append-only log of dirs. Its per-round entries
    # are the frontier's FLAT add dirs (bounded by one batch's fan-out: a
    # handful of files) — every url that entered the frontier is seen,
    # so the seen log points at those rows instead of keeping a second
    # copy of them. Compaction
    # rewrites the union as one hash-BUCKETED dir, hive-partitioned by
    # sb = pmod(url_hash, seen_buckets) with files range-laid-out and
    # sorted by url_hash (parquet min/max row-group stats line up with
    # the probe key). This is SURVEY §4.2's "partition seen by
    # bucket(hash, B)" promise where it pays — at 10^10 rows the
    # membership check (``_links_minus_seen``) prunes the compacted scan
    # to the buckets the round's links touch. Either way the seen side
    # is only ever SCANNED, never shuffled.
    def _read_seen(self, rels: list[str]) -> DataFrame:
        """The seen set = the log's entries (merge-on-read), read as at
        most TWO multi-path scans; carries the ``sb`` bucket column for
        partition pruning.

        Bucketed (compacted) dirs are hive partitions
        ``seen_deltas/delta=<name>/sb=NN``, so one ``parquet(p1, p2, …)``
        with ``basePath=seen_deltas`` covers them. Every other entry is a
        flat dir: the frontier's ``frontier_log/base_seed`` and ``add_*``
        dirs, and the ``seen_deltas/delta_*`` dirs of older workdirs
        (pre-bucketing ones included). They cannot share the hive scan —
        mixing raises CONFLICTING_DIRECTORY_STRUCTURES, and read alone
        they'd surface sb=NULL — so they get ONE flat scan under
        _SEEN_FLAT_SCHEMA: ``first_round`` is the stored column where an
        old seen dir has it and the row's ``round_added`` in a frontier
        dir (the round a url entered the frontier is the round it was
        first seen), and sb is COMPUTED from url_hash (same pmod as the
        compaction writer), which keeps ``sb``-filtered membership checks
        exact.
        Multi-path scans, not a union of per-dir reads: a per-dir union
        would make every downstream join fan out per branch — the
        membership check's broadcast of the links batch was rebuilt once
        PER DELTA DIR (measured: dedup_antijoin 2× slower by round 3 of a
        crawl) — while two scans keep it bounded however many deltas the
        log holds."""
        if not rels:
            return empty_frame(self.spark, _SEEN_BUCKETED_SCHEMA)
        base = os.path.join(self.config.workdir, "seen_deltas")
        cols = [f.name for f in _SEEN_BUCKETED_SCHEMA.fields]
        hive_rels = [r for r in rels if os.path.basename(r).startswith("delta=")]
        flat_rels = [r for r in rels if not os.path.basename(r).startswith("delta=")]
        parts = []
        if hive_rels:
            paths = [os.path.join(self.config.workdir, rel) for rel in hive_rels]
            parts.append(
                self.spark.read.option("basePath", base)
                .schema(_SEEN_BUCKETED_SCHEMA)
                .parquet(*paths)
                .select(*cols)
            )
        if flat_rels:
            paths = [os.path.join(self.config.workdir, rel) for rel in flat_rels]
            parts.append(
                self.spark.read.schema(_SEEN_FLAT_SCHEMA)
                .parquet(*paths)
                .withColumn(
                    "first_round", F.coalesce("first_round", "round_added")
                )
                .withColumn(
                    "sb",
                    F.pmod(
                        F.col("url_hash"), F.lit(self.config.seen_buckets)
                    ).cast("int"),
                )
                .select(*cols)
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _write_seen_delta(self, df: DataFrame, name: str) -> str:
        """Compaction writer: write one BUCKETED seen dir atomically;
        returns the workdir-relative path the manifest should reference.

        Layout: partitionBy(sb) subdirs, files url_hash-sorted. The input
        is the entire seen set, where intra-bucket parallelism matters:
        the range layout on (sb, url_hash) gives every core a slice of
        the big buckets. Per-round entries do not come here — they are
        the frontier's flat add dirs."""
        rel = os.path.join("seen_deltas", "delta=" + name)
        final = os.path.join(self.config.workdir, rel)
        tmp = final + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        B = self.config.seen_buckets
        out = (
            df.select(*[f.name for f in _SEEN_SCHEMA.fields])
            .withColumn("sb", F.pmod(F.col("url_hash"), F.lit(B)).cast("int"))
            .repartitionByRange(max(B, self._parallelism), "sb", "url_hash")
            .sortWithinPartitions("sb", "url_hash")
        )
        out.write.mode("overwrite").partitionBy("sb").parquet(tmp)
        if os.path.exists(final):  # replay of an uncommitted round
            shutil.rmtree(final)
        os.rename(tmp, final)
        return rel

    # conservative broadcast-row estimate for the membership probe:
    # url_hash (8 B) + average url_canon (~60 B) + BroadcastHashedRelation
    # per-row overhead. Used only to DERIVE a row cap from the byte-based
    # broadcast threshold; the probe is broadcast explicitly either way.
    _PROBE_ROW_BYTES = 96
    # bucket-prune the seen scan (and IN-list the robots_dim scan) only
    # when the probe side is small enough for pruning to have a chance:
    # ≥ ~B·ln(B) uniformly-hashed keys touch every bucket w.h.p. (coupon
    # collector), so collecting their distinct buckets is a wasted
    # per-round job that always answers "all of them". Probes at or
    # below this size (staged trickles, small batches, resume replays)
    # still prune — where it matters.
    _PRUNE_MAX_PROBE = 2_048
    # most hosts per round routed through the hot-host top-k
    _MAX_HOT_HOSTS = 16

    def _seen_probe_max(self) -> int:
        """Resolved row cap for the scan-probe membership strategy and
        for the robots stamp's whole-table broadcast — one byte budget.

        The cap is ``autoBroadcastJoinThreshold / ~96 B-per-row`` — the same
        byte budget the cluster operator already sized for broadcast
        joins, re-expressed in probe rows (Spark's 10 MB default ⇒
        ~109k rows; a 256 MB memory-rich setting ⇒ ~2.8M). The probe
        path broadcasts up to 2× this many rows per round (candidates +
        hits), which is why the cap tracks the operator's knob instead
        of a hardcoded row count that could be hundreds of MB at
        realistic URL lengths."""
        # Spark's own parse of the byte-size string ("64MB", "1g", "-1")
        thr = (
            self.spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
        )
        if thr <= 0:  # auto-broadcast disabled ≠ probe disabled: keep the
            thr = 10 << 20  # default byte budget for the explicit hint
        return max(thr // self._PROBE_ROW_BYTES, 1)

    def _links_minus_seen(
        self, links: DataFrame, seen: DataFrame, n_probe: int
    ) -> DataFrame:
        """links ∖ seen — the per-round membership check.

        Scan-side strategy (the 10^10-row plan): a plain
        ``links.join(seen, "left_anti")`` shuffles BOTH sides, i.e. the
        entire seen set re-crosses the network every round (measured
        linear in |seen|: 61.9 s at 128M rows). Instead, since the links
        side is bounded by one batch's fan-out:

          1. prune: collect the ≤seen_buckets distinct ``sb`` values the
             links hash into (tiny job) and filter the seen scan to those
             buckets (compacted dirs skip the others' sb= partitions);
          2. hits = pruned_seen ⋉ broadcast(links)  — a broadcast hash
             LEFT-SEMI join that streams the seen scan past a hash table
             of the links' (url_hash, url_canon) keys: no shuffle, no
             sort, and |hits| ≤ |links|;
          3. unseen = links ⋉̸ broadcast(hits) — exact anti semantics.

        Equality is checked on url_canon (url_hash rides along for the
        cheap 64-bit reject), so this is EXACTLY the anti-join. Above
        :meth:`_seen_probe_max` candidates (derived from
        ``spark.sql.autoBroadcastJoinThreshold``) the classic shuffle
        anti-join takes over (AQE skew-split applies there)."""
        if n_probe > self._seen_probe_max():
            return links.join(seen.select("url_canon"), "url_canon", "left_anti")
        B = self.config.seen_buckets
        probe = links.select("url_hash", "url_canon")
        pruned = seen
        if n_probe <= self._PRUNE_MAX_PROBE:
            # small probe: its distinct buckets are worth a (tiny) job —
            # the scan skips every other bucket's files entirely
            touched = [
                r.sb
                for r in probe.select(
                    F.pmod(F.col("url_hash"), F.lit(B)).cast("int").alias("sb")
                )
                .distinct()
                .collect()
            ]
            if not touched:
                return links
            if len(touched) < B:
                # compacted dirs skip untouched sb= partitions at listing
                # time; flat deltas' computed sb filters rows instead
                pruned = seen.filter(F.col("sb").isin(touched))
        hits = pruned.select("url_hash", "url_canon").join(
            F.broadcast(probe), ["url_hash", "url_canon"], "leftsemi"
        )
        return links.join(
            F.broadcast(hits.select("url_canon")), "url_canon", "left_anti"
        )

    def _write_delta(self, df: DataFrame, name: str, log: str) -> str:
        """Write ``df`` as one flat dir ``<log>/<name>`` atomically (tmp +
        rename); returns the workdir-relative path the manifest should
        reference. No sort: the seen probe is a broadcast left-semi join,
        and the only filter pushed into a seen scan is the compacted
        dirs' ``sb`` partition prune, so row order within a flat file
        buys nothing."""
        rel = os.path.join(log, name)
        final = os.path.join(self.config.workdir, rel)
        tmp = final + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        df.write.mode("overwrite").parquet(tmp)
        if os.path.exists(final):  # replay of an uncommitted round
            shutil.rmtree(final)
        os.rename(tmp, final)
        return rel

    # -- frontier merge-on-read log ----------------------------------------
    # The frontier is an Iceberg-v2-style log: a materialized `base` plus
    # per-round `adds` (new links) and `dels` (dequeued batch urls). A
    # round's del entry is its own `round_NNNNN/transcript` table, read
    # through its url_canon column; workdirs from before that list
    # `frontier_log/del_NNNNN` dirs of url_canon alone, which read the
    # same way. A read unions base+adds, anti-joins the broadcast del
    # set, and drops
    # expired / robots-denied rows BY PREDICATE — deadlines and robots
    # rules are static per row/engine, so those (potentially unbounded)
    # delete sets never need materializing:
    #   - a row is expired-dropped the first round it is processed with
    #     deadline ≤ r, hence gone from every snapshot ≥ max(round it
    #     could have been processed) → filter (round_added ≤ r AND
    #     deadline ≤ r);
    #   - robots-denied rows drop at their first processed round →
    #     filter (round_added ≤ r AND denied).
    # New rows (round_added == r+1) are exempt from both, matching the
    # round loop, which only expires/denies rows it dequeues from the
    # previous snapshot.
    def _read_frontier(
        self, log: dict, upto_r: int, denied_filter: bool = False
    ) -> DataFrame:
        wd = self.config.workdir
        # ONE multi-path scan for base+adds and one for dels (the dirs
        # are flat, so no basePath gymnastics needed): a per-dir union
        # adds a scan node + file listing per accumulated delta dir,
        # growing the plan with crawl age for no benefit.
        f = self.spark.read.schema(_FRONTIER_SCHEMA).parquet(
            *[os.path.join(wd, rel) for rel in [log["base"]] + list(log["adds"])]
        )
        if log["dels"]:
            dels = self.spark.read.schema("url_canon string").parquet(
                *[os.path.join(wd, d) for d in log["dels"]]
            )
            f = f.join(F.broadcast(dels), "url_canon", "left_anti")
        processed = F.col("round_added") <= upto_r
        expired = F.col("deadline").isNotNull() & (F.col("deadline") <= upto_r)
        f = f.filter(~(processed & expired))
        # rebase_robots() re-stamps the log under NEW rules at round k
        # (log["restamped_at"] = k): a re-stamped denial counts as
        # "processed" only from round k on — max(round_added, k) ≤ upto_r
        # — so the resume read KEEPS newly-denied rows for round k to
        # error-and-drop (exactly like a freshly added denied row), while
        # rows added after the rebase keep the normal round_added rule.
        restamp = log.get("restamped_at")
        processed_denied = (
            processed
            if restamp is None
            else F.greatest(F.col("round_added"), F.lit(restamp)) <= upto_r
        )
        if self._politeness_active or denied_filter:
            # the robots verdict is a COLUMN stamped when the row entered
            # the frontier — the merge-on-read never touches the robots
            # table (the old per-read broadcast(robots) join shipped the
            # whole dimension to every executor on every frontier read;
            # GBs at a 10^8-host web-scale frontier). denied is non-null
            # by construction — pre-stamping workdirs are rejected by
            # _check_frontier_stamped when politeness is active.
            # denied_filter=True forces the predicate even when THIS
            # engine's politeness is inactive: rebase_robots() reading
            # the OLD epoch's log must keep its processed denials
            # dropped (refmodel step-2 drops are permanent) even when
            # the NEW rules turn politeness off.
            denied_cond = F.coalesce(F.col("denied"), F.lit(False))
            f = f.filter(~(processed_denied & denied_cond))
        return f.select(*_FRONTIER_COLS)

    def latest_round(self) -> int | None:
        """Highest committed round in workdir, or None."""
        rounds = self._committed_rounds()
        return rounds[-1] if rounds else None

    # -- robots epoch switch -------------------------------------------------
    def rebase_robots(self) -> dict:
        """Adopt NEW robots/politeness rules for a committed workdir —
        the sanctioned epoch switch (reference users re-fetch robots.txt
        between crawls; cf. the deadline/TTL freshness semantics in
        ``nsq/nsqcrawl/queue.go:90-94``).

        Construct the engine with the NEW robots_df over the OLD
        workdir and call this BEFORE ``run(resume=True)`` — a plain
        resume under changed rules is rejected by the fingerprint pin
        (`_check_robots_fp`). One bounded pass re-stamps the LIVE
        frontier under the new rules and atomically rewrites the latest
        manifest to open the new lineage:

        * the live view is read under the OLD epoch's log, with the
          stamped-denied predicate FORCED (``denied_filter=True``):
          urls denied and errored in an earlier epoch stay dropped
          even if the new rules would allow them — in the refmodel
          (``tests/refmodel.py`` ``robots_switch=(k, new_robots)``,
          the oracle for this contract) step-2 drops are permanent;
        * every surviving row is re-stamped (crawl_delay, denied) via
          the same add-time probe new rows use, so budgets and
          verdicts from round k = last+1 follow the new rules;
        * the restamped rows become a fresh compacted base with
          ``restamped_at = k`` in the log: the merge-on-read counts a
          re-stamped denial as processed only from round k on, so the
          resume KEEPS newly-denied rows for round k to error-and-drop
          exactly like freshly added denied rows;
        * the latest manifest is replaced (tmp + rename, the same
          atomic-commit pattern as the round snapshots) with the new
          fingerprint, the new log and a pinned ``n_frontier``
          (re-stamping changes which logged rows are live, so the
          derived deferred+scheduled size no longer applies).

        host_state is untouched: per-host next_time survives the epoch
        (the refmodel keeps its clock across the switch), and the
        per-host-MAX merge of the host_state delta log stays valid —
        every written delta is greatest(nt, r) + k·d > nt regardless
        of which epoch's d produced it.

        Scale: the one full-frontier pass (merge + re-stamp + base
        write) is the same cost as a frontier compaction, paid once
        per epoch switch — never per round. Returns the rewritten
        manifest; no-op (manifest returned unchanged) when the rules
        already match."""
        cfg = self.config
        last = self.latest_round()
        if last is None:
            raise ValueError(
                "rebase_robots: no committed rounds under %r — nothing to "
                "rebase (run the first epoch with run())" % cfg.workdir
            )
        base = os.path.join(cfg.workdir, "round_%05d" % last)
        manifest = self._load_manifest(last)
        if manifest.get("robots") == self.robots_fingerprint():
            return manifest  # same rules — resume directly
        self._check_seen_buckets(manifest, "rebase_robots")
        if not manifest.get("frontier_stamped"):
            raise ValueError(
                "rebase_robots: this workdir's frontier log predates "
                "add-time robots stamping — the old epoch's denials "
                "cannot be replayed. Re-crawl into a fresh workdir."
            )
        k = last + 1
        live = self._read_frontier(
            manifest["frontier_log"], last, denied_filter=True
        )
        # ONE materialization feeds the count, the stamp probe and the
        # base write — without it the merge scan + del anti-join would
        # re-run per consumer, and the probe would evaluate an
        # un-checkpointed plan (the double-evaluation rule)
        live = live.drop("crawl_delay", "denied").localCheckpoint(eager=True)
        n_frontier = live.count()
        self._ensure_robots_dim()  # new fingerprint → fresh bucketed layout
        restamped = self._stamp_robots(live, n_frontier).select(*_FRONTIER_COLS)
        new_base = self._write_delta(restamped, "base_rebase_%05d" % k, "frontier_log")
        manifest = {
            **manifest,
            "frontier_log": {
                "base": new_base,
                "adds": [],
                "dels": [],
                "restamped_at": k,
            },
            "robots": self.robots_fingerprint(),
            "n_frontier": n_frontier,
            "rebase": {"at_round": k, "base": new_base},
        }
        tmp = os.path.join(base, "manifest.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.rename(tmp, os.path.join(base, "manifest.json"))  # atomic commit
        # the committed manifest's frontier log is only the restamped
        # base: the old epoch's base and adds go, except those the seen
        # log still lists (its dels are transcripts)
        self._reap(manifest)
        return manifest

    # -- out-of-band staged-seed pickup ------------------------------------
    _STAGED_SEQ_BASE = 1 << 50  # after every link seq of the same round

    def _pickup_staged(self, r: int, frontier: DataFrame):
        """Round-boundary pickup of out-of-band seeds (the NSQ-topic
        analog): drain the staging table, drop urls already seen,
        seq-stamp deterministically (after all link seqs of the round —
        url_canon order; the staged batch is bounded out-of-band input,
        so its single-partition stamp window is bounded too), write them
        as one frontier add dir that is also their seen entry, and union
        them into this round's frontier. Re-drained rows are idempotent:
        once picked up they are in `seen`, so later drains drop them."""
        from ..streaming.feed import drain_staged_seeds

        staged, new_files = drain_staged_seeds(
            self.spark, self.config.staged_seeds_dir, self._staged_drained
        )
        # high-watermark: mark the files drained NOW (persisted by this
        # round's manifest commit; a crash before commit forgets them and
        # the replay re-drains — idempotent via the seen check)
        self._staged_drained |= set(new_files)
        if not new_files:
            return frontier, 0
        # bounded out-of-band batch: checkpoint once, count, then run the
        # scan-side membership check (same no-shuffle-of-seen plan as the
        # round's link dedup)
        staged = staged.localCheckpoint(eager=True)
        n_staged_raw = staged.count()
        if n_staged_raw == 0:
            return frontier, 0
        seen_now = self._read_seen(self._seen_rels)
        w_dup = Window.partitionBy("url_canon").orderBy("event_ts", "url")
        fresh = (
            self._links_minus_seen(staged, seen_now, n_staged_raw)
            .withColumn("rn", F.row_number().over(w_dup))
            .filter(F.col("rn") == 1)
            .drop("rn")
        ).localCheckpoint(eager=True)  # bounded by the staged batch
        n = fresh.count()
        if n == 0:
            return frontier, 0
        w = Window.orderBy("url_canon")
        rows = fresh.select(
            "url",
            "url_canon",
            "host",
            "path",
            "host_hash",
            "url_hash",
            F.coalesce(F.col("priority"), F.lit(0)).alias("priority"),
            F.lit(0).alias("depth"),
            F.lit(r).alias("round_added"),
            (F.lit(self._STAGED_SEQ_BASE) + F.row_number().over(w)).alias("seq"),
            F.coalesce(F.col("callbacks"), F.array().cast("array<string>")).alias(
                "callbacks"
            ),
            F.lit(None).cast("string").alias("referer"),
            "deadline",
            F.lit(False).alias("raw"),
            F.lit(None).cast("string").alias("method"),
            F.lit(None).cast(_MULTIMAP).alias("form"),
            F.lit(None).cast(_MULTIMAP).alias("query"),
            F.lit(None).cast(_MULTIMAP).alias("cookies"),
            F.lit(None).cast("map<string,string>").alias("header"),
        )
        # politeness stamp at add time (bounded by the staged batch)
        rows = self._stamp_robots(rows, n).select(*_FRONTIER_COLS)
        rows = rows.localCheckpoint(eager=True)
        # write NOW and append to both logs; the round's manifest commit
        # references the dir (a crash before commit leaves an
        # overwritable orphan — the same replay semantics as the round's
        # add dir)
        add_rel = self._write_delta(rows, "add_%05d_staged" % r, "frontier_log")
        self._seen_rels = self._seen_rels + [add_rel]
        self._frontier_log = {
            **self._frontier_log,
            "adds": self._frontier_log["adds"] + [add_rel],
        }
        return frontier.unionByName(rows), n

    # -- the crawl ---------------------------------------------------------
    def run(
        self,
        seeds,
        max_rounds: int | None = None,
        resume: bool = False,
    ) -> CrawlResult:
        cfg = self.config
        spark = self.spark
        res = CrawlResult(workdir=cfg.workdir)
        max_rounds = max_rounds if max_rounds is not None else cfg.max_rounds

        start_round = 0
        if resume:
            last = self.latest_round()
            if last is not None:
                base = os.path.join(cfg.workdir, "round_%05d" % last)
                manifest = self._load_manifest(last)
                self._check_robots_fp(manifest, "resume")
                self._check_seen_buckets(manifest, "resume")
                self._check_frontier_stamped(manifest, "resume")
                self._staged_drained = set(manifest.get("staged_drained", []))
                self._frontier_log = manifest["frontier_log"]
                frontier = self._read_frontier(self._frontier_log, last)
                self._seen_rels = manifest["seen_deltas"]
                seen = self._read_seen(self._seen_rels)
                self._host_state_rels = manifest.get(
                    "host_state_deltas",
                    # legacy manifests (pre-delta-log) stored the FULL
                    # table inside the round dir — a full table is a
                    # valid one-entry delta set (per-host max ≡ identity)
                    ["round_%05d/host_state" % last],
                )
                host_state = self._read_host_state_deltas(self._host_state_rels)
                # robots dim cache is fingerprint-validated — reused when
                # the rules match (they must: _check_robots_fp above),
                # rebuilt only for a legacy workdir that predates it
                self._ensure_robots_dim()
                # manifests are O(1): rebuild run history from the
                # per-round manifests + transcript tables (never embedded)
                res.counters = [m["counters"] for m in self.snapshots()]
                res.rounds = last + 1
                # next-frontier size is derivable from the last counters —
                # saves a count job (deferred rows + newly scheduled)
                lc = manifest["counters"]
                # rebase_robots() overrides the derived size: re-stamping
                # changes which logged rows are live, so the rebase counts
                # the new view once and pins it in the manifest
                n_frontier = manifest.get(
                    "n_frontier", lc["deferred_by_politeness"] + lc["scheduled"]
                )
                start_round = last + 1
                if cfg.use_bloom:
                    from ..operators.bloom import build_bitmaps, load_bitmaps

                    npz = os.path.join(base, "bloom.npz")
                    self._bloom = (
                        load_bitmaps(npz)
                        if os.path.exists(npz)
                        else build_bitmaps(seen, self._bloom_cfg)
                    )
            else:
                resume = False
        if not resume:
            if os.path.exists(cfg.workdir):
                shutil.rmtree(cfg.workdir)
            os.makedirs(os.path.join(cfg.workdir, "seen_deltas"))
            os.makedirs(os.path.join(cfg.workdir, "frontier_log"))
            os.makedirs(os.path.join(cfg.workdir, "host_state_log"))
            # persist the bucketed robots layout BEFORE seeding: the seed
            # stamp is the first probe against it
            self._ensure_robots_dim()
            seeded = self.seed_frontier(seeds)
            # both logs' first entry: the seed rows, written once
            seed_rel = self._write_delta(seeded, "base_seed", "frontier_log")
            self._frontier_log = {"base": seed_rel, "adds": [], "dels": []}
            frontier = self._read_frontier(self._frontier_log, -1)
            n_frontier = self._n_seeded
            self._seen_rels = [seed_rel]
            seen = self._read_seen(self._seen_rels)
            self._host_state_rels = []
            host_state = self._read_host_state_deltas(self._host_state_rels)
            if cfg.use_bloom:
                from ..operators.bloom import build_bitmaps

                self._bloom = build_bitmaps(seen, self._bloom_cfg)

        for r in range(start_round, max_rounds):
            n_staged = 0
            if cfg.staged_seeds_dir:
                frontier, n_staged = self._pickup_staged(r, frontier)
                if n_staged:
                    n_frontier += n_staged
                    seen = self._read_seen(self._seen_rels)
            # fixpoint check costs no job: the next frontier size is
            # deferred + newly-scheduled (+ staged), all already counted
            if n_frontier == 0:
                break
            phase_s: dict[str, float] = {}
            tick = self._make_tick(phase_s)
            (frontier_adds, host_state_n, errors_df,
             extracted, transcript_df, c, n_valid) = self._round(
                r, frontier, seen, host_state, tick
            )
            c["staged"] = n_staged

            # materialize snapshot (truncates lineage; enables resume).
            # `seen` and `frontier` are NOT here: both go to append-only
            # delta logs — this loop's write volume is O(batch outputs),
            # never O(|seen|) or O(|frontier|).
            manifest_tables = {
                "errors": errors_df,
                "extracted": extracted.select(
                    "url_canon", "handler", "text", F.lit(r).alias("round")
                ),
                "transcript": transcript_df,
            }
            base = os.path.join(cfg.workdir, "round_%05d" % r)
            tmp = base + ".tmp"
            if os.path.exists(tmp):
                shutil.rmtree(tmp)
            os.makedirs(tmp)
            lineage = {}
            for name, df in manifest_tables.items():
                path = os.path.join(tmp, name)
                df.write.mode("overwrite").parquet(path)
                # file-level lineage: the output files this snapshot owns
                lineage[name] = self._parquet_files(path)
                tick("write_" + name)
            # frontier log: append this round's add delta (bounded by the
            # batch's links); the del entry is the transcript written
            # above. The same dir is the seen log's entry for this round.
            # Atomic rename: a crash before manifest commit leaves an
            # unreferenced dir, which the round replay overwrites or the
            # next commit's _reap deletes — Iceberg orphan-file semantics.
            # Materialize a new base only every `frontier_compact_every`
            # rounds
            add_rel = self._write_delta(frontier_adds, "add_%05d" % r, "frontier_log")
            lineage["frontier"] = self._parquet_files(os.path.join(cfg.workdir, add_rel))
            frontier_log_next = {
                **self._frontier_log,  # keeps a rebase's restamped_at
                "adds": self._frontier_log["adds"] + [add_rel],
                "dels": self._frontier_log["dels"] + ["round_%05d/transcript" % r],
            }
            tick("write_frontier_deltas")
            if len(frontier_log_next["adds"]) >= max(cfg.frontier_compact_every, 1):
                # the round dir is not renamed yet: read this round's
                # transcript from its .tmp path
                merged = self._read_frontier(
                    {
                        **frontier_log_next,
                        "dels": self._frontier_log["dels"]
                        + ["round_%05d.tmp/transcript" % r],
                    },
                    r,
                )
                new_base = self._write_delta(merged, "base_%05d" % r, "frontier_log")
                # restamped_at is intentionally dropped: the merge above
                # ran at upto_r = r ≥ the rebase round, so every
                # re-stamped denial has been processed and predicate-
                # dropped — the compacted base holds none of them.
                frontier_log_next = {"base": new_base, "adds": [], "dels": []}
                tick("compact_frontier")
            # host_state delta: ≤ this batch's hosts rows, appended to the
            # merge-on-read log — the full per-host table is never
            # rewritten (the old design rewrote all |hosts| rows every
            # round: the last per-round O(|hosts|) write in the engine).
            # Skipped entirely when politeness is inactive (there is no
            # delta).
            host_state_rels_next = self._host_state_rels
            if self._politeness_active:
                hs_rel = self._write_delta(host_state_n, "hs_%05d" % r, "host_state_log")
                lineage["host_state"] = self._parquet_files(
                    os.path.join(cfg.workdir, hs_rel)
                )
                host_state_rels_next = host_state_rels_next + [hs_rel]
                tick("write_host_state_delta")
                if (
                    cfg.host_state_compact_min_deltas
                    and len(host_state_rels_next)
                    >= cfg.host_state_compact_min_deltas
                ):
                    hs_compact = self._write_delta(
                        self._merge_host_state(
                            self._read_host_state_deltas(host_state_rels_next)
                        ),
                        "hs_compact_%05d" % r,
                        "host_state_log",
                    )
                    host_state_rels_next = [hs_compact]
                    tick("compact_host_state")
            seen_rels_next = self._seen_rels + [add_rel]
            if (
                cfg.seen_compact_min_deltas
                and len(seen_rels_next) >= cfg.seen_compact_min_deltas
            ):
                compact_rel = self._write_seen_delta(
                    self._read_seen(seen_rels_next), "compact_%05d" % r
                )
                seen_rels_next = [compact_rel]
                tick("compact_seen")
            # per-partition metrics of the round's fetch output
            # (north_rule: per-partition lineage + counters)
            part_rows = {
                int(row.pid): row.n
                for row in extracted.groupBy(
                    F.spark_partition_id().alias("pid")
                ).agg(F.count("*").alias("n")).collect()
            }

            # frontier_adds is the localCheckpointed new_rows — count THAT
            # (cheap RDD count), not a disk re-read of the freshly written
            # add dir (file listing + scan, a whole extra job per round
            # for a number already in memory)
            n_new = frontier_adds.count()
            c["scheduled"] = n_new
            c["deduped"] = n_valid - n_new
            if self._bloom is not None:
                from ..operators.bloom import save_bitmaps, update_bitmaps

                if n_new:
                    self._bloom = update_bitmaps(
                        self._bloom,
                        frontier_adds.select("url_hash", "host_hash"),
                        self._bloom_cfg,
                    )
                save_bitmaps(self._bloom, os.path.join(tmp, "bloom.npz"))
            c["errors"] = spark.read.parquet(os.path.join(tmp, "errors")).count()
            res.counters.append(c)

            # O(1) manifest: per-round counters + parent pointer + this
            # snapshot's file lists — never the cumulative transcript
            manifest = {
                "round": r,
                "snapshot_id": "r%05d" % r,
                "parent_snapshot": ("r%05d" % (r - 1)) if r > start_round or resume else None,
                "counters": c,
                # wall seconds per named phase of this round (the `tick`
                # labels, in execution order) — kept out of `counters`,
                # which must stay deterministic across runs
                "phase_s": phase_s,
                "seen_deltas": seen_rels_next,
                "frontier_log": frontier_log_next,
                "host_state_deltas": host_state_rels_next,
                # politeness-input fingerprint: predicate-deletes in the
                # frontier log are only valid under these robots rules
                "robots": self.robots_fingerprint(),
                # compacted seen dirs' sb values are only meaningful
                # under this B — pinned and asserted on resume/read
                "seen_buckets": cfg.seen_buckets,
                # frontier rows carry stamped robots columns (round 4) —
                # pinned so pre-stamping workdirs fail loudly on resume
                "frontier_stamped": True,
                # staged-seed high-watermark: files already drained from
                # staged_seeds_dir (skipped by later drains — the pickup
                # cost stays O(new files), not O(all files ever staged))
                "staged_drained": sorted(self._staged_drained),
                "lineage": {
                    "input_snapshot": ("r%05d" % (r - 1)) if r > 0 else "seeds",
                    "output_files": lineage,
                    "extracted_rows_per_partition": part_rows,
                },
            }
            with open(os.path.join(tmp, "manifest.json"), "w") as f:
                json.dump(manifest, f)
            if os.path.exists(base):
                shutil.rmtree(base)
            os.rename(tmp, base)  # atomic commit
            res.rounds = r + 1
            self._seen_rels = seen_rels_next
            self._frontier_log = frontier_log_next
            self._host_state_rels = host_state_rels_next
            # only NOW is it safe to drop what the committed manifest no
            # longer references; the Bloom snapshot is superseded too (a
            # resume loads the latest round's)
            self._reap(manifest)
            prev_npz = os.path.join(cfg.workdir, "round_%05d" % (r - 1), "bloom.npz")
            if os.path.exists(prev_npz):
                os.remove(prev_npz)

            # re-open state from the COMMITTED logs/paths (.tmp is gone)
            frontier = self._read_frontier(self._frontier_log, r)
            n_frontier = c["deferred_by_politeness"] + c["scheduled"]
            seen = self._read_seen(self._seen_rels)
            host_state = self._read_host_state_deltas(self._host_state_rels)
        return res
