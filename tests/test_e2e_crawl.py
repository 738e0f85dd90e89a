"""Flagship e2e: the Spark engine must reproduce the sequential reference
model exactly — crawl ordering (per-round transcript), URL-seen set,
byte-identical extracted text, and per-round counters (SURVEY.md §5.2 #1,
BASELINE.md target metrics)."""

from __future__ import annotations

import pandas as pd
import pytest

from crawl_spark.plans.engine import CrawlEngine, EngineConfig
from crawl_spark.plans.handlers import Handler, HandlerRegistry

from . import refmodel


def _registry() -> HandlerRegistry:
    reg = HandlerRegistry()
    reg.register("page", Handler(name="page", text_selector="body", link_selector="a"))
    # glob pattern: matches callback "list" (go-glob, crawler.go:258-263)
    reg.register(
        "li*",
        Handler(name="lister", text_selector="h1", link_selector="ul.nav a", follow=False),
    )
    return reg


def _load(tiny_fixture):
    pages = pd.read_parquet(tiny_fixture["pages"])
    seeds = pd.read_parquet(tiny_fixture["seeds"])
    robots = pd.read_parquet(tiny_fixture["robots"])
    return pages, seeds, robots


def _run_refmodel(pages, seeds, robots, batch_cap=40, max_rounds=6):
    pages_map = dict(zip(pages["url"], pages["html"]))
    robots_map = {
        r["host"]: (list(r["disallow"]), float(r["crawl_delay"]))
        for r in robots.to_dict("records")
    }
    return refmodel.crawl(
        pages_map,
        seeds.to_dict("records"),
        _registry(),
        robots=robots_map,
        batch_cap=batch_cap,
        max_rounds=max_rounds,
    )


_LOG_ROOTS = ("seen_deltas", "frontier_log", "host_state_log")


def _zero_broadcast_cap(engine):
    """Set the engine's one broadcast row cap to 0: the seen check takes
    the shuffle anti-join and the robots stamp the robots_dim probe."""
    engine._seen_probe_max = lambda: 0
    return engine


def _assert_reaped(engine):
    """The one deletion rule after the last commit: the dirs under the
    three state-log roots are exactly the latest manifest's references,
    and every committed round's transcript (a frontier del entry) is
    still on disk."""
    import os

    wd = engine.config.workdir
    snaps = engine.snapshots()
    m, log = snaps[-1], snaps[-1]["frontier_log"]
    refs = {*m["seen_deltas"], log["base"], *log["adds"], *log["dels"],
            *m["host_state_deltas"]}
    on_disk = {
        os.path.join(root, d)
        for root in _LOG_ROOTS
        for d in os.listdir(os.path.join(wd, root))
    }
    assert on_disk == {p for p in refs if p.split("/")[0] in _LOG_ROOTS}
    for s in snaps:
        assert os.path.isdir(os.path.join(wd, "round_%05d" % s["round"], "transcript"))


@pytest.fixture(scope="module")
def crawl_pair(spark, tiny_fixture, tmp_path_factory):
    pages, seeds, robots = _load(tiny_fixture)
    golden = _run_refmodel(pages, seeds, robots)

    engine = CrawlEngine(
        spark,
        spark.read.parquet(tiny_fixture["pages"]),
        _registry(),
        robots_df=spark.read.parquet(tiny_fixture["robots"]),
        config=EngineConfig(
            batch_cap=40,
            max_rounds=6,
            workdir=str(tmp_path_factory.mktemp("crawl_work"))),
    )
    result = engine.run(seeds)
    return golden, result, engine


def test_crawl_ordering_exact(crawl_pair, spark):
    golden, result, _ = crawl_pair
    transcript = result.read_transcript(spark)
    assert len(transcript) == len(golden.transcript)
    for r, (got, exp) in enumerate(zip(transcript, golden.transcript)):
        assert got == exp, "round %d ordering mismatch:\ngot  %s\nwant %s" % (r, got, exp)


def test_seen_deltas_hash_bucketed(crawl_pair, spark, tmp_path):
    """SURVEY §4.2 layout promise: the seen log's per-round entries are
    the frontier's flat seed and add dirs (no round writes under
    seen_deltas/), every compacted dir is hive-partitioned by
    sb = pmod(url_hash, seen_buckets), and the seen read carries that sb
    for every row — so the membership check can prune its scan to the
    buckets a round's links touch."""
    import dataclasses
    import os

    from pyspark.sql import functions as F

    _, result, engine = crawl_pair
    for s in engine.snapshots():
        assert s["seen_deltas"] == ["frontier_log/base_seed"] + [
            "frontier_log/add_%05d" % r for r in range(s["round"] + 1)
        ]
    assert os.listdir(os.path.join(result.workdir, "seen_deltas")) == []
    for rel in engine.snapshots()[-1]["seen_deltas"]:
        d = os.path.join(result.workdir, rel)
        entries = [os.path.join(d, e) for e in os.listdir(d)]
        assert not any(os.path.isdir(e) for e in entries), "entry %s has subdirs" % rel
        assert any(e.endswith(".parquet") for e in entries), rel
    # the sb column equals pmod(url_hash, B) for every row
    B = engine.config.seen_buckets
    seen = engine.read_table("seen")
    bad = seen.filter(
        F.col("sb") != F.pmod(F.col("url_hash"), F.lit(B)).cast("int")
    ).count()
    assert bad == 0
    # compaction writes the bucketed layout: only sb= subdirs, whose
    # partition value is pmod(url_hash, B) for every row
    compactor = CrawlEngine(
        spark,
        spark.createDataFrame([], "url string, html binary"),
        _registry(),
        config=dataclasses.replace(engine.config, workdir=str(tmp_path)),
    )
    rel = compactor._write_seen_delta(seen, "compact_00000")
    cdir = os.path.join(str(tmp_path), rel)
    subs = [s for s in os.listdir(cdir) if os.path.isdir(os.path.join(cdir, s))]
    assert subs and all(s.startswith("sb=") for s in subs), subs
    compacted = compactor._read_seen([rel])
    bad = compacted.filter(
        F.col("sb") != F.pmod(F.col("url_hash"), F.lit(B)).cast("int")
    ).count()
    assert bad == 0
    assert sorted(compacted.collect()) == sorted(seen.collect())


def test_seen_set_exact(crawl_pair, spark):
    golden, result, engine = crawl_pair
    # seen is an append-only delta log: read via the manifest's delta list
    seen = {row.url_canon for row in engine.read_table("seen").collect()}
    assert seen == golden.seen


def test_extracted_text_byte_identical(crawl_pair, spark, tiny_fixture):
    golden, result, _ = crawl_pair
    import os

    rows = []
    for r in range(result.rounds):
        p = os.path.join(result.workdir, "round_%05d" % r, "extracted")
        if os.path.exists(p):
            rows += spark.read.parquet(p).collect()
    got = {(row.url_canon, row.handler): row.text for row in rows}
    exp = {
        (u, h): t for u, handlers in golden.texts.items() for h, t in handlers.items()
    }
    assert set(got) == set(exp)
    for k in exp:
        assert got[k].encode() == exp[k].encode(), "text mismatch for %s" % (k,)
    # and the golden pages.text column (generator truth) for handler "page"
    pages = pd.read_parquet(tiny_fixture["pages"])
    page_text = dict(zip(pages["url"], pages["text"]))
    for (u, h), t in exp.items():
        if h == "page" and u in page_text:
            assert t == page_text[u]


def test_counters_match(crawl_pair):
    golden, result, _ = crawl_pair
    keys = ["fetched", "deduped", "deferred_by_politeness", "expired"]
    assert len(result.counters) == len(golden.counters)
    for got, exp in zip(result.counters, golden.counters):
        for k in keys:
            assert got[k] == exp[k], "round %s counter %s: got %s want %s" % (
                got["round"], k, got[k], exp[k])


def test_resume_identical_ordering(spark, tiny_fixture, tmp_path_factory):
    """Kill after round 2, resume from snapshot, transcript must equal the
    uninterrupted run (north_rule: resumable with identical ordering)."""
    pages, seeds, robots = _load(tiny_fixture)
    golden = _run_refmodel(pages, seeds, robots, batch_cap=40, max_rounds=5)

    wd = str(tmp_path_factory.mktemp("resume_work"))
    mk = lambda: CrawlEngine(  # noqa: E731
        spark,
        spark.read.parquet(tiny_fixture["pages"]),
        _registry(),
        robots_df=spark.read.parquet(tiny_fixture["robots"]),
        config=EngineConfig(batch_cap=40, max_rounds=5, workdir=wd),
    )
    mk().run(seeds, max_rounds=2)  # "killed" after round 2
    result = mk().run(seeds, max_rounds=5, resume=True)
    transcript = result.read_transcript(spark)
    assert transcript == golden.transcript[: len(transcript)]
    assert len(transcript) == len(golden.transcript)


def test_hot_host_path_equals_window_path(spark, tiny_fixture, tmp_path_factory):
    """Skew mitigation must be semantics-free: with a threshold low
    enough to route most hosts through the per-host top-k path, the
    transcript still equals the reference model exactly (the Zipf
    fixture makes host0 genuinely hot)."""
    pages, seeds, robots = _load(tiny_fixture)
    golden = _run_refmodel(pages, seeds, robots, batch_cap=40, max_rounds=5)
    engine = CrawlEngine(
        spark,
        spark.read.parquet(tiny_fixture["pages"]),
        _registry(),
        robots_df=spark.read.parquet(tiny_fixture["robots"]),
        config=EngineConfig(
            batch_cap=40,
            max_rounds=5,
            workdir=str(tmp_path_factory.mktemp("hot_work")),
            hot_host_threshold=3),
    )
    engine._MAX_HOT_HOSTS = 8
    result = engine.run(seeds)
    assert result.read_transcript(spark) == golden.transcript
    assert [c["deferred_by_politeness"] for c in result.counters] == [
        c["deferred_by_politeness"] for c in golden.counters
    ]


def test_snapshot_manifest_lineage_and_time_travel(crawl_pair, spark):
    """north_rule: per-round snapshots carry per-partition lineage +
    counters; snapshot ids chain; state tables time-travel by round."""
    import json
    import os

    _, result, engine = crawl_pair
    snaps = engine.snapshots()
    assert [s["round"] for s in snaps] == sorted(s["round"] for s in snaps)
    last = snaps[-1]
    assert last["snapshot_id"] == "r%05d" % (result.rounds - 1)
    lin = last["lineage"]
    assert lin["output_files"]["frontier"], "frontier snapshot lists its files"
    assert set(lin["output_files"]) >= {"frontier", "errors", "extracted"}
    assert "seen" not in lin["output_files"]  # the round writes no seen files
    # per-partition extracted-row counters sum to the round's fetch output
    base = os.path.join(result.workdir, "round_%05d" % (result.rounds - 1))
    n_extracted = spark.read.parquet(os.path.join(base, "extracted")).count()
    assert sum(lin["extracted_rows_per_partition"].values()) == n_extracted
    # chain: every non-first snapshot names its parent
    for prev, cur in zip(snaps, snaps[1:]):
        assert cur["parent_snapshot"] == prev["snapshot_id"]
    # per-phase walls: every round records the same named phases (this
    # crawl has politeness on and no compaction), in execution order
    phases = [
        "counts_agg", "batch_select", "fetch_join", "extract", "links_canon",
        "dedup_antijoin", "write_errors", "write_extracted",
        "write_transcript", "write_frontier_deltas",
        "write_host_state_delta",
    ]
    for s in snaps:
        assert list(s["phase_s"]) == phases, s["round"]
        assert all(v >= 0.0 for v in s["phase_s"].values())
    # time travel: seen-set is monotone across the last two snapshots
    if len(snaps) >= 2 and result.rounds >= 2:
        r = result.rounds - 1
        seen_now = {row.url_canon for row in engine.read_table("seen", r).collect()}
        seen_prev = {row.url_canon for row in engine.read_table("seen", r - 1).collect()}
        assert seen_prev <= seen_now


def test_diff_snapshots_changefeed(crawl_pair, spark):
    """CDC export between two committed rounds: every diff table equals
    the exact set difference of the materialized time-travel reads —
    while the seen/host_state fast paths never read pre-`from` state
    (append-only log arithmetic)."""
    import os

    _, result, engine = crawl_pair
    last = result.rounds - 1
    mid = last // 2
    assert mid < last, "fixture must commit >= 2 rounds"
    d = engine.diff_snapshots(mid, last)

    s_mid = {r["url_hash"] for r in engine.read_table("seen", mid).collect()}
    s_last = {r["url_hash"] for r in engine.read_table("seen", last).collect()}
    assert {r["url_hash"] for r in d["seen_added"].collect()} == s_last - s_mid
    assert s_last - s_mid, "fixture grows the seen set after mid"

    f_mid = {r["url"] for r in engine.read_table("frontier", mid).collect()}
    f_last = {r["url"] for r in engine.read_table("frontier", last).collect()}
    assert {r["url"] for r in d["frontier_added"].collect()} == f_last - f_mid
    assert {r["url"] for r in d["frontier_removed"].collect()} == f_mid - f_last
    assert f_mid - f_last, "fixture crawls mid-frontier urls after mid"

    h_mid = {r["host"]: r["next_time"] for r in engine.read_table("host_state", mid).collect()}
    h_last = {r["host"]: r["next_time"] for r in engine.read_table("host_state", last).collect()}
    got_h = {r["host"]: r["next_time"] for r in d["host_state_changed"].collect()}
    assert got_h == {
        h: t for h, t in h_last.items() if h not in h_mid or t > h_mid[h]
    }

    n_expected = 0
    for r in range(mid + 1, last + 1):
        p = os.path.join(result.workdir, "round_%05d" % r, "extracted")
        if os.path.isdir(p):
            n_expected += spark.read.parquet(p).count()
    assert d["extracted_added"].count() == n_expected > 0

    empty = engine.diff_snapshots(last, last)
    assert all(v.count() == 0 for v in empty.values())
    with pytest.raises(ValueError):
        engine.diff_snapshots(last, mid)
    with pytest.raises(FileNotFoundError):
        engine.diff_snapshots(mid, last + 999)


def test_seen_delta_log_append_only(crawl_pair, spark):
    """north_rule scale invariant: the seen log grows per round by that
    round's NEW urls (append-only log), never the cumulative set; the
    entries are disjoint and their union is exactly the seen set."""
    import os

    golden, result, engine = crawl_pair
    per_delta = {
        rel: spark.read.parquet(os.path.join(result.workdir, rel)).count()
        for rel in engine.snapshots()[-1]["seen_deltas"]
    }
    # one entry per round, sized by that round's scheduled (new) urls
    for c in result.counters:
        assert per_delta["frontier_log/add_%05d" % c["round"]] == c["scheduled"]
    # disjoint appends: sizes sum to the full seen set (no rewrite ever)
    assert sum(per_delta.values()) == len(golden.seen)


def test_seen_compaction_and_resume(spark, tiny_fixture, tmp_path_factory):
    """Delta-log compaction must not change semantics: transcript and
    seen set equal the reference model, and a killed run resumes across
    a compacted log."""
    import os

    pages, seeds, robots = _load(tiny_fixture)
    golden = _run_refmodel(pages, seeds, robots, batch_cap=40, max_rounds=5)
    wd = str(tmp_path_factory.mktemp("compact_work"))
    mk = lambda: CrawlEngine(  # noqa: E731
        spark,
        spark.read.parquet(tiny_fixture["pages"]),
        _registry(),
        robots_df=spark.read.parquet(tiny_fixture["robots"]),
        config=EngineConfig(
            batch_cap=40, max_rounds=5, workdir=wd,
            seen_compact_min_deltas=2),
    )
    mk().run(seeds, max_rounds=2)
    engine = mk()
    result = engine.run(seeds, max_rounds=5, resume=True)
    assert result.read_transcript(spark) == golden.transcript
    seen = {row.url_canon for row in engine.read_table("seen").collect()}
    assert seen == golden.seen
    # the log stays bounded: compaction keeps ≤ min_deltas dirs around
    droot = os.path.join(wd, "seen_deltas")
    assert len(os.listdir(droot)) <= 2
    _assert_reaped(engine)


def test_frontier_log_bounded_writes(crawl_pair, spark):
    """The frontier is a merge-on-read log: per-round writes are the add
    delta (this round's new links), and the del entry is the round's
    transcript (the dequeued batch) — bounded by batch outputs, never
    O(|frontier|) — and read_table reconstructs the exact frontier."""
    import os

    golden, result, engine = crawl_pair
    droot = os.path.join(result.workdir, "frontier_log")
    names = sorted(os.listdir(droot))
    # no full materialization happened (default compact_every=8 > rounds)
    assert not any(n.startswith("base_0") for n in names)
    # the dequeued urls are written once, as the transcript
    assert not any(n.startswith("del_") for n in names)
    snaps = engine.snapshots()
    for c in result.counters:
        r = c["round"]
        n_add = spark.read.parquet(os.path.join(droot, "add_%05d" % r)).count()
        assert n_add == c["scheduled"]
        del_rel = snaps[r]["frontier_log"]["dels"][-1]
        assert del_rel == "round_%05d/transcript" % r
        n_del = spark.read.parquet(os.path.join(result.workdir, del_rel)).count()
        assert n_del <= 40  # batch_cap
    # merged view at the last snapshot: every url is either unfetched or
    # pending; none of the dequeued urls remain
    frontier = engine.read_table("frontier").toPandas()
    dequeued = {u for roundlist in result.read_transcript(spark) for u in roundlist}
    assert not (set(frontier.url_canon) & dequeued)
    _assert_reaped(engine)


def test_frontier_compaction_and_resume(spark, tiny_fixture, tmp_path_factory):
    """Frontier-log compaction must not change semantics: transcript
    equals the reference model and a killed run resumes across a
    compacted log (base rewritten every 2 rounds)."""
    import os

    pages, seeds, robots = _load(tiny_fixture)
    golden = _run_refmodel(pages, seeds, robots, batch_cap=40, max_rounds=5)
    wd = str(tmp_path_factory.mktemp("fcompact_work"))
    mk = lambda: CrawlEngine(  # noqa: E731
        spark,
        spark.read.parquet(tiny_fixture["pages"]),
        _registry(),
        robots_df=spark.read.parquet(tiny_fixture["robots"]),
        config=EngineConfig(
            batch_cap=40, max_rounds=5, workdir=wd,
            frontier_compact_every=2),
    )
    mk().run(seeds, max_rounds=3)
    engine = mk()
    result = engine.run(seeds, max_rounds=5, resume=True)
    assert result.read_transcript(spark) == golden.transcript
    # compaction ran and consumed dirs were dropped: the log stays small
    # (the add dirs the seen log still lists stay on disk; _assert_reaped
    # checks that exactly the referenced dirs remain)
    droot = os.path.join(wd, "frontier_log")
    assert any(n.startswith("base_0") for n in os.listdir(droot))
    log = engine.snapshots()[-1]["frontier_log"]
    assert 1 + len(log["adds"]) <= 3  # base + ≤2 adds (dels are transcripts)
    _assert_reaped(engine)


def test_resume_legacy_del_dirs_through_compaction(spark, tiny_fixture, tmp_path_factory):
    """Workdirs written before the transcript became the del entry list
    ``frontier_log/del_NNNNN`` dirs (url_canon only) as their dels. Such
    a log resumes exactly — the reaper keeps the legacy dirs while the
    manifest references them — and the first frontier compaction drops
    them, never a transcript."""
    import json
    import os

    pages, seeds, robots = _load(tiny_fixture)
    golden = _run_refmodel(pages, seeds, robots, batch_cap=40, max_rounds=5)
    wd = str(tmp_path_factory.mktemp("legacy_del_work"))
    mk = lambda: CrawlEngine(  # noqa: E731
        spark,
        spark.read.parquet(tiny_fixture["pages"]),
        _registry(),
        robots_df=spark.read.parquet(tiny_fixture["robots"]),
        config=EngineConfig(
            batch_cap=40, max_rounds=5, workdir=wd,
            frontier_compact_every=4),
    )
    mk().run(seeds, max_rounds=2)  # rounds 0-1, no compaction
    legacy = ["frontier_log/del_%05d" % r for r in range(2)]
    for r, rel in enumerate(legacy):
        spark.read.parquet(os.path.join(wd, "round_%05d" % r, "transcript")).select(
            "url_canon"
        ).write.parquet(os.path.join(wd, rel))
        mpath = os.path.join(wd, "round_%05d" % r, "manifest.json")
        with open(mpath) as f:
            m = json.load(f)
        assert m["frontier_log"]["dels"] == [
            "round_%05d/transcript" % rr for rr in range(r + 1)
        ]
        m["frontier_log"]["dels"] = legacy[: r + 1]
        with open(mpath, "w") as f:
            json.dump(m, f)

    engine = mk()
    engine.run(seeds, max_rounds=3, resume=True)  # round 2: 3 adds, no compaction
    assert engine.snapshots()[-1]["frontier_log"]["dels"] == legacy + [
        "round_00002/transcript"
    ]
    assert all(os.path.isdir(os.path.join(wd, rel)) for rel in legacy)
    _assert_reaped(engine)

    engine = mk()
    result = engine.run(seeds, max_rounds=5, resume=True)  # round 3 compacts
    assert result.read_transcript(spark) == golden.transcript
    seen = {row.url_canon for row in engine.read_table("seen").collect()}
    assert seen == golden.seen
    assert engine.snapshots()[3]["frontier_log"]["base"] == "frontier_log/base_00003"
    assert not any(os.path.isdir(os.path.join(wd, rel)) for rel in legacy)
    _assert_reaped(engine)


def test_resume_rejects_changed_seen_buckets(spark, tiny_fixture, tmp_path_factory):
    """The manifest pins seen_buckets: bucketed seen deltas store
    sb = pmod(url_hash, B) as a hive partition value, so resuming (or
    reading seen) under a different B would make the membership probe's
    bucket prune silently skip partitions holding matching rows — seen
    urls would re-enter the frontier. Must fail loudly instead; the
    same B resumes fine."""
    pages, seeds, robots = _load(tiny_fixture)
    wd = str(tmp_path_factory.mktemp("sb_pin_work"))
    mk = lambda B: CrawlEngine(  # noqa: E731
        spark,
        spark.read.parquet(tiny_fixture["pages"]),
        _registry(),
        robots_df=spark.read.parquet(tiny_fixture["robots"]),
        config=EngineConfig(
            batch_cap=40, max_rounds=4, workdir=wd, seen_buckets=B),
    )
    mk(8).run(seeds, max_rounds=2)
    # same B -> resume OK
    mk(8).run(seeds, max_rounds=3, resume=True)
    # different B -> refused (resume AND seen read)
    with pytest.raises(ValueError, match="seen_buckets"):
        mk(16).run(seeds, max_rounds=4, resume=True)
    with pytest.raises(ValueError, match="seen_buckets"):
        mk(16).read_table("seen")


@pytest.mark.parametrize(
    "cap,rounds,kw",
    [
        (7, 5, {}),  # tiny batches: many deferrals, deep rounds
        (120, 3, {"seen_compact_min_deltas": 2, "frontier_compact_every": 1}),
        (40, 4, {"hot_host_threshold": 2, "_MAX_HOT_HOSTS": 4,
                 "frontier_compact_every": 2}),
        # membership-check strategy matrix: force the classic shuffle
        # anti-join (a zero broadcast row cap, which also sends the
        # robots stamp to the pruned-scan IN-list probe) and a
        # single-bucket seen layout (no pruning possible) — all must be
        # transcript-identical
        (40, 4, {"_seen_probe_max": lambda: 0}),
        (40, 4, {"seen_buckets": 1}),
        # politeness-stamp strategy matrix: past the IN-list size the
        # stamp semi-joins the robots_dim scan against the broadcast host
        # set (cap 49: just below the fixture's 50 robots hosts) or, with
        # a zero cap, takes the shuffle join — both must be
        # transcript-identical
        (40, 4, {"_seen_probe_max": lambda: 49, "_PRUNE_MAX_PROBE": 0}),
        (40, 4, {"_seen_probe_max": lambda: 0, "_PRUNE_MAX_PROBE": 0}),
    ],
)
def test_engine_matches_refmodel_across_configs(
    spark, tiny_fixture, tmp_path_factory, cap, rounds, kw
):
    """Config matrix: odd batch caps, per-round compaction of BOTH delta
    logs, near-universal hot-host routing and every membership-check and
    robots-stamp strategy must all reproduce the sequential reference
    model exactly. ``kw`` keys starting with "_" are set on the engine
    instance (class constants and the broadcast row cap); the rest are
    EngineConfig fields."""
    pages, seeds, robots = _load(tiny_fixture)
    golden = _run_refmodel(pages, seeds, robots, batch_cap=cap, max_rounds=rounds)
    engine = CrawlEngine(
        spark,
        spark.read.parquet(tiny_fixture["pages"]),
        _registry(),
        robots_df=spark.read.parquet(tiny_fixture["robots"]),
        config=EngineConfig(
            batch_cap=cap, max_rounds=rounds,
            workdir=str(tmp_path_factory.mktemp("cfg_work")),
            **{k: v for k, v in kw.items() if not k.startswith("_")}),
    )
    for k, v in kw.items():
        if k.startswith("_"):
            setattr(engine, k, v)
    result = engine.run(seeds)
    assert result.read_transcript(spark) == golden.transcript
    keys = ["fetched", "deduped", "deferred_by_politeness", "expired"]
    for got, exp in zip(result.counters, golden.counters):
        assert {k: got[k] for k in keys} == {k: exp[k] for k in keys}
    _assert_reaped(engine)


def test_crash_between_delta_write_and_commit_replays_cleanly(
    spark, tiny_fixture, tmp_path_factory
):
    """Crash-window semantics: if a round dies AFTER its frontier add
    dir (also its seen entry) is renamed but BEFORE the manifest commit,
    the dir is an unreferenced orphan; resume must replay the round,
    overwrite it, and end bit-identical to an uninterrupted run (Iceberg
    orphan-file semantics)."""
    import os
    import shutil

    pages, seeds, robots = _load(tiny_fixture)
    golden = _run_refmodel(pages, seeds, robots, batch_cap=40, max_rounds=4)
    wd = str(tmp_path_factory.mktemp("crash_work"))
    mk = lambda: CrawlEngine(  # noqa: E731
        spark,
        spark.read.parquet(tiny_fixture["pages"]),
        _registry(),
        robots_df=spark.read.parquet(tiny_fixture["robots"]),
        config=EngineConfig(batch_cap=40, max_rounds=4, workdir=wd),
    )
    mk().run(seeds, max_rounds=3)  # rounds 0..2 committed
    # simulate the crash window during round 2: delete the committed
    # round dir (manifest gone) but leave its add dir as an orphan
    shutil.rmtree(os.path.join(wd, "round_00002"))
    assert os.path.isdir(os.path.join(wd, "frontier_log", "add_00002"))  # orphan
    engine = mk()
    result = engine.run(seeds, max_rounds=4, resume=True)  # replays r2, runs r3
    assert result.read_transcript(spark) == golden.transcript
    seen = {row.url_canon for row in engine.read_table("seen").collect()}
    assert seen == golden.seen
    _assert_reaped(engine)


def test_resume_across_hive_layout_seen_deltas(spark, tiny_fixture, tmp_path_factory):
    """Older workdirs hold their seen entries in other layouts: hive
    ``seen_deltas/delta=<name>/sb=NN`` dirs (per-round and compacted),
    and flat ``seen_deltas/delta_*`` dirs of the seen columns with a
    stored ``first_round``. Resuming a log that MIXES those with this
    layout's frontier add entries, and finally compacting all of them,
    must match the reference model's transcript and seen set exactly and
    keep every url's first_round."""
    import json
    import os

    pages, seeds, robots = _load(tiny_fixture)
    golden = _run_refmodel(pages, seeds, robots, batch_cap=40, max_rounds=5)
    wd = str(tmp_path_factory.mktemp("hive_seen_work"))
    mk = lambda min_deltas: CrawlEngine(  # noqa: E731
        spark,
        spark.read.parquet(tiny_fixture["pages"]),
        _registry(),
        robots_df=spark.read.parquet(tiny_fixture["robots"]),
        config=EngineConfig(
            batch_cap=40, max_rounds=5, workdir=wd,
            seen_compact_min_deltas=min_deltas),
    )
    old = mk(0)
    old.run(seeds, max_rounds=3)  # rounds 0..2, no compaction
    mpath = os.path.join(wd, "round_00002", "manifest.json")
    with open(mpath) as f:
        manifest = json.load(f)
    adds = manifest["seen_deltas"]
    assert adds == ["frontier_log/base_seed"] + [
        "frontier_log/add_%05d" % r for r in range(3)
    ]
    pairs = lambda df: sorted((r.url_canon, r.first_round) for r in df.collect())  # noqa: E731
    want = pairs(old._read_seen(adds))
    # rewrite the committed seen log in the three layouts: the seed entry
    # as a hive compacted dir, round 0 as a hive per-round dir, round 1 as
    # a flat seen_deltas/delta_* dir with a first_round column, and round
    # 2's add entry as it is. The frontier dirs stay on disk: the frontier
    # log still references them.
    seen_cols = ["url_canon", "url_hash", "host_hash", "first_round"]
    rels = [
        old._write_seen_delta(old._read_seen(adds[:1]), "compact_00000"),
        old._write_seen_delta(old._read_seen(adds[1:2]), "delta_00000"),
        old._write_delta(
            old._read_seen(adds[2:3]).select(*seen_cols), "delta_00001", "seen_deltas"
        ),
        adds[3],
    ]
    assert rels == ["seen_deltas/delta=compact_00000", "seen_deltas/delta=delta_00000",
                    "seen_deltas/delta_00001", "frontier_log/add_00002"]
    manifest["seen_deltas"] = rels
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    assert pairs(old.read_table("seen")) == want

    # round 3 probes the mixed log and appends its add entry; round 4
    # compacts all three layouts together
    engine = mk(6)
    result = engine.run(seeds, max_rounds=5, resume=True)
    assert result.read_transcript(spark) == golden.transcript
    assert engine._seen_rels == ["seen_deltas/delta=compact_00004"]
    seen = {row.url_canon for row in engine.read_table("seen").collect()}
    assert seen == golden.seen
    compacted = dict(pairs(engine.read_table("seen")))
    assert [(u, compacted[u]) for u, _ in want] == want
    r3 = engine.snapshots()[3]["seen_deltas"]
    assert r3 == rels + ["frontier_log/add_00003"]
    _assert_reaped(engine)


def test_seen_entries_outlive_frontier_compaction(spark, tiny_fixture, tmp_path_factory):
    """The seen log's entries are the frontier's dirs, so a frontier
    compaction must not take the add dirs the seen log still lists: they
    stay on disk, and the seen read stays exact, until the seen
    compaction replaces them — only then does the reaper delete them."""
    import os

    pages, seeds, robots = _load(tiny_fixture)
    wd = str(tmp_path_factory.mktemp("shared_dirs_work"))
    mk = lambda: CrawlEngine(  # noqa: E731
        spark,
        spark.read.parquet(tiny_fixture["pages"]),
        _registry(),
        robots_df=spark.read.parquet(tiny_fixture["robots"]),
        config=EngineConfig(
            batch_cap=40, max_rounds=5, workdir=wd,
            frontier_compact_every=2, seen_compact_min_deltas=4),
    )
    shared = ["frontier_log/base_seed", "frontier_log/add_00000", "frontier_log/add_00001"]
    engine = mk()
    engine.run(seeds, max_rounds=2)  # round 1 compacts the frontier log
    m = engine.snapshots()[-1]
    assert m["frontier_log"] == {"base": "frontier_log/base_00001", "adds": [], "dels": []}
    assert m["seen_deltas"] == shared
    assert all(os.path.isdir(os.path.join(wd, rel)) for rel in shared)
    _assert_reaped(engine)
    seen = {row.url_canon for row in engine.read_table("seen").collect()}
    assert seen == _run_refmodel(pages, seeds, robots, batch_cap=40, max_rounds=2).seen

    engine = mk()
    result = engine.run(seeds, max_rounds=3, resume=True)  # round 2 compacts seen
    m = engine.snapshots()[-1]
    assert m["seen_deltas"] == ["seen_deltas/delta=compact_00002"]
    assert m["frontier_log"]["adds"] == ["frontier_log/add_00002"]
    assert not any(os.path.isdir(os.path.join(wd, rel)) for rel in shared)
    _assert_reaped(engine)
    golden = _run_refmodel(pages, seeds, robots, batch_cap=40, max_rounds=3)
    assert result.read_transcript(spark) == golden.transcript
    seen = {row.url_canon for row in engine.read_table("seen").collect()}
    assert seen == golden.seen


def test_middleware_chain_aborts_before_fetch(spark, tiny_fixture, tmp_path_factory):
    """Middleware semantics (crawler.go:153-158): runs after dequeue, so
    aborted rows appear in the transcript but are never fetched; errors
    carry the middleware's message; later middlewares don't see them."""
    import os

    from pyspark.sql import functions as F

    pages, seeds, robots = _load(tiny_fixture)
    base = _run_refmodel(pages, seeds, robots, batch_cap=40, max_rounds=2)
    blocked_host = "host0.example"

    def block_host0(df):
        return df.withColumn(
            "mw_error",
            F.when(F.col("host") == blocked_host, F.lit("blocked:host0")),
        )

    def block_host2(df):  # must only see survivors of block_host0
        return df.withColumn(
            "mw_error",
            F.when(F.col("host") == "host2.example", F.lit("blocked:host2")),
        )

    engine = CrawlEngine(
        spark,
        spark.read.parquet(tiny_fixture["pages"]),
        _registry(),
        robots_df=spark.read.parquet(tiny_fixture["robots"]),
        config=EngineConfig(
            batch_cap=40, max_rounds=2,
            workdir=str(tmp_path_factory.mktemp("mw_work"))),
        middlewares=[block_host0, block_host2],
    )
    result = engine.run(seeds)
    # transcript = dequeue order: identical to the no-middleware model
    assert result.read_transcript(spark)[0] == base.transcript[0]
    all_errs = pd.concat(
        [
            spark.read.parquet(
                os.path.join(result.workdir, "round_%05d" % r, "errors")
            ).toPandas()
            for r in range(result.rounds)
        ]
    )
    mw_errs = all_errs[all_errs.error_class == "middleware"]
    assert len(mw_errs) > 0
    # regression (round-1 bug): the errors union must keep EVERY part —
    # the 2nd middleware's aborts and the fetch misses, not just part[1]
    assert set(mw_errs.message) == {"blocked:host0", "blocked:host2"}
    for _, e in mw_errs.iterrows():
        host = "host0" if e.message == "blocked:host0" else "host2"
        assert e.url.startswith("http://%s.example" % host)
    miss = all_errs[all_errs.error_class == "fetch_miss"]
    assert any(u.startswith("http://nowhere") for u in miss.url)
    errs = spark.read.parquet(
        os.path.join(result.workdir, "round_%05d" % (result.rounds - 1), "errors")
    ).toPandas()
    # blocked rows were never fetched: extracted has no host0 rows
    ext = spark.read.parquet(
        os.path.join(result.workdir, "round_%05d" % (result.rounds - 1), "extracted")
    ).toPandas()
    assert not any(u.startswith("http://host0.example/") for u in ext.url_canon)


def test_staged_seed_pickup_at_round_boundary(spark, tiny_fixture, tmp_path_factory):
    """SURVEY §3.3: out-of-band seeds staged by the streaming feed are
    picked up at the next round boundary — including into an EMPTY
    frontier — exactly once (re-drains are dropped by the seen set)."""
    import json
    import os

    from crawl_spark.streaming.feed import seed_feed_stream

    pages = pd.read_parquet(tiny_fixture["pages"])
    urls = sorted(pages["url"])
    base = str(tmp_path_factory.mktemp("staged_pickup"))
    in_dir, staging, ck = [os.path.join(base, d) for d in ("in", "staged", "ck")]
    os.makedirs(in_dir)

    def stage(batch_name, stage_urls):
        with open(os.path.join(in_dir, batch_name), "w") as f:
            for u in stage_urls:
                f.write(json.dumps({"url": u, "callbacks": ["page"],
                                    "event_ts": "2026-01-01T00:00:00Z"}) + "\n")
        q = seed_feed_stream(spark, in_dir, staging, ck, available_now=True)
        q.awaitTermination(120)

    stage("b1.json", [urls[0], urls[0], urls[1]])  # dup collapses in-stream
    wd = os.path.join(base, "wd")
    mk = lambda: CrawlEngine(  # noqa: E731
        spark,
        spark.read.parquet(tiny_fixture["pages"]),
        _registry(),
        config=EngineConfig(batch_cap=40, max_rounds=2, workdir=wd,
                            staged_seeds_dir=staging),
    )
    res = mk().run([])  # NO direct seeds: frontier starts empty
    assert res.counters[0]["staged"] == 2
    assert res.read_transcript(spark)[0] == sorted([urls[0], urls[1]])
    assert res.rounds == 2  # their links crawl in round 1

    # second out-of-band batch lands while "the job was down"; resume
    # must pick up ONLY the not-yet-seen url (urls[0] is in seen)
    seen_mid = {r.url_canon for r in mk().read_table("seen").collect()}
    fresh_url = next(u for u in urls if u not in seen_mid)
    stage("b2.json", [urls[0], fresh_url])
    res2 = mk().run([], max_rounds=4, resume=True)
    assert res2.counters[2]["staged"] == 1
    transcript2 = res2.read_transcript(spark)
    assert urls[0] not in {u for t in transcript2[2:] for u in t}
    engine = mk()
    seen = {r.url_canon for r in engine.read_table("seen").collect()}
    assert {urls[0], urls[1], fresh_url} <= seen
    # the staged row entered the crawl: either already fetched (FIFO
    # places staged seqs after the same round's links, so it may wait
    # behind the batch cap) or still queued in the frontier
    crawled = {u for t in transcript2[2:] for u in t}
    queued = {r.url_canon for r in engine.read_table("frontier").collect()}
    assert fresh_url in (crawled | queued)
    # high-watermark: the latest manifest records every drained staged
    # file, so later drains never re-read them (ADVICE r2: pickup cost is
    # O(new files), not O(all files ever staged))
    last = max(
        d for d in os.listdir(wd) if d.startswith("round_") and not d.endswith(".tmp")
    )
    with open(os.path.join(wd, last, "manifest.json")) as f:
        drained = set(json.load(f)["staged_drained"])
    staged_files = {f for f in os.listdir(staging) if f.endswith(".parquet")}
    assert staged_files <= drained and len(staged_files) >= 2


@pytest.mark.parametrize("mode", ["robots", "no_robots", "staged_empty"])
def test_crawl_control_path_builds_no_python_frames(
    spark, tiny_fixture, tmp_path_factory, monkeypatch, mode
):
    """The crawl's control path stays in the JVM: no frame on it is built
    from a Python list (``createDataFrame`` ships list rows through
    ``parallelize``, whose Python workers form a pool beside the UDF
    kernels' one), and the seed's pandas frame takes the Arrow path with
    no fallback. Three ways: robots on; robots off, crawled 2 rounds and
    resumed, where every manifest pins the fingerprint an empty robots
    table gives; and an empty staged-seeds dir."""
    import json
    import os

    pages, seeds, robots = _load(tiny_fixture)
    if mode == "no_robots":
        robots = robots.iloc[0:0]
    golden = _run_refmodel(pages, seeds, robots, batch_cap=40, max_rounds=4)
    base = str(tmp_path_factory.mktemp("jvm_only_" + mode))
    wd, staged = os.path.join(base, "wd"), os.path.join(base, "staged")
    os.makedirs(staged)
    mk = lambda: CrawlEngine(  # noqa: E731
        spark,
        spark.read.parquet(tiny_fixture["pages"]),
        _registry(),
        robots_df=(
            None if mode == "no_robots" else spark.read.parquet(tiny_fixture["robots"])
        ),
        config=EngineConfig(
            batch_cap=40, max_rounds=4, workdir=wd,
            staged_seeds_dir=staged if mode == "staged_empty" else None),
    )

    real = type(spark).createDataFrame

    def pandas_only(self, data, *args, **kwargs):
        assert isinstance(data, pd.DataFrame), (
            "list-based createDataFrame on the crawl path: %s" % type(data).__name__
        )
        return real(self, data, *args, **kwargs)

    monkeypatch.setattr(type(spark), "createDataFrame", pandas_only)
    key = "spark.sql.execution.arrow.pyspark.fallback.enabled"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        if mode == "no_robots":
            mk().run(seeds, max_rounds=2)
            engine = mk()
            result = engine.run(seeds, resume=True)
            for m in engine.snapshots():
                assert m["robots"] == {"n": 0, "fp": 0, "default_crawl_delay": 0.0}
        else:
            engine = mk()
            result = engine.run(seeds)
        transcript = result.read_transcript(spark)
        seen = {row.url_canon for row in engine.read_table("seen").collect()}
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert transcript == golden.transcript
    assert seen == golden.seen


def test_request_fields_ride_the_frontier(spark, tiny_fixture, tmp_path_factory):
    """Full Request parity (request.go:13-32): method/form/query/cookies/
    header survive seed stamping with exact values; scheduled links get
    null extras (plain GETs)."""
    engine = CrawlEngine(
        spark,
        spark.read.parquet(tiny_fixture["pages"]),
        _registry(),
        config=EngineConfig(workdir=str(tmp_path_factory.mktemp("req_work"))),
    )
    seeds = [
        {
            "url": "http://host1.example/p/1",
            "method": "post",
            "form": {"a": ["1", "2"]},
            "query": {"q": ["x"]},
            "cookies": {"sid": ["s1"]},
            "header": {"X-K": "v"},
            "callbacks": ["page"],
        },
        {"url": "http://host2.example/p/2", "callbacks": ["page"]},
    ]
    rows = {r.url: r for r in engine.seed_frontier(seeds).collect()}
    r1 = rows["http://host1.example/p/1"]
    assert r1.method == "post"
    assert dict(r1.form) == {"a": ["1", "2"]}
    assert dict(r1.query) == {"q": ["x"]}
    assert dict(r1.cookies) == {"sid": ["s1"]}
    assert dict(r1.header) == {"X-K": "v"}
    r2 = rows["http://host2.example/p/2"]
    assert r2.method is None and r2.form is None and r2.header is None


def test_bucketed_pages_fetch_pruning(spark, tiny_fixture, tmp_path_factory):
    """SURVEY §4.2 fetch-side layout: with pages hive-partitioned by
    pmod(hash(url), B), the fetch joins prune to the batch's buckets —
    same transcript/counters as the flat layout, strictly fewer files
    scanned per round."""
    import os

    from pyspark.sql import functions as F

    from crawl_spark.sources.fixtures import write_bucketed_pages

    pages, seeds, robots = _load(tiny_fixture)
    golden = _run_refmodel(pages, seeds, robots, batch_cap=40, max_rounds=4)
    B = 16
    bp = str(tmp_path_factory.mktemp("bucketed")) + "/pages"
    write_bucketed_pages(spark.read.parquet(tiny_fixture["pages"]), bp, B)
    bucketed = spark.read.parquet(bp)
    engine = CrawlEngine(
        spark,
        bucketed,
        _registry(),
        robots_df=spark.read.parquet(tiny_fixture["robots"]),
        config=EngineConfig(
            batch_cap=40, max_rounds=4, pages_buckets=B,
            workdir=str(tmp_path_factory.mktemp("bp_work")),
        ),
    )
    result = engine.run(seeds)
    assert result.read_transcript(spark) == golden.transcript
    keys = ["fetched", "deduped", "deferred_by_politeness", "expired"]
    for got, exp in zip(result.counters, golden.counters):
        assert {k: got[k] for k in keys} == {k: exp[k] for k in keys}
    # pruning evidence: the bucket filter reaches the parquet scan as a
    # PARTITION filter (directory-level skip), not a post-scan row filter
    plan = (
        bucketed.filter(F.col("pb").isin([0, 1, 2]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    pf = next(
        (ln for ln in plan.splitlines() if "PartitionFilters" in ln), ""
    )
    # e.g. "... PartitionFilters: [pb#12 IN (0,1,2)], ..." — a non-empty
    # filter list naming the bucket column
    assert "PartitionFilters: [pb#" in pf, pf
    assert "DataFilters: []" in pf, pf  # pruned at listing, no row filter


def test_seen_probe_prune_threshold(spark, tiny_fixture, tmp_path_factory):
    """_links_minus_seen: probes at or below _PRUNE_MAX_PROBE prune
    the seen scan to the touched sb buckets (PartitionFilters on the
    compacted dirs' sb= partitions); larger probes skip the bucket-
    collect job entirely. Both strategies must equal the plain shuffle
    anti-join exactly."""
    import os

    from pyspark.sql import functions as F

    pages, seeds, robots = _load(tiny_fixture)
    engine = CrawlEngine(
        spark,
        spark.read.parquet(tiny_fixture["pages"]),
        _registry(),
        robots_df=spark.read.parquet(tiny_fixture["robots"]),
        config=EngineConfig(
            batch_cap=40, max_rounds=3, seen_compact_min_deltas=2,
            workdir=str(tmp_path_factory.mktemp("probe_work")),
        ),
    )
    engine.run(seeds)
    # the bucketed layout is the compaction output: the log's base is one
    assert any(
        os.path.basename(rel).startswith("delta=compact_") for rel in engine._seen_rels
    ), engine._seen_rels
    seen = engine.read_table("seen")
    # probe = half already-seen urls, half fresh — exercises both join outcomes
    half = seen.select("url_canon", "url_hash").limit(8)
    fresh = spark.range(8).select(
        F.concat(F.lit("http://new.example/x/"), F.col("id")).alias("url_canon"),
        F.xxhash64(F.col("id")).alias("url_hash"),
    )
    links = half.unionByName(fresh).localCheckpoint(eager=True)
    expected = sorted(
        r.url_canon
        for r in links.join(seen.select("url_canon"), "url_canon", "left_anti").collect()
    )
    n = links.count()

    pruned = engine._links_minus_seen(links, seen, n)  # 16 ≤ 2048 → prunes
    assert sorted(r.url_canon for r in pruned.select("url_canon").collect()) == expected
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # bucket prune: PartitionFilters: [sb# IN (...)] (printed as INSET
    # past 10 buckets) skips untouched sb= dirs at listing time
    def sb_pruned(ln):
        return (
            "PartitionFilters: [" in ln and "sb#" in ln
            and (" IN (" in ln or " INSET " in ln)
        )

    pf = [ln for ln in plan.splitlines() if sb_pruned(ln)]
    assert pf, plan  # the seen scan is bucket-pruned at listing time
    assert "Exchange hashpartitioning(url_canon" not in plan  # seen never shuffles

    engine._PRUNE_MAX_PROBE = 0  # force the skip-prune branch
    unpruned = engine._links_minus_seen(links, seen, n)
    assert sorted(r.url_canon for r in unpruned.select("url_canon").collect()) == expected
    plan2 = unpruned._jdf.queryExecution().executedPlan().toString()
    assert not any(sb_pruned(ln) for ln in plan2.splitlines())  # full scan
    assert "Exchange hashpartitioning(url_canon" not in plan2  # no seen shuffle


def test_seen_probe_cap_follows_broadcast_threshold(spark, tiny_fixture, tmp_path):
    """The derived probe-row cap is Spark's own parse of
    autoBroadcastJoinThreshold over ~96 B/row; "-1" (auto-broadcast off)
    keeps the 10 MB budget. The same cap decides the robots stamp: the
    whole robots table broadcasts iff it has at most that many rows,
    otherwise the stamp scans the persisted robots_dim."""
    pages = spark.read.parquet(tiny_fixture["pages"])
    robots = spark.read.parquet(tiny_fixture["robots"])  # 50 hosts
    rows = spark.createDataFrame(
        [("host0.example", "/p/1")], "host string, path string"
    )

    def engine():
        return CrawlEngine(
            spark, pages, _registry(), robots_df=robots,
            config=EngineConfig(workdir=str(tmp_path)),
        )

    def stamp_broadcasts(eng):
        # `rows` is a local relation: any FileScan is the robots_dim scan
        stamped = eng._stamp_robots(rows, 1)
        return "FileScan" not in stamped._jdf.queryExecution().executedPlan().toString()

    row_bytes = CrawlEngine._PROBE_ROW_BYTES
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "64MB")
        assert engine()._seen_probe_max() == (64 << 20) // row_bytes
        spark.conf.set(key, "-1")
        assert engine()._seen_probe_max() == (10 << 20) // row_bytes
        # caps 50 and 49 straddle the fixture's 50 robots rows
        for thr, broadcast in [
            ("64MB", True), ("-1", True),
            (str(50 * row_bytes), True), (str(50 * row_bytes - 1), False),
        ]:
            spark.conf.set(key, thr)
            eng = engine()
            assert (eng._n_robots <= eng._seen_probe_max()) == broadcast, thr
            assert stamp_broadcasts(eng) == broadcast, thr
    finally:
        spark.conf.set(key, old)


def test_engine_config_rejects_removed_knobs():
    """The broadcast caps follow one byte budget and the probe sizes are
    engine constants, so their old EngineConfig fields (and the never-set
    ones, and the in-memory transcript copy: ``read_transcript`` reads
    the durable one) are gone; robots_buckets must be a positive int because the
    stamp always probes the rb-bucketed robots_dim above the cap."""
    for name in (
        "default_crawl_delay", "bloom_hashes", "pages_bucket_col",
        "seen_probe_broadcast_max", "robots_broadcast_max",
        "seen_prune_max_probe", "max_hot_hosts", "collect_transcript",
    ):
        with pytest.raises(TypeError):
            EngineConfig(**{name: 0})
    for bad in (None, 0):
        with pytest.raises(ValueError, match="robots_buckets"):
            EngineConfig(robots_buckets=bad)


def test_stamp_robots_branches_agree(spark, tiny_fixture, tmp_path):
    """Above the broadcast row cap the add-time stamp probes the
    persisted robots_dim: up to _PRUNE_MAX_PROBE distinct hosts become
    rb + host IN-lists on the scan, more hosts left-semi the scan against
    the broadcast host set, and a host set above the cap itself takes a
    shuffle join. Each branch must stamp the same (crawl_delay, denied)
    as the small-dim broadcast, row for row."""
    from pyspark.sql import functions as F

    pages = spark.read.parquet(tiny_fixture["pages"])
    rows = (
        pages.select(
            "url",
            F.expr("parse_url(url, 'HOST')").alias("host"),
            F.expr("parse_url(url, 'PATH')").alias("path"),
        )
        .unionByName(spark.createDataFrame(
            [("x1", "host2.example", "/submit/x"), ("x2", "nohost.example", "/x")],
            "url string, host string, path string",
        ))
        .localCheckpoint(eager=True)
    )
    n = rows.count()  # 502 rows over 49 hosts (48 fixture hosts + 1)
    eng = CrawlEngine(
        spark, pages, _registry(),
        robots_df=spark.read.parquet(tiny_fixture["robots"]),
        config=EngineConfig(workdir=str(tmp_path)),
    )

    def stamp(thr=None, prune_max=CrawlEngine._PRUNE_MAX_PROBE):
        key = "spark.sql.autoBroadcastJoinThreshold"
        old = spark.conf.get(key)
        eng._PRUNE_MAX_PROBE = prune_max
        try:
            if thr is not None:
                spark.conf.set(key, thr)
            out = eng._stamp_robots(rows, n)
            plan = out._jdf.queryExecution().executedPlan().toString()
            got = sorted(
                (r.url, r.crawl_delay, r.denied)
                for r in out.select("url", "crawl_delay", "denied").collect()
            )
        finally:
            spark.conf.set(key, old)
        return plan, got

    ref_plan, ref = stamp()
    # `rows` is checkpointed, so any FileScan is the robots_dim scan
    assert "FileScan" not in ref_plan  # 50 rows ≤ the default cap
    assert any(d for _, _, d in ref) and any(c for _, c, _ in ref)
    assert ("x2", None, False) in ref  # no robots row: no delay, allowed

    row_bytes = CrawlEngine._PROBE_ROW_BYTES
    # cap 10 < 49 hosts ≤ 2048: rb + host IN-lists on the robots_dim scan
    plan, got = stamp(thr=str(10 * row_bytes))
    assert got == ref
    assert "FileScan" in plan
    assert "LeftSemi" not in plan and "SortMergeJoin" not in plan, plan
    # cap 49 ≥ 49 hosts, IN-list off: the scan semi-joins the broadcast hosts
    plan, got = stamp(thr=str(49 * row_bytes), prune_max=0)
    assert got == ref
    assert any(
        "BroadcastHashJoin" in ln and "LeftSemi" in ln for ln in plan.splitlines()
    ), plan
    assert "SortMergeJoin" not in plan
    # cap 10 < 49 hosts, IN-list off: shuffle join against the scan
    plan, got = stamp(thr=str(10 * row_bytes), prune_max=0)
    assert got == ref
    assert "SortMergeJoin" in plan and "LeftSemi" not in plan, plan


def test_seen_probe_scans_prebucketing_deltas(spark, tiny_fixture, tmp_path_factory):
    """Resumed old workdirs hold FLAT seen deltas (pre-bucketing layout:
    no delta=/sb= structure). Mixing them into the partitioned scan
    raises CONFLICTING_DIRECTORY_STRUCTURES, and read alone they'd
    surface sb=NULL and be silently dropped by the bucket prune —
    re-admitting every url they record. _read_seen must read them flat,
    COMPUTE sb from url_hash, and keep the membership check exact."""
    import os

    from pyspark.sql import functions as F

    pages, seeds, robots = _load(tiny_fixture)
    wd = str(tmp_path_factory.mktemp("oldseen_work"))
    engine = CrawlEngine(
        spark,
        spark.read.parquet(tiny_fixture["pages"]),
        _registry(),
        config=EngineConfig(batch_cap=40, max_rounds=2, workdir=wd),
    )
    engine.run(seeds)
    # simulate a pre-bucketing delta: flat dir, no sb column/partition
    old = spark.createDataFrame(
        [(F_OLD_HASH, "http://old.example/a"), (F_OLD_HASH + 1, "http://old.example/b")],
        "url_hash long, url_canon string",
    )
    rel = os.path.join("seen_deltas", "delta_legacy")
    old.write.parquet(os.path.join(wd, rel))
    # legacy flat dir (two columns only) + this run's flat per-round deltas
    engine._seen_rels = engine._seen_rels + [rel]
    seen = engine._read_seen(engine._seen_rels)
    B = engine.config.seen_buckets
    legacy = {
        r.url_hash: r.sb
        for r in seen.filter(F.col("url_canon").startswith("http://old.")).collect()
    }
    # sb computed, not NULL — legacy rows participate in pruning exactly
    assert legacy == {h: h % B for h in (F_OLD_HASH, F_OLD_HASH + 1)}
    assert seen.filter(F.col("sb").isNull()).count() == 0

    links = spark.createDataFrame(
        [(F_OLD_HASH, "http://old.example/a"),      # in the legacy delta
         (12345, "http://new.example/fresh")],      # genuinely new
        "url_hash long, url_canon string",
    ).localCheckpoint(eager=True)
    out = engine._links_minus_seen(links, seen, 2)  # 2 <= 2048: prune branch
    assert [r.url_canon for r in out.collect()] == ["http://new.example/fresh"]


F_OLD_HASH = 777001


def test_duplicate_robots_host_rejected(spark, tiny_fixture, tmp_path_factory):
    """One row per host is the join contract: a duplicate host row would
    duplicate frontier rows through the politeness left join."""
    import pytest

    dup = spark.createDataFrame(
        [("h.example", ["/x"], 0.0), ("h.example", ["/y"], 1.0)],
        "host string, disallow array<string>, crawl_delay double",
    )
    with pytest.raises(ValueError, match="one row per host"):
        CrawlEngine(
            spark,
            spark.read.parquet(tiny_fixture["pages"]),
            _registry(),
            robots_df=dup,
            config=EngineConfig(
                batch_cap=10, max_rounds=1,
                workdir=str(tmp_path_factory.mktemp("dup_rb")),
            ),
        )


def test_host_state_delta_log_bounded_merge_and_compaction(
    spark, tiny_fixture, tmp_path_factory
):
    """Politeness state is a merge-on-read delta log (round-4 scale fix:
    the old design broadcast robots and rewrote the full host_state
    table every round — O(|hosts|) per round at a web-scale frontier).
    Checks: per-round appends are bounded by the batch's hosts, the
    per-host MAX over the log equals the reference model's clocks,
    compaction + kill/resume keep the transcript exact, and the robots
    table is persisted ONCE in the bucketed rb=* layout (reused, not
    rewritten, on resume)."""
    import json
    import os

    pages, seeds, robots = _load(tiny_fixture)
    golden = _run_refmodel(pages, seeds, robots, batch_cap=40, max_rounds=5)

    wd = str(tmp_path_factory.mktemp("hs_work"))
    # the fixture robots is below the small-dim broadcast cap —
    # force the pruned-scan probe this test pins
    mk = lambda: _zero_broadcast_cap(CrawlEngine(  # noqa: E731
        spark,
        spark.read.parquet(tiny_fixture["pages"]),
        _registry(),
        robots_df=spark.read.parquet(tiny_fixture["robots"]),
        config=EngineConfig(
            batch_cap=40, max_rounds=5, workdir=wd,
            host_state_compact_min_deltas=4),
    ))
    mk().run(seeds, max_rounds=2)  # "crash" after round 1's commit
    dim = os.path.join(wd, "robots_dim")
    mtime_before_resume = os.path.getmtime(dim)
    engine = mk()
    result = engine.run(seeds, resume=True)
    assert result.read_transcript(spark) == golden.transcript

    # robots dim: bucketed hive layout, fingerprint-pinned, written once
    assert any(d.startswith("rb=") for d in os.listdir(dim))
    with open(os.path.join(dim, "_meta.json")) as f:
        assert json.load(f)["fp"] == engine.robots_fingerprint()
    assert os.path.getmtime(dim) == mtime_before_resume

    # per-round host_state delta is bounded by that round's batch hosts
    # (compacted-away dirs are gone — skip them; at least one must
    # remain from the post-compaction tail)
    checked = 0
    for r, batch in enumerate(result.read_transcript(spark)):
        p = os.path.join(wd, "host_state_log", "hs_%05d" % r)
        if not os.path.isdir(p):
            continue
        n_hosts = len({u.split("/")[2] for u in batch})
        assert spark.read.parquet(p).count() <= n_hosts
        checked += 1
    assert checked >= 1

    # compaction fired (threshold 4 over 5 rounds): the latest manifest
    # references a collapsed log, and read_table merges exactly the
    # reference model's host clocks (per-host MAX over the deltas)
    last = engine.snapshots()[-1]
    assert len(last["host_state_deltas"]) < result.rounds
    merged = {
        row.host: row.next_time
        for row in engine.read_table("host_state").collect()
    }
    assert merged == pytest.approx(golden.host_state)


def test_sitemap_recrawl_frontier_integration(spark, tiny_fixture, tmp_path_factory):
    """Round-4 integration e2e (VERDICT r3 #7): robots `Sitemap:`
    discovery → sitemap parsing → changefreq-driven recrawl scheduling
    → staged-seed pickup into a crawl round with boosted priority.
    The recrawl-due url must be crawled FIRST in round 0 (its boosted
    priority beats the direct seeds under the FIFO key), and the
    not-due url must not be scheduled at all."""
    import json
    import os

    from pyspark.sql import functions as F

    from crawl_spark.functions.robots import sitemap_urls_table
    from crawl_spark.operators.recrawl import recrawl_schedule
    from crawl_spark.sources.sitemap import read_sitemap_files, sitemap_entries
    from crawl_spark.streaming.feed import seed_feed_stream

    base = str(tmp_path_factory.mktemp("smrc"))
    pages = pd.read_parquet(tiny_fixture["pages"])
    urls = sorted(pages["url"])
    sm_dir = os.path.join(base, "sitemaps")
    os.makedirs(sm_dir)

    # 1. discovery: a global `Sitemap:` line in robots.txt
    rb = spark.createDataFrame(
        [("hostX.example",
          "User-agent: *\nDisallow: /private\n"
          "Sitemap: file://%s/map1.xml\n" % sm_dir)],
        "host string, body string",
    )
    assert {r.sitemap_url for r in sitemap_urls_table(rb).collect()} == {
        "file://%s/map1.xml" % sm_dir
    }

    # 2. "fetch" the discovered sitemap (disk read stands in for HTTP)
    target, other = urls[5], urls[6]
    with open(os.path.join(sm_dir, "map1.xml"), "w") as f:
        f.write(
            "<urlset>"
            "<url><loc>%s</loc><changefreq>daily</changefreq></url>"
            "<url><loc>%s</loc><changefreq>never</changefreq></url>"
            "</urlset>" % (target, other)
        )
    entries = sitemap_entries(read_sitemap_files(spark, sm_dir))

    # 3. schedule: both last fetched 2 days ago — daily is overdue (2×),
    # never has NULL interval and must not become due
    now = 1_700_000_000
    fetched = spark.createDataFrame(
        [(target, now - 2 * 86400), (other, now - 2 * 86400)],
        "loc string, last_fetch_ts long",
    )
    due = (
        recrawl_schedule(entries.join(fetched, "loc"), now_ts=now, url_col="loc")
        .filter(F.col("overdue_ratio") >= 1.0)
        .collect()
    )
    assert [r.url for r in due] == [target]
    prio = int(due[0].recrawl_priority)
    assert prio >= 1

    # 4. stage the due url out-of-band with BOOSTED engine priority
    # (engine FIFO is ascending: smaller sorts earlier)
    in_dir, staging, ck = [os.path.join(base, d) for d in ("in", "staged", "ck")]
    os.makedirs(in_dir)
    with open(os.path.join(in_dir, "recrawl.json"), "w") as f:
        f.write(json.dumps({
            "url": target, "priority": -prio, "callbacks": ["page"],
            "event_ts": "2026-01-01T00:00:00Z",
        }) + "\n")
    seed_feed_stream(spark, in_dir, staging, ck, available_now=True)\
        .awaitTermination(120)

    # 5. crawl: 3 direct seeds at priority 0, batch_cap 2 — the staged
    # recrawl url must lead round 0's transcript
    direct = [u for u in urls[:4] if u not in (target, other)][:3]
    eng = CrawlEngine(
        spark,
        spark.read.parquet(tiny_fixture["pages"]),
        _registry(),
        config=EngineConfig(batch_cap=2, max_rounds=2, workdir=os.path.join(base, "wd"),
                            staged_seeds_dir=staging),
    )
    res = eng.run([{"url": u, "callbacks": ["page"]} for u in direct])
    assert res.counters[0]["staged"] == 1
    transcript = res.read_transcript(spark)
    assert transcript[0][0] == target
    assert all(other not in t for t in transcript)


def test_robots_dim_rebuilt_when_missing(spark, tiny_fixture, tmp_path_factory):
    """robots_dim is a CACHE of the constructor-provided robots table,
    not state: deleting it from a committed workdir must not change
    resume semantics — the engine rebuilds it (fingerprint-pinned) and
    the resumed transcript still exact-matches the reference model."""
    import os
    import shutil

    pages, seeds, robots = _load(tiny_fixture)
    golden = _run_refmodel(pages, seeds, robots, batch_cap=40, max_rounds=5)
    wd = str(tmp_path_factory.mktemp("rbdim_work"))
    # force the probe path: the tiny fixture would otherwise broadcast
    # the dim outright and never persist robots_dim
    mk = lambda: _zero_broadcast_cap(CrawlEngine(  # noqa: E731
        spark,
        spark.read.parquet(tiny_fixture["pages"]),
        _registry(),
        robots_df=spark.read.parquet(tiny_fixture["robots"]),
        config=EngineConfig(batch_cap=40, max_rounds=5, workdir=wd,),
    ))
    mk().run(seeds, max_rounds=2)
    shutil.rmtree(os.path.join(wd, "robots_dim"))
    res = mk().run(seeds, resume=True)
    assert res.read_transcript(spark) == golden.transcript
    assert os.path.isdir(os.path.join(wd, "robots_dim"))  # rebuilt


def test_resume_rejects_prestamping_workdir(spark, tiny_fixture, tmp_path_factory):
    """A workdir committed by a pre-stamping engine (no 'frontier_stamped'
    manifest pin) must be REJECTED on resume while politeness is active:
    its frontier parquet lacks the denied/crawl_delay columns, and
    schema-on-read NULLs would silently un-deny robots-blocked rows.
    With politeness inactive the stamped columns are unused and a legacy
    workdir must still resume."""
    import json
    import os

    pages, seeds, robots = _load(tiny_fixture)

    def strip_pins(wd):
        for d in os.listdir(wd):
            mf = os.path.join(wd, d, "manifest.json")
            if d.startswith("round_") and os.path.exists(mf):
                with open(mf) as f:
                    m = json.load(f)
                m.pop("frontier_stamped", None)
                with open(mf, "w") as f:
                    json.dump(m, f)

    # politeness ACTIVE: same robots both runs (fp matches), pin missing
    # -> loud rejection
    wd1 = str(tmp_path_factory.mktemp("prestamp_act"))
    mk1 = lambda: CrawlEngine(  # noqa: E731
        spark,
        spark.read.parquet(tiny_fixture["pages"]),
        _registry(),
        robots_df=spark.read.parquet(tiny_fixture["robots"]),
        config=EngineConfig(batch_cap=40, max_rounds=4, workdir=wd1,),
    )
    mk1().run(seeds, max_rounds=2)
    strip_pins(wd1)
    with pytest.raises(ValueError, match="frontier_stamped"):
        mk1().run(seeds, resume=True)

    # politeness INACTIVE: the unstamped verdicts are unused -> the
    # legacy workdir resumes fine
    wd2 = str(tmp_path_factory.mktemp("prestamp_inact"))
    mk2 = lambda: CrawlEngine(  # noqa: E731
        spark,
        spark.read.parquet(tiny_fixture["pages"]),
        _registry(),
        config=EngineConfig(batch_cap=40, max_rounds=4, workdir=wd2,),
    )
    mk2().run(seeds, max_rounds=2)
    strip_pins(wd2)
    res = mk2().run(seeds, resume=True)
    assert res.rounds == 4


def _switch_robots(robots: pd.DataFrame) -> pd.DataFrame:
    """Deterministic epoch-2 rules: flip every delay (hosts that were
    unlimited get a real budget and vice versa) and deny every 7th host
    outright — guarantees newly-denied live rows AND budget-flipped
    hosts at the switch round."""
    rows = []
    for i, r in enumerate(robots.to_dict("records")):
        rows.append(
            {
                "host": r["host"],
                "disallow": ["/"] if i % 7 == 0 else [],
                "crawl_delay": 0.0 if float(r["crawl_delay"]) > 0 else 0.5,
            }
        )
    return pd.DataFrame(rows)


def _robots_map(df: pd.DataFrame) -> dict:
    return {
        r["host"]: (list(r["disallow"]), float(r["crawl_delay"]))
        for r in df.to_dict("records")
    }


def test_rebase_robots_epoch_switch(spark, tiny_fixture, tmp_path_factory):
    """Robots refresh across epochs (VERDICT r4 item 3): run 2 rounds
    under epoch-1 rules, swap robots, rebase_robots(), resume — the
    transcript/counters/errors/seen must equal a refmodel run with
    robots_switch at that round. Also pins: a plain resume under
    changed rules still fails loudly, and a rebase under UNCHANGED
    rules is a no-op."""
    import os

    pages, seeds, robots = _load(tiny_fixture)
    robots2 = _switch_robots(robots)
    pages_map = dict(zip(pages["url"], pages["html"]))
    golden = refmodel.crawl(
        pages_map,
        seeds.to_dict("records"),
        _registry(),
        robots=_robots_map(robots),
        batch_cap=40,
        max_rounds=5,
        robots_switch=(2, _robots_map(robots2)),
    )
    wd = str(tmp_path_factory.mktemp("rebase_work"))
    robots1_df = spark.read.parquet(tiny_fixture["robots"])
    robots2_df = spark.createDataFrame(
        robots2, "host string, disallow array<string>, crawl_delay double"
    )
    mk = lambda rb: CrawlEngine(  # noqa: E731
        spark,
        spark.read.parquet(tiny_fixture["pages"]),
        _registry(),
        robots_df=rb,
        config=EngineConfig(batch_cap=40, max_rounds=5, workdir=wd,),
    )
    mk(robots1_df).run(seeds, max_rounds=2)  # epoch 1: rounds 0-1

    # changed rules WITHOUT a rebase: the fingerprint pin fires
    with pytest.raises(ValueError, match="robots/politeness inputs differ"):
        mk(robots2_df).run(seeds, max_rounds=5, resume=True)

    eng2 = mk(robots2_df)
    m = eng2.rebase_robots()
    assert m["frontier_log"]["restamped_at"] == 2
    assert m["rebase"]["at_round"] == 2
    assert m["n_frontier"] >= 0
    # the old epoch's base and adds leave the frontier log; they stay on
    # disk exactly while the seen log lists them
    _assert_reaped(eng2)
    # idempotent: same-rules rebase is a no-op returning the manifest
    assert mk(robots2_df).rebase_robots()["rebase"] == m["rebase"]

    result = eng2.run(seeds, max_rounds=5, resume=True)
    assert result.read_transcript(spark) == golden.transcript
    keys = ["fetched", "deduped", "deferred_by_politeness", "expired"]
    assert len(result.counters) == len(golden.counters)
    for got, exp in zip(result.counters, golden.counters):
        for kk in keys:
            assert got[kk] == exp[kk], "round %s counter %s: got %s want %s" % (
                got["round"], kk, got[kk], exp[kk])
    # robots_denied errors — incl. round-2 denials of RE-STAMPED rows
    # that entered the frontier under epoch-1 rules — match exactly
    got_denied = set()
    for r in range(result.rounds):
        p = os.path.join(wd, "round_%05d" % r, "errors")
        if os.path.exists(p):
            got_denied |= {
                (row.url, row.round)
                for row in spark.read.parquet(p).collect()
                if row.error_class == "robots_denied"
            }
    exp_denied = {(u, r) for (u, r, c) in golden.errors if c == "robots_denied"}
    assert got_denied == exp_denied
    assert exp_denied, "fixture must exercise post-switch denials"
    assert any(r >= 2 for (_, r) in exp_denied), "switch must deny live rows"
    seen = {row.url_canon for row in eng2.read_table("seen").collect()}
    assert seen == golden.seen
    _assert_reaped(eng2)


def test_rebase_robots_to_empty_rules(spark, tiny_fixture, tmp_path_factory):
    """Epoch switch to NO rules (politeness off in the new engine):
    urls denied and errored under epoch 1 stay dropped (refmodel step-2
    drops are permanent — the rebase read forces the stamped-denied
    predicate even though the new engine's politeness is inactive),
    while every surviving row runs with unlimited budget."""
    pages, seeds, robots = _load(tiny_fixture)
    pages_map = dict(zip(pages["url"], pages["html"]))
    empty = pd.DataFrame({"host": pd.Series([], dtype=str),
                          "disallow": pd.Series([], dtype=object),
                          "crawl_delay": pd.Series([], dtype=float)})
    golden = refmodel.crawl(
        pages_map,
        seeds.to_dict("records"),
        _registry(),
        robots=_robots_map(robots),
        batch_cap=40,
        max_rounds=5,
        robots_switch=(2, {}),
    )
    wd = str(tmp_path_factory.mktemp("rebase_empty_work"))
    cfg = lambda: EngineConfig(batch_cap=40, max_rounds=5, workdir=wd)  # noqa: E731
    CrawlEngine(
        spark, spark.read.parquet(tiny_fixture["pages"]), _registry(),
        robots_df=spark.read.parquet(tiny_fixture["robots"]), config=cfg(),
    ).run(seeds, max_rounds=2)
    eng2 = CrawlEngine(
        spark, spark.read.parquet(tiny_fixture["pages"]), _registry(),
        robots_df=spark.createDataFrame(
            empty, "host string, disallow array<string>, crawl_delay double"
        ),
        config=cfg(),
    )
    eng2.rebase_robots()
    result = eng2.run(seeds, max_rounds=5, resume=True)
    assert result.read_transcript(spark) == golden.transcript
    for got, exp in zip(result.counters, golden.counters):
        for kk in ["fetched", "deduped", "deferred_by_politeness", "expired"]:
            assert got[kk] == exp[kk]
    seen = {row.url_canon for row in eng2.read_table("seen").collect()}
    assert seen == golden.seen


def test_pr_priority_frontier_integration(spark, tiny_fixture, tmp_path_factory):
    """Link-graph → scheduler composition: pagerank over the host graph,
    pr_priority tiers, seeds stamped with their host's tier — the
    hub host's seed must lead round 0 even though the default FIFO key
    (all priorities equal) would have crawled the lexically-smaller
    url first."""
    from urllib.parse import urlsplit

    from crawl_spark.operators.graph import pagerank, pr_priority

    pages = pd.read_parquet(tiny_fixture["pages"])
    urls = sorted(pages["url"])
    host_rep: dict[str, str] = {}
    for u in urls:
        host_rep.setdefault(urlsplit(u).netloc, u)
    hs = sorted(host_rep)
    assert len(hs) >= 2
    hub = hs[-1]
    u_low, u_hub = host_rep[hs[0]], host_rep[hub]
    assert u_low < u_hub  # default order would fetch u_low first

    edges = spark.createDataFrame(
        [(h, hub) for h in hs if h != hub], "src string, dst string"
    )
    pr = pr_priority(pagerank(edges, iters=3), thresholds=(0.2,))
    tiers = {r.node: r.priority for r in pr.collect()}
    assert tiers[hub] == 0 and all(t == 1 for h, t in tiers.items() if h != hub)

    eng = CrawlEngine(
        spark,
        spark.read.parquet(tiny_fixture["pages"]),
        _registry(),
        config=EngineConfig(
            batch_cap=2,
            max_rounds=1,
            workdir=str(tmp_path_factory.mktemp("prprio_wd")),
        ),
    )
    res = eng.run(
        [
            {"url": u, "callbacks": ["page"],
             "priority": tiers[urlsplit(u).netloc]}
            for u in (u_low, u_hub)
        ]
    )
    assert list(res.read_transcript(spark)[0]) == [u_hub, u_low]
