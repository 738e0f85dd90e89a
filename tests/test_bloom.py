"""Bloom seen-set pre-filter: numpy-level guarantees + engine
equivalence (bloom path ≡ exact anti-join path, SURVEY.md §2.5)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from crawl_spark.operators.bloom import (
    BloomConfig,
    _set_bits,
    _splitmix64,
    _test_bits,
    build_bitmaps,
    split_by_bloom,
)


def test_splitmix_deterministic():
    x = np.arange(1000, dtype=np.uint64)
    a, b = _splitmix64(x), _splitmix64(x)
    assert (a == b).all()
    assert len(np.unique(a)) == 1000  # mixes distinct inputs apart


def test_no_false_negatives_and_sane_fp_rate():
    cfg = BloomConfig(n_buckets=1, bits_per_bucket=1 << 16, n_hashes=4)
    rng = np.random.RandomState(42)
    keys = rng.randint(0, 2**63, 4000, dtype=np.int64).astype(np.uint64)
    bitmap = np.zeros(cfg.bytes_per_bucket, dtype=np.uint8)
    _set_bits(bitmap, keys, cfg)
    # every inserted key must test positive (no false negatives — the
    # pre-filter may never drop a genuinely-seen URL from the exact check)
    assert _test_bits(bitmap, keys, cfg).all()
    others = rng.randint(0, 2**63, 20000, dtype=np.int64).astype(np.uint64)
    others = others[~np.isin(others, keys)]
    fp = _test_bits(bitmap, others, cfg).mean()
    # 4k keys in 64k bits with k=4 -> theoretical fp ~ 2.4%
    assert fp < 0.1, fp


def test_build_and_split_spark(spark):
    cfg = BloomConfig(n_buckets=8, bits_per_bucket=1 << 14, n_hashes=4)
    seen = spark.createDataFrame(
        pd.DataFrame(
            {
                "url_canon": [f"http://h{i%5}.ex/p/{i}" for i in range(500)],
                "url_hash": np.arange(500, dtype=np.int64) * 7919 + 13,
                "host_hash": (np.arange(500, dtype=np.int64) % 5 - 2).astype(np.int32),
            }
        ),
        "url_canon string, url_hash long, host_hash int",
    )
    bitmaps = build_bitmaps(seen, cfg)
    assert set(bitmaps) <= set(range(8)) and len(bitmaps) >= 1
    links = spark.createDataFrame(
        pd.DataFrame(
            {
                "url_canon": [f"http://h{i%5}.ex/p/{i}" for i in range(1000)],
                "url_hash": np.arange(1000, dtype=np.int64) * 7919 + 13,
                "host_hash": (np.arange(1000, dtype=np.int64) % 5 - 2).astype(np.int32),
            }
        ),
        "url_canon string, url_hash long, host_hash int",
    )
    tagged = split_by_bloom(links, bitmaps, cfg, spark).toPandas()
    in_seen = tagged[tagged["url_canon"].str.extract(r"/p/(\d+)")[0].astype(int) < 500]
    out_seen = tagged[tagged["url_canon"].str.extract(r"/p/(\d+)")[0].astype(int) >= 500]
    # no false negatives: every seen key is tagged possibly_seen
    assert in_seen["possibly_seen"].all()
    # pre-filter actually filters: most unseen keys bypass the join
    assert (~out_seen["possibly_seen"]).mean() > 0.5


def _bloom_engine(spark, tiny_fixture, workdir, use_bloom):
    from crawl_spark.plans.engine import CrawlEngine, EngineConfig
    from tests.test_e2e_crawl import _registry

    return CrawlEngine(
        spark,
        spark.read.parquet(tiny_fixture["pages"]),
        _registry(),
        robots_df=spark.read.parquet(tiny_fixture["robots"]),
        config=EngineConfig(
            batch_cap=40,
            max_rounds=4,
            workdir=workdir,
            use_bloom=use_bloom,
            bloom_buckets=8,
            bloom_bits=1 << 14),
    )


@pytest.fixture(scope="module")
def exact_crawl(spark, tiny_fixture, tmp_path_factory):
    """The exact-path (no Bloom) 4-round crawl both engine tests compare to."""
    from tests.test_e2e_crawl import _load

    _, seeds, _ = _load(tiny_fixture)
    wd = str(tmp_path_factory.mktemp("bloom_False"))
    return _bloom_engine(spark, tiny_fixture, wd, False).run(seeds)


def _assert_same_crawl(spark, bloom, exact):
    assert bloom.read_transcript(spark) == exact.read_transcript(spark)
    assert [c["scheduled"] for c in bloom.counters] == [
        c["scheduled"] for c in exact.counters
    ]
    assert [c["deduped"] for c in bloom.counters] == [
        c["deduped"] for c in exact.counters
    ]


def test_engine_bloom_path_equals_exact_path(
    spark, tiny_fixture, tmp_path_factory, exact_crawl
):
    """The full crawl with use_bloom=True must produce the identical
    transcript/counters as the exact path (bloom is only a pre-filter)."""
    from tests.test_e2e_crawl import _load

    _, seeds, _ = _load(tiny_fixture)
    wd = str(tmp_path_factory.mktemp("bloom_True"))
    bloom = _bloom_engine(spark, tiny_fixture, wd, True).run(seeds)
    _assert_same_crawl(spark, bloom, exact_crawl)


def test_bloom_resume_loads_latest_snapshot(
    spark, tiny_fixture, tmp_path_factory, exact_crawl
):
    """Each commit supersedes the previous round's bloom.npz, so only the
    newest round dir holds one; a resume loads it and crawls on exactly
    like the exact path."""
    import os

    from tests.test_e2e_crawl import _load

    _, seeds, _ = _load(tiny_fixture)
    wd = str(tmp_path_factory.mktemp("bloom_resume"))

    def npz_rounds():
        return [
            d for d in sorted(os.listdir(wd))
            if os.path.exists(os.path.join(wd, d, "bloom.npz"))
        ]

    _bloom_engine(spark, tiny_fixture, wd, True).run(seeds, max_rounds=3)
    assert npz_rounds() == ["round_00002"]
    resumed = _bloom_engine(spark, tiny_fixture, wd, True).run(
        seeds, max_rounds=4, resume=True
    )
    assert npz_rounds() == ["round_00003"]
    _assert_same_crawl(spark, resumed, exact_crawl)
