"""Structured-Streaming seed feed + metrics rollup (availableNow
triggers so the tests are bounded)."""

from __future__ import annotations

import json
import os

import pytest

from crawl_spark.streaming.feed import (
    STAGED_SCHEMA,
    drain_staged_seeds,
    metrics_rollup_stream,
    seed_feed_stream,
)


def _write_json(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_seed_feed_canonicalizes_and_dedups(spark, tmp_path):
    in_dir, staging, ckpt = str(tmp_path / "in"), str(tmp_path / "staged"), str(tmp_path / "ck")
    os.makedirs(in_dir)
    _write_json(
        os.path.join(in_dir, "batch1.json"),
        [
            {"url": "HTTP://Host0.Example/p/1#frag", "priority": 1,
             "callbacks": ["page"], "event_ts": "2026-01-01T00:00:00Z"},
            {"url": "http://host0.example:80/p/1", "priority": 2,
             "callbacks": ["page"], "event_ts": "2026-01-01T00:00:01Z"},
            {"url": "http://host1.example/p/2", "callbacks": ["page"],
             "event_ts": "2026-01-01T00:00:02Z"},
            {"url": "ht tp://bad", "callbacks": ["page"],
             "event_ts": "2026-01-01T00:00:03Z"},
        ],
    )
    q = seed_feed_stream(spark, in_dir, staging, ckpt, available_now=True)
    q.awaitTermination(120)
    staged = drain_staged_seeds(spark, staging)[0].toPandas()
    # two messy variants of /p/1 collapse to one canonical row; bad URL dropped
    assert sorted(staged.url_canon) == [
        "http://host0.example/p/1",
        "http://host1.example/p/2",
    ]
    assert set(staged.host) == {"host0.example", "host1.example"}

    # resume: a second availableNow run over a NEW file appends only new rows
    _write_json(
        os.path.join(in_dir, "batch2.json"),
        [{"url": "http://host2.example/p/9", "callbacks": ["page"],
          "event_ts": "2026-01-01T00:01:00Z"}],
    )
    q2 = seed_feed_stream(spark, in_dir, staging, ckpt, available_now=True)
    q2.awaitTermination(120)
    staged2 = drain_staged_seeds(spark, staging)[0].toPandas()
    assert len(staged2) == 3


def test_drain_empty_staging(spark, tmp_path):
    df, files = drain_staged_seeds(spark, str(tmp_path / "nope"))
    assert df.count() == 0 and files == []


def test_metrics_rollup_windows(spark, tmp_path):
    errors_dir, out, ckpt = str(tmp_path / "err"), str(tmp_path / "out"), str(tmp_path / "ck2")
    os.makedirs(errors_dir)
    _write_json(
        os.path.join(errors_dir, "e1.json"),
        [
            {"url": "u1", "round": 0, "error_class": "fetch_miss", "message": "",
             "event_ts": "2026-01-01T00:00:01Z"},
            {"url": "u2", "round": 0, "error_class": "fetch_miss", "message": "",
             "event_ts": "2026-01-01T00:00:03Z"},
            {"url": "u3", "round": 0, "error_class": "robots_denied", "message": "",
             "event_ts": "2026-01-01T00:00:14Z"},
        ],
    )
    def run():
        q = metrics_rollup_stream(spark, errors_dir, out, ckpt, available_now=True)
        q.awaitTermination(120)

    # append mode + watermark: a window is emitted in the batch AFTER the
    # watermark (computed from the PREVIOUS batch's max event time)
    # passes its end — so push two later flush batches through.
    run()
    _write_json(
        os.path.join(errors_dir, "flush1.json"),
        [{"url": "f", "round": 1, "error_class": "flush", "message": "",
          "event_ts": "2026-01-01T00:10:00Z"}],
    )
    run()
    _write_json(
        os.path.join(errors_dir, "flush2.json"),
        [{"url": "f", "round": 1, "error_class": "flush", "message": "",
          "event_ts": "2026-01-01T00:20:00Z"}],
    )
    run()
    got = spark.read.parquet(out).toPandas()
    counts = {
        (str(r.window_start.time()), r.error_class): r.n for _, r in got.iterrows()
    }
    assert counts.get(("00:00:00", "fetch_miss")) == 2
    assert counts.get(("00:00:10", "robots_denied")) == 1


def test_seed_feed_from_record_stream(spark, tmp_path):
    """The Kafka-shaped path: the SAME feed pipeline (canonicalize →
    stateful dedup → staged parquet → drain) fed from an unbounded
    record stream (rate source) instead of a file directory — proving
    the source swap is one function, not a new pipeline."""
    from crawl_spark.streaming.feed import rate_seed_source

    staging, ckpt = str(tmp_path / "staged_r"), str(tmp_path / "ck_r")
    src = rate_seed_source(spark, rows_per_second=500, n_hosts=7)
    q = seed_feed_stream(
        spark, staging_dir=staging, checkpoint_dir=ckpt, source_df=src
    )
    try:
        # let a few micro-batches commit, then stop the unbounded stream
        deadline = 60
        import time

        while deadline > 0:
            staged = drain_staged_seeds(spark, staging)[0]
            if staged.count() >= 10:
                break
            time.sleep(1)
            deadline -= 1
    finally:
        q.stop()
    staged = drain_staged_seeds(spark, staging)[0].toPandas()
    assert len(staged) >= 10
    # canonicalization ran (host parsed) and stateful dedup held (rate
    # values are unique, so canonical urls must be too)
    assert staged.url_canon.is_unique
    assert set(staged.host) <= {"host%d.example" % i for i in range(7)}
    assert (staged.priority == 0).all()


def test_host_rate_custom_stateful_operator(spark, tmp_path):
    """applyInPandasWithState: per-host running counts survive across
    separate availableNow runs via the streaming state store (the custom
    stateful-operator contract)."""
    from pyspark.sql import functions as F

    from crawl_spark.streaming.feed import SEED_FEED_SCHEMA, host_rate_stream

    in_dir = str(tmp_path / "in")
    out_dir, ckpt = str(tmp_path / "rates"), str(tmp_path / "ck_rates")
    os.makedirs(in_dir)
    _write_json(
        os.path.join(in_dir, "b1.json"),
        [
            {"url": "http://h1.example/a", "event_ts": "2026-01-01T00:00:00Z"},
            {"url": "http://h1.example/b", "event_ts": "2026-01-01T00:00:10Z"},
            {"url": "http://h2.example/c", "event_ts": "2026-01-01T00:00:05Z"},
        ],
    )
    mk_src = lambda: spark.readStream.schema(SEED_FEED_SCHEMA).json(in_dir)  # noqa: E731
    q = host_rate_stream(spark, mk_src(), out_dir, ckpt, available_now=True)
    q.awaitTermination(120)
    r1 = {
        r.host: r
        for r in spark.read.parquet(out_dir).groupBy("host").agg(
            F.max("n_urls").alias("n_urls")
        ).collect()
    }
    assert r1["h1.example"].n_urls == 2
    assert r1["h2.example"].n_urls == 1

    # second batch: counts continue from stored state, not from zero
    _write_json(
        os.path.join(in_dir, "b2.json"),
        [
            {"url": "http://h1.example/d", "event_ts": "2026-01-01T00:01:00Z"},
            {"url": "http://h3.example/e", "event_ts": "2026-01-01T00:01:00Z"},
        ],
    )
    q2 = host_rate_stream(spark, mk_src(), out_dir, ckpt, available_now=True)
    q2.awaitTermination(120)
    out = spark.read.parquet(out_dir)
    r2 = {
        r.host: r
        for r in out.groupBy("host").agg(F.max("n_urls").alias("n_urls")).collect()
    }
    assert r2["h1.example"].n_urls == 3  # 2 + 1, resumed from state store
    assert r2["h3.example"].n_urls == 1
    # rate math: h1 saw 3 urls over 60 s of event time
    h1 = out.filter((F.col("host") == "h1.example") & (F.col("n_urls") == 3)).collect()[0]
    assert abs(h1.urls_per_sec - 0.05) < 1e-6


def test_drain_high_watermark(spark, tmp_path):
    """Drained files are skipped on later drains (the engine records them
    per round manifest) — pickup cost is O(new files), and a re-drain
    with the same watermark returns nothing."""
    staging = str(tmp_path / "staged_w")
    row = [("http://h.example/a", "http://h.example/a", "h.example", "/a",
            1, 1, 0, [], None, None)]
    spark.createDataFrame(row, STAGED_SCHEMA).coalesce(1).write.mode("append").parquet(staging)
    df1, f1 = drain_staged_seeds(spark, staging)
    assert df1.count() == 1 and len(f1) >= 1
    # same watermark, nothing new -> empty
    df2, f2 = drain_staged_seeds(spark, staging, exclude=set(f1))
    assert f2 == [] and df2.count() == 0
    # a new file arrives -> only it is read
    row2 = [("http://h.example/b", "http://h.example/b", "h.example", "/b",
             1, 2, 0, [], None, None)]
    spark.createDataFrame(row2, STAGED_SCHEMA).coalesce(1).write.mode("append").parquet(staging)
    df3, f3 = drain_staged_seeds(spark, staging, exclude=set(f1))
    assert df3.count() == 1 and set(f3).isdisjoint(f1)
    assert df3.collect()[0].url_canon == "http://h.example/b"


def test_kafka_seed_projection(spark):
    """The Kafka swap is config + one projection: parse_kafka_seed_records
    maps kafka's record schema (key/value/timestamp) to SEED_FEED_SCHEMA
    byte-identically to the JSON file source's rows. No broker exists in
    the sandbox, so the projection runs on a kafka-SHAPED static frame —
    identical semantics either way (same expression tree)."""
    import datetime

    from crawl_spark.streaming.feed import (
        SEED_FEED_SCHEMA,
        kafka_seed_source,
        parse_kafka_seed_records,
    )

    kafka_shape = (
        "key binary, value binary, topic string, partition int, offset long, "
        "timestamp timestamp, timestampType int"
    )
    ts = datetime.datetime(2026, 1, 1, 0, 0, 0)
    msg = (b'{"url": "http://h0.example/p/1", "priority": 2, '
           b'"callbacks": ["page"], "deadline": 5.0}')
    rows = [
        (None, msg, "seeds", 0, 0, ts, 0),
        (None, b"not json", "seeds", 0, 1, ts, 0),
    ]
    df = parse_kafka_seed_records(spark.createDataFrame(rows, kafka_shape))
    assert [f.name for f in df.schema.fields] == [f.name for f in SEED_FEED_SCHEMA.fields]
    got = {r.url: r for r in df.collect()}
    ok = got["http://h0.example/p/1"]
    assert ok.priority == 2 and list(ok.callbacks) == ["page"] and ok.deadline == 5.0
    assert ok.event_ts == ts
    assert None in got  # malformed JSON -> null url, dropped downstream

    # the reader builder targets the kafka source (the connector jar is a
    # deploy-time --packages flag; its absence error proves format+options
    # were applied)
    reader = kafka_seed_source(spark, "broker:9092", "seeds")
    with pytest.raises(Exception, match="[kK]afka"):
        reader.load()


def _stage_file(spark, tmp_path, staging, name):
    """Stage one complete single-row parquet file as ``staging/name``."""
    url = "http://h.example/" + name
    row = [(url, url, "h.example", "/" + name, 1, 1, 0, [], None, None)]
    work = tmp_path / ("w_" + name)
    spark.createDataFrame(row, STAGED_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(work))
    src = next(f for f in os.listdir(work) if f.endswith(".parquet"))
    os.rename(work / src, staging / name)


def test_drain_skips_incomplete_parquet_files(spark, tmp_path):
    """The streaming file sink writes part files in place and the
    parquet footer LAST — the drain trusts a file only once its
    trailing PAR1 magic exists, so torn/in-progress files are skipped
    (and retried next round once complete) while complete files drain
    regardless of how they were staged (sink, old batch append, cli)."""
    staging = tmp_path / "staged"
    staging.mkdir()

    def stage(name):
        _stage_file(spark, tmp_path, staging, name)

    stage("part-sinkbatch.parquet")   # sink-written, complete
    stage("part-oldappend.parquet")   # pre-upgrade batch append, complete
    stage("cli-abc.parquet")          # cli tmp-then-rename
    # torn in-progress sink files: header-only, and header+data-no-footer
    (staging / "part-torn.parquet").write_bytes(b"PAR1trunc")
    (staging / "part-tiny.parquet").write_bytes(b"PAR1")

    df, files = drain_staged_seeds(spark, str(staging))
    assert sorted(files) == [
        "cli-abc.parquet", "part-oldappend.parquet", "part-sinkbatch.parquet",
    ]
    assert df.count() == 3
    # the torn file completing later gets picked up by the next drain
    stage("part-torn2.parquet")
    os.replace(staging / "part-torn2.parquet", staging / "part-torn.parquet")
    df2, files2 = drain_staged_seeds(spark, str(staging), exclude=set(files))
    assert files2 == ["part-torn.parquet"] and df2.count() == 1


def test_drain_skips_staged_files_that_vanish(spark, tmp_path, monkeypatch):
    """A streaming sink stopped mid-batch deletes its in-flight part
    files, possibly after the drain listed them. A file that vanishes
    between listing and read — before the DataFrame is created, or after
    it is created and before it runs — is skipped, and the drain returns
    exactly the rows of the surviving files."""
    from crawl_spark.streaming import feed

    staging = tmp_path / "staged"
    staging.mkdir()
    for name in ("part-a.parquet", "part-b.parquet", "part-c.parquet"):
        _stage_file(spark, tmp_path, staging, name)

    complete = feed._parquet_complete

    def listed_then_deleted(path):
        ok = complete(path)
        if path.endswith("part-b.parquet"):
            os.remove(path)  # passes the listing, gone before the read
        return ok

    monkeypatch.setattr(feed, "_parquet_complete", listed_then_deleted)
    df, files = drain_staged_seeds(spark, str(staging))
    monkeypatch.undo()
    assert files == ["part-a.parquet", "part-c.parquet"]
    os.remove(staging / "part-c.parquet")  # gone after the DataFrame exists
    assert [r.url_canon for r in df.collect()] == ["http://h.example/part-a.parquet"]


def test_seed_feed_watermark_bounded_dedup(spark, tmp_path):
    """dedup_within= switches to dropDuplicatesWithinWatermark: state is
    bounded by the horizon; in-horizon duplicates still collapse, and
    the exactness story is unchanged because the engine re-checks staged
    rows against the seen set at pickup."""
    in_dir, staging, ckpt = (
        str(tmp_path / "in"), str(tmp_path / "staged"), str(tmp_path / "ck")
    )
    os.makedirs(in_dir)
    _write_json(
        os.path.join(in_dir, "batch1.json"),
        [
            {"url": "HTTP://Host0.Example/p/1#frag", "priority": 1,
             "callbacks": ["page"], "event_ts": "2026-01-01T00:00:00Z"},
            {"url": "http://host0.example:80/p/1", "priority": 2,
             "callbacks": ["page"], "event_ts": "2026-01-01T00:00:05Z"},
            {"url": "http://host1.example/p/2", "callbacks": ["page"],
             "event_ts": "2026-01-01T00:00:02Z"},
        ],
    )
    q = seed_feed_stream(
        spark, in_dir, staging, ckpt, available_now=True,
        dedup_within="10 minutes",
    )
    q.awaitTermination(120)
    staged = drain_staged_seeds(spark, staging)[0].toPandas()
    assert sorted(staged.url_canon) == [
        "http://host0.example/p/1",
        "http://host1.example/p/2",
    ]


def test_host_distinct_stream_matches_batch_hll(spark, tmp_path):
    """Streaming HLL arm: per-host register state survives across
    availableNow runs (duplicates across batches do NOT recount), and
    the final emission per host equals the BATCH hll_distinct over the
    union of everything streamed — bit for bit, the batch-twin
    discipline applied to cardinality."""
    from pyspark.sql import functions as F

    from crawl_spark.streaming.feed import SEED_FEED_SCHEMA, host_distinct_stream
    from crawl_spark.operators.hll import hll_distinct

    in_dir = str(tmp_path / "in")
    out_dir, ckpt = str(tmp_path / "dist"), str(tmp_path / "ck_dist")
    os.makedirs(in_dir)
    b1 = [
        {"url": f"http://h1.example/p/{i}", "event_ts": "2026-01-01T00:00:00Z"}
        for i in range(300)
    ] + [
        {"url": f"http://h2.example/p/{i % 40}", "event_ts": "2026-01-01T00:00:00Z"}
        for i in range(120)
    ]
    _write_json(os.path.join(in_dir, "b1.json"), b1)
    mk_src = lambda: spark.readStream.schema(SEED_FEED_SCHEMA).json(in_dir)  # noqa: E731
    q = host_distinct_stream(spark, mk_src(), out_dir, ckpt, available_now=True)
    q.awaitTermination(120)

    # second batch: 100 REPEATS of h1's first urls + 100 new ones
    b2 = [
        {"url": f"http://h1.example/p/{i}", "event_ts": "2026-01-01T00:01:00Z"}
        for i in range(100)
    ] + [
        {"url": f"http://h1.example/p/{300 + i}", "event_ts": "2026-01-01T00:01:00Z"}
        for i in range(100)
    ]
    _write_json(os.path.join(in_dir, "b2.json"), b2)
    q2 = host_distinct_stream(spark, mk_src(), out_dir, ckpt, available_now=True)
    q2.awaitTermination(120)

    out = spark.read.parquet(out_dir)
    last = {
        r["host"]: (r["n_registers"], r["n_distinct_est"])
        for r in out.groupBy("host")
        .agg(
            F.max("n_registers").alias("n_registers"),
            F.max("n_distinct_est").alias("n_distinct_est"),
        )
        .collect()
    }
    all_urls = spark.createDataFrame(
        [(r["url"],) for r in b1 + b2], "url string"
    ).withColumn(
        "host", F.regexp_extract(F.col("url"), r"^[a-z]+://([^/:]+)", 1)
    )
    batch = {
        r["host"]: (r["n_registers"], r["n_distinct_est"])
        for r in hll_distinct(all_urls).collect()
    }
    # registers only ever grow, so max over emissions IS the final state
    assert last == batch
    # and the estimates are near truth (400 and 40 distinct)
    assert abs(last["h1.example"][1] - 400) / 400 < 0.1
    assert abs(last["h2.example"][1] - 40) / 40 < 0.1


def test_score_quantiles_stream_matches_batch_kll(spark, tmp_path):
    """Streaming KLL arm: per-stratum sketch state survives across
    availableNow runs, and in the exact (uncompacted) regime the final
    emission is BIT-IDENTICAL to the batch kll_quantiles over the
    union of everything streamed — completing the state-store sketch
    triple (rates / cardinality / quantiles)."""
    from pyspark.sql import functions as F

    from crawl_spark.operators.sketch import kll_quantiles
    from crawl_spark.streaming.feed import score_quantiles_stream

    in_dir = str(tmp_path / "in")
    out_dir, ckpt = str(tmp_path / "q"), str(tmp_path / "ck_q")
    os.makedirs(in_dir)
    probs = (0.0, 0.1, 0.5, 0.9, 1.0)
    b1 = [
        {"stratum": "en", "score": float((i * 37) % 101)} for i in range(60)
    ] + [{"stratum": "de", "score": float(i)} for i in range(40)]
    b2 = [
        {"stratum": "en", "score": float(200 + i)} for i in range(30)
    ] + [{"stratum": "de", "score": None}]  # NULL dropped like batch
    _write_json(os.path.join(in_dir, "b1.json"), b1)
    schema = "stratum string, score double"
    mk = lambda: spark.readStream.schema(schema).json(in_dir)  # noqa: E731
    q = score_quantiles_stream(
        spark, mk(), out_dir, ckpt, probs=probs, k=256, available_now=True
    )
    q.awaitTermination(120)
    _write_json(os.path.join(in_dir, "b2.json"), b2)
    q2 = score_quantiles_stream(
        spark, mk(), out_dir, ckpt, probs=probs, k=256, available_now=True
    )
    q2.awaitTermination(120)

    out = spark.read.parquet(out_dir)
    last = {
        (r["stratum"], r["p"]): (r["q"], r["n"])
        for r in out.join(
            out.groupBy("stratum").agg(F.max("n").alias("n")),
            ["stratum", "n"],
        ).collect()
    }
    rows = [r for r in b1 + b2 if r["score"] is not None]
    batch = {
        (r["lang"], r["p"]): (r["q"], r["n"])
        for r in kll_quantiles(
            spark.createDataFrame(
                [(r["stratum"], r["score"]) for r in rows],
                "lang string, score double",
            ),
            probs=probs,
            k=256,
            require_exact=True,  # uncompacted: stream == batch exactly
        ).collect()
    }
    assert last == batch
    assert last[("en", 1.0)][1] == 90  # 60 + 30, resumed from state
