"""Structured-Streaming surfaces (SURVEY.md §3.3 — the out-of-band
scheduler `crawl-schedule`, plus a live metrics rollup).

The round loop itself is deliberately batch-incremental (each round is a
snapshot commit — that IS the checkpoint story), but two edges of the
system are genuinely streaming:

1. **Seed feed** (``nsq/crawl-schedule/main.go:73-137`` analog): external
   producers drop seed files into a directory; a streaming query
   canonicalizes, de-duplicates (stateful, exactly the URL-seen
   semantics) and appends them to a staging table the engine unions into
   the frontier at the next round boundary — same pickup semantics as
   the NSQ topic (§3.3: "picked up at the next round boundary").

2. **Metrics rollup** (``crawler.go:276-278`` error channel analog):
   per-round error/metric rows stream into watermarked windowed counts.

Both run with file sources/sinks + checkpointLocation so a killed stream
resumes exactly-once — matching the engine's own resume story. At
cluster scale the directory source swaps for Kafka with no plan change.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.canon_udf import canonicalize_udf
from ..schemas import empty_frame

SEED_FEED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("referer", T.StringType()),
        T.StructField("priority", T.IntegerType()),
        T.StructField("callbacks", T.ArrayType(T.StringType())),
        T.StructField("deadline", T.DoubleType()),
        T.StructField("event_ts", T.TimestampType()),
    ]
)

STAGED_SCHEMA = (
    "url string, url_canon string, host string, path string, host_hash int, "
    "url_hash long, priority int, callbacks array<string>, deadline double, "
    "event_ts timestamp"
)


def rate_seed_source(
    spark: SparkSession, rows_per_second: int = 100, n_hosts: int = 10
) -> DataFrame:
    """An UNBOUNDED record-stream seed source in SEED_FEED_SCHEMA shape
    (Spark's rate source mapped to synthetic urls).

    This is the Kafka-shaped path: a topic-like stream of records, not a
    directory of files. A real deployment swaps this one function for
    ``spark.readStream.format("kafka")...`` + a value-JSON projection;
    everything downstream (canonicalize → stateful dedup → staged
    parquet → drain at round boundary) is source-agnostic and is tested
    against BOTH source kinds.
    """
    r = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    return r.select(
        F.concat(
            F.lit("http://host"),
            (F.col("value") % n_hosts).cast("string"),
            F.lit(".example/p/"),
            F.col("value").cast("string"),
        ).alias("url"),
        F.lit(None).cast("string").alias("referer"),
        F.lit(0).alias("priority"),
        F.array(F.lit("page")).alias("callbacks"),
        F.lit(None).cast("double").alias("deadline"),
        F.col("timestamp").alias("event_ts"),
    )


_KAFKA_SEED_JSON = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("referer", T.StringType()),
        T.StructField("priority", T.IntegerType()),
        T.StructField("callbacks", T.ArrayType(T.StringType())),
        T.StructField("deadline", T.DoubleType()),
    ]
)


def kafka_seed_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    extra_options: dict | None = None,
):
    """The documented Kafka swap for the seed feed (the reference's NSQ
    topic, ``nsq/nsqcrawl/queue.go:38-55`` analog): builds the
    ``readStream.format("kafka")`` reader with the standard options.
    ``.load()`` needs the spark-sql-kafka connector on the classpath (a
    spark-submit ``--packages`` line on a real cluster; absent in this
    sandbox, which tests the projection on a kafka-SHAPED static frame
    instead — ``parse_kafka_seed_records`` is identical for both)."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", "false")
    )
    for k, v in (extra_options or {}).items():
        reader = reader.option(k, v)
    return reader


def parse_kafka_seed_records(df: DataFrame) -> DataFrame:
    """Kafka record frame (key/value/timestamp…) → SEED_FEED_SCHEMA.

    The value payload is the JSON seed message; event_ts is the broker
    timestamp. Feed the result to ``seed_feed_stream(source_df=...)`` —
    the whole downstream pipeline (canonicalize → stateful dedup →
    staged parquet → round-boundary drain) is source-agnostic, so the
    NSQ→Kafka swap is exactly these two calls."""
    v = F.from_json(F.col("value").cast("string"), _KAFKA_SEED_JSON)
    return df.select(
        v.getField("url").alias("url"),
        v.getField("referer").alias("referer"),
        v.getField("priority").alias("priority"),
        v.getField("callbacks").alias("callbacks"),
        v.getField("deadline").alias("deadline"),
        F.col("timestamp").alias("event_ts"),
    )


def _start_parquet_sink(df, out_dir: str, checkpoint_dir: str,
                        available_now: bool):
    """Shared append-mode parquet stream sink (one place to evolve
    sink options for every streaming operator in this module)."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def kafka_seed_feed(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    staging_dir: str,
    checkpoint_dir: str,
):
    """One-call Kafka deployment path: kafka source → seed pipeline."""
    records = kafka_seed_source(spark, bootstrap_servers, topic).load()
    return seed_feed_stream(
        spark,
        staging_dir=staging_dir,
        checkpoint_dir=checkpoint_dir,
        source_df=parse_kafka_seed_records(records),
    )


def seed_feed_stream(
    spark: SparkSession,
    in_dir: str | None = None,
    staging_dir: str = "",
    checkpoint_dir: str = "",
    available_now: bool = False,
    source_df: DataFrame | None = None,
    dedup_within: str | None = None,
):
    """Stream seeds → canonicalize → dedup → staged parquet.

    The source is pluggable: by default a JSON file source over
    ``in_dir`` (the drop-a-seed-file workflow); pass ``source_df`` (any
    streaming DataFrame in SEED_FEED_SCHEMA shape, e.g.
    ``rate_seed_source`` or a Kafka projection) to feed from a
    record stream instead — the pipeline below is identical.

    ``dropDuplicates("url_canon")`` is stateful streaming dedup — the
    Structured Streaming state store plays the seen-set role for the
    out-of-band path; the engine's exact anti-join re-checks at pickup,
    so duplicates across the two paths still collapse.

    **State-size contract (100 TB / long-lived feeds):** the default
    keeps one state row per distinct canonical URL FOREVER — exact, but
    the state store grows with the url universe (10^10 urls ≈ the
    frontier itself duplicated into executor state). Pass
    ``dedup_within`` (e.g. ``"30 minutes"``) to switch to
    ``dropDuplicatesWithinWatermark`` on ``event_ts``: state is bounded
    by the watermark horizon, and duplicates farther apart than the
    horizon pass through — SAFELY, because this staging dedup is an
    optimization, not the correctness boundary: the engine re-checks
    every staged row against the exact seen set at round-boundary
    pickup (``drain_staged_seeds`` → frontier anti-join), so a
    late duplicate costs one redundant staged row, never a re-crawl.
    This is the recommended production mode; the unbounded default is
    kept for the exact fixture-replay contract.
    """
    if source_df is not None:
        raw = source_df
    else:
        raw = (
            spark.readStream.schema(SEED_FEED_SCHEMA)
            .option("maxFilesPerTrigger", 16)
            .json(in_dir)
        )
    c = canonicalize_udf(F.col("url"), F.col("referer"))
    staged = (
        raw.withColumn("c", c)
        .select(
            "url",
            F.col("c.url_canon").alias("url_canon"),
            F.col("c.host").alias("host"),
            F.col("c.path").alias("path"),
            F.col("c.host_hash").alias("host_hash"),
            F.col("c.url_hash").alias("url_hash"),
            F.coalesce(F.col("priority"), F.lit(0)).alias("priority"),
            F.coalesce(F.col("callbacks"), F.array().cast("array<string>")).alias("callbacks"),
            F.col("deadline"),
            F.col("event_ts"),
        )
        .filter(F.col("url_canon").isNotNull())
    )
    if dedup_within is not None:
        staged = staged.withWatermark(
            "event_ts", dedup_within
        ).dropDuplicatesWithinWatermark(["url_canon"])
    else:
        staged = staged.dropDuplicates(["url_canon"])
    return _start_parquet_sink(staged, staging_dir, checkpoint_dir, available_now)


def _parquet_complete(path: str) -> bool:
    """A parquet file is structurally complete iff it ends with the
    footer magic ``PAR1`` — writers (the streaming file sink included)
    write the footer LAST, so a torn/in-progress file cannot carry it.
    One open+seek per file; the drain's watermark keeps this O(new)."""
    try:
        with open(path, "rb") as fh:
            fh.seek(0, os.SEEK_END)
            if fh.tell() < 8:  # header magic + footer magic minimum
                return False
            fh.seek(-4, os.SEEK_END)
            return fh.read(4) == b"PAR1"
    except OSError:
        return False


def drain_staged_seeds(
    spark: SparkSession, staging_dir: str, exclude=()
) -> tuple[DataFrame, list[str]]:
    """Read the NOT-yet-drained staged seed files (engine calls this at a
    round boundary and unions the rows into the frontier).

    Pickup is safe per FILE, not per sink batch: a file is drained once
    it is structurally complete (trailing parquet footer magic — the
    streaming sink writes part files in place and the footer last, so
    in-progress/torn files fail the check and are simply retried next
    round). Files from an ABORTED micro-batch may be drained alongside
    the retry's copies; that is at-least-once by design — the engine's
    in-batch window dedup + seen anti-join collapse duplicates, which
    the crash-replay contract already relies on. This also keeps
    pre-sink-era and plain ``df.write.parquet`` staged files drainable
    (no commit-log dependency), with no per-round parse of the sink's
    ever-growing ``_spark_metadata``.

    ``exclude`` is the high-watermark: file names previous rounds already
    drained (recorded in each round manifest), so a long-running crawl's
    per-round pickup cost is O(new files), not O(all files ever staged).
    Returns (rows, newly-drained file names); re-draining after a crash
    before commit is idempotent via the seen-set membership check.

    A listed file may vanish before it is read (a sink stopped mid-batch
    deletes its in-flight part files): the read re-lists when Spark
    reports the path missing, and ``ignoreMissingFiles`` skips a file
    deleted after the DataFrame was created."""
    if not os.path.isdir(staging_dir):
        return empty_frame(spark, STAGED_SCHEMA), []
    new = sorted(
        f
        for f in os.listdir(staging_dir)
        if f.endswith(".parquet")
        and f not in exclude
        and _parquet_complete(os.path.join(staging_dir, f))
    )
    reader = spark.read.schema(STAGED_SCHEMA).option("ignoreMissingFiles", "true")
    while new:
        try:
            return reader.parquet(*(os.path.join(staging_dir, f) for f in new)), new
        except AnalysisException as e:
            kept = [f for f in new if os.path.exists(os.path.join(staging_dir, f))]
            if e.getCondition() != "PATH_NOT_FOUND" or kept == new:
                raise
            new = kept
    return empty_frame(spark, STAGED_SCHEMA), []


def rollup_windows(
    df: DataFrame,
    time_col: str = "event_ts",
    class_col: str = "error_class",
    window: str = "10 seconds",
) -> DataFrame:
    """Tumbling-window counts per class — the aggregation shared by the
    streaming rollup below and its batch twin (the `metrics_rollup`
    contract query runs THIS function on a batch frame against a DuckDB
    oracle, so the streaming path's core transformation is
    value-checked, not just rows-only)."""
    return (
        df.groupBy(F.window(time_col, window).alias("w"), class_col)
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            class_col,
            "n",
        )
    )


def metrics_rollup_stream(
    spark: SparkSession,
    errors_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "10 seconds",
    watermark: str = "30 seconds",
    available_now: bool = False,
):
    """Watermarked windowed counts over the streaming errors feed.

    Late rows beyond the watermark are dropped (the standard
    late-data contract); counts append per (window, error_class).
    """
    schema = "url string, round int, error_class string, message string, event_ts timestamp"
    raw = spark.readStream.schema(schema).json(errors_dir)
    agg = rollup_windows(
        raw.withWatermark("event_ts", watermark), window=window
    )
    return _start_parquet_sink(agg, out_dir, checkpoint_dir, available_now)


HOST_RATE_SCHEMA = (
    "host string, n_urls long, first_ts timestamp, last_ts timestamp, "
    "urls_per_sec double"
)
_HOST_RATE_STATE = "n long, first_ms long, last_ms long"


def host_rate_stream(
    spark: SparkSession,
    source_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
):
    """CUSTOM STATEFUL operator (applyInPandasWithState): per-host running
    url counts + arrival rate over the seed/fetch stream.

    Built-in windowed aggs can't express "running total since first
    sight with per-key custom emission" — this is the
    ``applyInPandasWithState`` shape: state = (count, first_ms, last_ms)
    per host, updated per micro-batch, one emitted row per host per
    batch. State lives in the streaming state store, so a killed query
    resumes with counts intact (exactly-once per checkpointing).

    ``source_df``: any streaming DataFrame with (url or host, event_ts);
    hosts are derived from urls when absent.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if "host" not in source_df.columns:
        source_df = source_df.withColumn(
            "host", F.regexp_extract(F.col("url"), r"^[a-z]+://([^/:]+)", 1)
        )
    src = source_df.select("host", "event_ts")

    def update(key, pdfs, state: "GroupState"):
        import pandas as pd  # executor-side import

        n, first_ms, last_ms = (
            state.get if state.exists else (0, None, None)
        )
        for pdf in pdfs:
            ts = pd.to_datetime(pdf["event_ts"])
            if len(ts) == 0:
                continue
            n += len(ts)
            batch_first = int(ts.min().value // 1_000_000)
            batch_last = int(ts.max().value // 1_000_000)
            first_ms = batch_first if first_ms is None else min(first_ms, batch_first)
            last_ms = batch_last if last_ms is None else max(last_ms, batch_last)
        state.update((n, first_ms, last_ms))
        span_s = max((last_ms - first_ms) / 1000.0, 1e-9)
        yield pd.DataFrame(
            {
                "host": [key[0]],
                "n_urls": [n],
                "first_ts": [pd.Timestamp(first_ms, unit="ms")],
                "last_ts": [pd.Timestamp(last_ms, unit="ms")],
                "urls_per_sec": [round(n / span_s, 6) if n > 1 else float(n)],
            }
        )

    rates = src.groupBy("host").applyInPandasWithState(
        update,
        outputStructType=HOST_RATE_SCHEMA,
        stateStructType=_HOST_RATE_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _start_parquet_sink(rates, out_dir, checkpoint_dir, available_now)


HOST_DISTINCT_SCHEMA = "host string, n_registers long, n_distinct_est double"
_HOST_DISTINCT_STATE = "regs binary"


def host_distinct_stream(
    spark: SparkSession,
    source_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
):
    """CUSTOM STATEFUL operator (applyInPandasWithState): per-host
    running DISTINCT-url estimate over the seed/fetch stream — the
    streaming arm of `operators/hll.py` (the batch/merge path covers
    snapshots; this covers the live feed).

    State per host is ONE 4096-byte HLL register vector (p=12, ~1.6 %
    error) — bounded forever, no url retention — updated with the
    module's shared pure-Python kernel and estimated with float steps
    IDENTICAL to the batch `hll_estimate`, so the last emission per
    host equals `hll_distinct` over everything the stream has seen,
    bit for bit (the rollup_windows batch-twin discipline, applied to
    cardinality). One emitted row per host per micro-batch; the state
    store checkpoints the registers, so a killed query resumes with
    counts intact.

    ``source_df``: any streaming DataFrame with (url [, host]); hosts
    are derived from urls when absent.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.hll import py_estimate, py_update_registers

    if "host" not in source_df.columns:
        source_df = source_df.withColumn(
            "host", F.regexp_extract(F.col("url"), r"^[a-z]+://([^/:]+)", 1)
        )
    src = source_df.select("host", "url")

    def update(key, pdfs, state: "GroupState"):
        import pandas as pd  # executor-side import

        regs = bytearray(state.get[0]) if state.exists else bytearray(4096)
        for pdf in pdfs:
            py_update_registers(regs, pdf["url"])
        state.update((bytes(regs),))
        present, est = py_estimate(regs)
        yield pd.DataFrame(
            {
                "host": [key[0]],
                "n_registers": [present],
                "n_distinct_est": [est],
            }
        )

    counts = src.groupBy("host").applyInPandasWithState(
        update,
        outputStructType=HOST_DISTINCT_SCHEMA,
        stateStructType=_HOST_DISTINCT_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _start_parquet_sink(counts, out_dir, checkpoint_dir, available_now)


QUANTILE_STREAM_SCHEMA = "stratum string, p double, q double, n long"
_QUANTILE_STREAM_STATE = "sketch binary"


def score_quantiles_stream(
    spark: SparkSession,
    source_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    stratum_col: str = "stratum",
    score_col: str = "score",
    probs: tuple[float, ...] = (0.1, 0.25, 0.5, 0.75, 0.9),
    k: int = 256,
    available_now: bool = False,
):
    """CUSTOM STATEFUL operator (applyInPandasWithState): per-stratum
    running quantiles over a score stream — the streaming arm of
    `operators/sketch.py`, completing the state-store sketch triple
    (host_rate_stream = rates, host_distinct_stream = cardinality,
    this = quantiles; each keeps BOUNDED per-key state forever).

    State per stratum is ONE serialized deterministic KLL sketch
    (`kll_to_bytes` — an explicit binary layout, not pickle: the
    format is part of the streaming-checkpoint contract), folded with
    the same `KLL.add` the batch operator's partial pass uses. One row
    per (stratum, prob) per micro-batch. In the exact (uncompacted)
    regime the emissions are BIT-IDENTICAL to the batch
    `kll_quantiles` over everything streamed, fold order
    notwithstanding; in the compacting regime they carry the same
    ~O(1/k) rank-error bound (the batch twin's pytest contract).
    NaN/NULL scores are dropped, like the batch arm.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.sketch import KLL, kll_from_bytes, kll_to_bytes

    plist = [float(p) for p in probs]
    if not plist or len(set(plist)) != len(plist):
        raise ValueError("score_quantiles_stream: probs must be distinct"
                         " and non-empty")
    src = source_df.select(
        F.col(stratum_col).alias("stratum"),
        F.col(score_col).cast("double").alias("score"),
    )

    def update(key, pdfs, state: "GroupState"):
        import pandas as pd  # executor-side import

        sk = (
            kll_from_bytes(state.get[0]) if state.exists else KLL(k)
        )
        for pdf in pdfs:
            vals = pdf["score"].to_numpy(dtype="float64", na_value=float("nan"))
            sk.add(vals)  # KLL.add drops NaN itself
        state.update((kll_to_bytes(sk),))
        if sk.n == 0:
            # all scores so far NULL/NaN: the batch arm emits NO rows
            # for an n=0 stratum — emitting (p, NaN, 0) here would
            # diverge from the twin and leak NaN downstream
            return
        yield pd.DataFrame(
            {
                "stratum": [key[0]] * len(plist),
                "p": plist,
                "q": [round(sk.quantile(p), 6) for p in plist],
                "n": [sk.n] * len(plist),
            }
        )

    agg = src.groupBy("stratum").applyInPandasWithState(
        update,
        outputStructType=QUANTILE_STREAM_SCHEMA,
        stateStructType=_QUANTILE_STREAM_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _start_parquet_sink(agg, out_dir, checkpoint_dir, available_now)
