"""Engine table schemas (see FIXTURES.md §4 and SURVEY.md §1).

The Request shape mirrors the reference's frontier entry
(``/root/reference/request.go:13-32``: URL, Method, Referer, Form, Query,
Cookies, Header, Raw, Callbacks) plus engine columns used for ordering,
partitioning, and politeness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# input: Common-Crawl-style pages table (BASELINE.json input_hint)
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)

# multimap string -> [string], the analog of Go's url.Values
_VALUES = T.MapType(T.StringType(), T.ArrayType(T.StringType()))

# Request fields (request.go:13-32) — shared by seeds and the frontier.
_REQUEST_FIELDS = [
    T.StructField("url", T.StringType()),
    T.StructField("method", T.StringType()),
    T.StructField("referer", T.StringType()),
    T.StructField("form", _VALUES),
    T.StructField("query", _VALUES),
    T.StructField("cookies", _VALUES),
    T.StructField("header", T.MapType(T.StringType(), T.StringType())),
    T.StructField("raw", T.BooleanType()),
    T.StructField("callbacks", T.ArrayType(T.StringType())),
]

SEEDS = T.StructType(
    _REQUEST_FIELDS
    + [
        T.StructField("priority", T.IntegerType()),
    ]
)

FRONTIER = T.StructType(
    _REQUEST_FIELDS
    + [
        T.StructField("url_canon", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("host_hash", T.IntegerType()),
        T.StructField("priority", T.IntegerType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("deadline", T.DoubleType()),  # logical round-clock seconds
        T.StructField("round", T.IntegerType()),  # round the row was enqueued
        T.StructField("seq", T.LongType()),  # FIFO order within round
    ]
)

SEEN = T.StructType(
    [
        T.StructField("url_canon", T.StringType()),
        T.StructField("url_hash", T.LongType()),
        T.StructField("host_hash", T.IntegerType()),
        T.StructField("first_round", T.IntegerType()),
    ]
)

HOST_STATE = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("next_time", T.DoubleType()),  # earliest logical fetch time
    ]
)

ERRORS = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("round", T.IntegerType()),
        T.StructField("error_class", T.StringType()),
        T.StructField("message", T.StringType()),
    ]
)

METRICS = T.StructType(
    [
        T.StructField("round", T.IntegerType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("fetched", T.LongType()),
        T.StructField("deduped", T.LongType()),
        T.StructField("deferred_by_politeness", T.LongType()),
        T.StructField("expired", T.LongType()),
        T.StructField("errors", T.LongType()),
    ]
)

ROBOTS = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("disallow", T.ArrayType(T.StringType())),
        T.StructField("crawl_delay", T.DoubleType()),
    ]
)

# output of the per-round fetch+extract stage
FETCHED = T.StructType(
    [
        T.StructField("url_canon", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("round", T.IntegerType()),
        T.StructField("seq", T.LongType()),
        T.StructField("batch_pos", T.LongType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("host", T.StringType()),
        T.StructField("callbacks", T.ArrayType(T.StringType())),
        T.StructField("text", T.StringType()),
        T.StructField("links", T.ArrayType(T.StringType())),
    ]
)

FORM_STRUCT = T.StructType(
    [
        T.StructField("action", T.StringType()),
        T.StructField("values", _VALUES),
    ]
)


def empty_frame(spark: SparkSession, schema: T.StructType | str) -> DataFrame:
    """A zero-row DataFrame with exactly ``schema`` (a StructType or a
    DDL string), planned in the JVM. ``spark.createDataFrame([], schema)``
    sends its row list through ``parallelize`` and has Python workers
    unpickle it: the first such frame in a session starts a Python worker
    pool of its own, and every job that reads it runs Python tasks."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    )
