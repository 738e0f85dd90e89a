"""ranked_topk (the engine's only batch selector) against the serial
formulation it replaces: ``orderBy(keys).limit(k)`` + ``row_number()
OVER (ORDER BY keys)``. Same rows, same positions, at the edges —
empty input, k=1, k > n, more partitions than rows, and a top-k that
sits entirely in one input partition. The position stamp is a literal
offsets array, so the executed plan holds no join."""

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from crawl_spark.operators.topk import _offsets, ranked_topk

KEYS = ["priority", "round_added", "seq"]
SCHEMA = "priority int, round_added int, seq long, url string"


def _rows(n: int, seed: int = 11):
    rng = random.Random(seed)
    seqs = rng.sample(range(10 * n + 1), n)  # unique FIFO key per row
    return [
        (rng.randrange(3), rng.randrange(4), s, "u%d" % s) for s in seqs
    ]


def _serial(df, k: int):
    """The reference: TakeOrdered merge + one unpartitioned window."""
    return (
        df.orderBy(*KEYS)
        .limit(k)
        .withColumn("batch_pos", F.row_number().over(Window.orderBy(*KEYS)))
    )


def _collect(df):
    return sorted(
        tuple(r)
        for r in df.select("batch_pos", *KEYS, "url").collect()
    )


def _check(df, k: int, num_partitions=None):
    got = _collect(ranked_topk(df, KEYS, k, num_partitions=num_partitions))
    want = _collect(_serial(df, k))
    assert got == want
    assert [g[0] for g in got] == list(range(1, len(want) + 1))
    return got


def test_empty_input(spark):
    df = spark.createDataFrame([], SCHEMA)
    assert _check(df, 5) == []
    assert _check(df.repartition(3), 1, num_partitions=4) == []


@pytest.mark.parametrize("k", [1, 7, 60, 61, 500])
def test_k_sweep_across_partitions(spark, k):
    """k=1, interior k, k = n - 1, k = n and k > n over input spread
    across more partitions than the range shuffle uses."""
    df = spark.createDataFrame(_rows(61), SCHEMA).repartition(7)
    got = _check(df, k, num_partitions=3)
    assert len(got) == min(k, 61)


def test_more_partitions_than_rows(spark):
    """5 rows over 16 input partitions and a 16-way range shuffle:
    most partitions of both stages are empty."""
    df = spark.createDataFrame(_rows(5, seed=3), SCHEMA).repartition(16)
    assert df.rdd.getNumPartitions() == 16
    for k in (1, 3, 5, 9):
        _check(df, k, num_partitions=16)


def test_topk_all_in_one_input_partition(spark):
    """The 10 smallest keys all sit in input partition 0 (parallelize
    slices contiguously), shuffled among 10 larger ones: the local prune
    must sort before it cuts, and the range shuffle must still order the
    survivors globally."""
    rows = sorted(_rows(60, seed=5), key=lambda t: t[:3])
    rng = random.Random(9)
    slices = [rows[:10] + rows[40:50], rows[10:30], rows[30:40] + rows[50:]]
    for sl in slices:
        rng.shuffle(sl)
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(sum(slices, []), 3), SCHEMA
    )
    top = {r[2] for r in rows[:10]}
    in_p0 = {
        r.seq
        for r in df.filter(F.spark_partition_id() == 0).select("seq").collect()
    }
    assert top <= in_p0
    got = _check(df, 10, num_partitions=4)
    assert {g[3] for g in got} == top
    _check(df, 12, num_partitions=4)  # crosses into partition 1


def test_stamp_plan_has_no_join(spark):
    """Step 3 stamps positions from a literal array: no offsets frame,
    no broadcast join. The stamp stays a non-null column, as the
    engine's written transcript schema has it."""
    df = spark.createDataFrame(_rows(61), SCHEMA).repartition(7)
    out = ranked_topk(df, KEYS, 10, num_partitions=3)
    assert not out.schema["batch_pos"].nullable
    assert len(out.collect()) == 10
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan


def test_offsets_fill_empty_pids(spark):
    """Pids 1, 3 and 4 hold no rows: each carries the running sum. A
    range shuffle of deterministic input only leaves trailing pids empty
    (every range bound is a sampled key), so the gaps are set up here
    directly. No rows at all is the literal 0."""
    pids = spark.range(6).select(F.col("id").cast("int").alias("__pid"))
    got = pids.select("__pid", _offsets({0: 3, 2: 4, 5: 1}).alias("o")).orderBy("__pid")
    assert [r.o for r in got.collect()] == [0, 3, 3, 7, 7, 7]
    assert {r.o for r in pids.select(_offsets({}).alias("o")).collect()} == {0}

