"""Distributed exact top-k with global position stamping.

``orderBy(keys).limit(k)`` + ``row_number() OVER (ORDER BY keys)`` is
correct but funnels every surviving row through ONE task (Spark's
TakeOrdered merge, then a single-partition window) — at a 10^10-row
frontier with 10^6-row batches that serial stage dominates the round.

``ranked_topk`` produces the identical result with no serial stage and
one bounded shuffle:

0. partition-local prune: sortWithinPartitions(keys) +
   monotonically_increasing_id (pid·2³³ + local index, so the low bits
   ARE the within-partition rank after the local sort) keeps only each
   input partition's local top-k — no shuffle, and the candidate set
   shrinks from |frontier| to ≤ P_in·k rows;
1. range-partition + local sort of the candidates (the same exchange a
   global ORDER BY uses, so order across partition ids is total);
2. per-partition row counts (P integers to the driver) prefix-summed
   into one dense offsets array over pids 0..max_pid (a pid with no rows
   carries the running sum);
3. global position = element_at(offsets, pid + 1) + local index + 1,
   filter ≤ k. The array is a literal (constant folding makes it one
   literal at any P), so the stamp is a projection over the checkpoint:
   no offsets DataFrame, no join, and no Python job to build one.

Requires the key to be unique per row (the engine's FIFO key
(priority, round_added, seq) is — SURVEY.md §7 hard-part #2); with ties
the result would be partition-dependent, exactly as in the
single-partition formulation. For frontiers where even P_in·k is too
much shuffle, the next refinement is a sampled key-threshold pre-filter;
at k ≤ 10^6 and P ≤ 10^4 the pruned shuffle is already ≤ 10^10·10⁻⁴ of
the naive one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_PID_SHIFT = 33  # monotonically_increasing_id = pid << 33 | local_idx
_IDX_MASK = (1 << _PID_SHIFT) - 1


def _with_rank(df: DataFrame):
    """(pid, local_idx) from monotonically_increasing_id after a
    partition-local sort — no exchange, no window."""
    return df.withColumn("__mid", F.monotonically_increasing_id()).withColumn(
        "__pid", F.shiftright(F.col("__mid"), _PID_SHIFT).cast("int")
    ).withColumn("__idx", F.col("__mid").bitwiseAND(F.lit(_IDX_MASK)))


def grouped_topk(
    df: DataFrame,
    group_cols: list[str],
    key_cols: list[str],
    k,
    rank_col: str = "__grank",
    keep_rank: bool = False,
) -> DataFrame:
    """Exact per-group top-k (rank ≤ k within each group by key order)
    WITHOUT funneling a whole group's rows into one task.

    ``k`` is an int, or the name of a per-row column carrying that
    group's budget (e.g. a per-host politeness budget joined on before
    the call).

    Two stages, same shape as ``ranked_topk``:

    A. partition-local prune (narrow, NO shuffle): after
       sortWithinPartitions(group, keys) the group's rows are contiguous
       per input partition, so (monotonic id − min id per (pid, group))
       is the local in-group rank; keep rank < k. The min-per-(pid,
       group) aggregate ships ≤ P·G tiny rows and broadcasts back.
       Candidates shrink from |df| to ≤ P·Σk.
    B. one window partitionBy(group) over the candidates — each group
       now holds ≤ P·k rows, a bounded task, not its whole frontier
       slice.

    Correctness requires deterministic recomputation of the input (the
    id column is evaluated on both sides of the self-aggregate-join):
    unique keys + a deterministic source (parquet scan / checkpointed
    state, as in the engine) guarantee it — the same contract
    ``ranked_topk`` step 0 already relies on.

    ``keep_rank=True`` keeps ``rank_col`` (the exact 1-based in-group
    rank) in the output for callers whose contract exposes it
    (pq_topk / ivf_topk emit a ``rank`` column).
    """
    from pyspark.sql import Window

    kcol = F.col(k) if isinstance(k, str) else F.lit(k)
    local = _with_rank(df.sortWithinPartitions(*group_cols, *key_cols))
    mins = local.groupBy("__pid", *group_cols).agg(F.min("__idx").alias("__g0"))
    candidates = (
        local.join(F.broadcast(mins), ["__pid", *group_cols])
        .filter(F.col("__idx") - F.col("__g0") < kcol)
        .drop("__mid", "__pid", "__idx", "__g0")
    )
    w = Window.partitionBy(*group_cols).orderBy(*key_cols)
    out = candidates.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= kcol
    )
    return out if keep_rank else out.drop(rank_col)


def ranked_topk(
    df: DataFrame,
    key_cols: list[str],
    k: int,
    pos_col: str = "batch_pos",
    num_partitions: int | None = None,
) -> DataFrame:
    P = num_partitions or df.sparkSession.sparkContext.defaultParallelism

    # 0. local prune (narrow): each input partition can contribute at
    # most k rows to the global top-k.
    pruned = _with_rank(df.sortWithinPartitions(*key_cols)).filter(F.col("__idx") < k)
    pruned = pruned.drop("__mid", "__pid", "__idx")

    # 1. one bounded range shuffle gives total order across partitions.
    ordered = _with_rank(
        pruned.repartitionByRange(P, *[F.col(c) for c in key_cols]).sortWithinPartitions(
            *key_cols
        )
    ).localCheckpoint(eager=True)  # freeze ids; counts + stamping share it

    # 2. per-partition counts -> offsets (P integers on the driver).
    counts = {
        r["__pid"]: r["n"]
        for r in ordered.groupBy("__pid").agg(F.count("*").alias("n")).collect()
    }

    # 3. exact global position, no serial stage.
    return (
        ordered.withColumn(pos_col, _offsets(counts) + F.col("__idx") + 1)
        .filter(F.col(pos_col) <= k)
        .drop("__mid", "__pid", "__idx")
    )


def _offsets(counts: dict[int, int]):
    """``__pid``'s first global position minus one, as a column: the
    prefix sums of ``counts`` (rows per pid) in one dense literal array
    over pids 0..max_pid, so a pid with no rows takes the running sum.
    No rows gives the literal 0."""
    if not counts:
        return F.lit(0).cast("long")
    offs, acc = [], 0
    for pid in range(max(counts) + 1):
        offs.append(acc)
        acc += counts.get(pid, 0)
    # every pid with rows is in range; the coalesce only drops the
    # nullability Spark types element_at with, so the stamped column
    # stays non-null in the written transcript schema
    offsets = F.array(*[F.lit(o) for o in offs]).cast("array<bigint>")
    return F.coalesce(F.element_at(offsets, F.col("__pid") + 1), F.lit(0))
