"""HyperBall neighborhood function: accuracy vs exact all-pairs BFS,
bit-exact DuckDB oracle parity through the unrolled iteration,
determinism, early-stop convergence, and the effective-diameter read."""

import random

import duckdb
import pandas as pd
import pytest

from crawl_spark.operators.graph import (
    effective_diameter,
    neighborhood_function,
    neighborhood_function_oracle_sql,
)


def _exact_nf(n, edges, max_t):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
    tot = [0] * (max_t + 1)
    for v in range(n):
        seen, frontier = {v}, {v}
        tot[0] += 1
        for t in range(1, max_t + 1):
            nxt = set()
            for u in frontier:
                for w in adj.get(u, []):
                    if w not in seen:
                        seen.add(w)
                        nxt.add(w)
            frontier = nxt
            tot[t] += len(seen)
    return tot


def test_accuracy_vs_exact_bfs(spark):
    """Random 3-out digraph, 300 nodes: every N(t) within 10% of the
    exact all-pairs BFS answer (m=256 → ~6.5% per-node sigma, tighter
    on the 300-node sum)."""
    rng = random.Random(5)
    n = 300
    edges = sorted({(v, rng.randrange(n)) for v in range(n) for _ in range(3)})
    exact = _exact_nf(n, edges, 8)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = dict(
        (r["t"], r["n_pairs_est"])
        for r in neighborhood_function(df, max_t=8).collect()
    )
    # default = exact-saturation stop, and this graph is still growing
    # at t=8, so EVERY t must be present (no heuristic early exit)
    assert sorted(got) == list(range(9))
    for t, true in enumerate(exact):
        assert abs(got[t] - true) / true < 0.10, (t, got[t], true)
    # monotone non-decreasing curve
    curve = [got[t] for t in sorted(got)]
    assert curve == sorted(curve)


def test_oracle_parity_and_determinism(spark):
    edges = [(i % 97, (i * 7 + 3) % 97) for i in range(300)] + [
        (i % 50, (i + 1) % 50) for i in range(50)
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(
        tuple(r)
        for r in neighborhood_function(df, max_t=3, rel_tol=0.0).collect()
    )
    con = duckdb.connect()
    con.register("e0", pd.DataFrame(edges, columns=["src", "dst"]))
    want = sorted(
        tuple(r)
        for r in con.execute(
            neighborhood_function_oracle_sql("SELECT src, dst FROM e0", 3)
        ).fetchall()
    )
    assert got == want  # bit-exact through 3 unrolled iterations
    again = sorted(
        tuple(r)
        for r in neighborhood_function(df, max_t=3, rel_tol=0.0).collect()
    )
    assert got == again

    # a diameter-1 star (every leaf points at the hub) saturates at
    # t=1: Spark stops at t=2 (registers unchanged), the oracle unrolls
    # to t=3 — Spark's rows are a prefix, the tail repeats N(2)
    star = [(i, 0) for i in range(1, 21)]
    got = [
        tuple(r)
        for r in neighborhood_function(
            spark.createDataFrame(star, "src long, dst long"), max_t=3
        ).orderBy("t").collect()
    ]
    con.register("e1", pd.DataFrame(star, columns=["src", "dst"]))
    want = sorted(
        tuple(r)
        for r in con.execute(
            neighborhood_function_oracle_sql("SELECT src, dst FROM e1", 3)
        ).fetchall()
    )
    assert [t for t, _ in got] == [0, 1, 2]
    assert [t for t, _ in want] == [0, 1, 2, 3]
    assert got == want[: len(got)]
    assert all(n == got[-1][1] for _, n in want[len(got):])


def test_saturation_stop_and_diameter(spark):
    """A 10-node directed cycle saturates at t=9; the EXACT
    register-signature rule stops the loop there instead of running
    max_t=30 out, and the 0.9-effective diameter lands near
    0.9·(n-1). The opt-in rel_tol budget cap stops earlier — and is
    therefore NOT the default (a bottleneck graph can grow slowly
    before a later surge)."""
    n = 10
    edges = [(i, (i + 1) % n) for i in range(n)]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = sorted(
        (r["t"], r["n_pairs_est"])
        for r in neighborhood_function(df, max_t=30).collect()
    )
    ts = [t for t, _ in rows]
    assert max(ts) <= 11  # stopped at exact saturation, not 30
    d = effective_diameter(rows, q=0.9)
    assert 7.0 <= d <= 9.5
    # opt-in budget cap: a huge tolerance exits well before saturation
    capped = neighborhood_function(df, max_t=30, rel_tol=0.5).collect()
    assert max(r["t"] for r in capped) < max(ts)
    with pytest.raises(ValueError, match="max_t"):
        neighborhood_function(df, max_t=-1)


def test_oracle_handles_zero_iterations(spark):
    """max_t=0: both sides emit just the t=0 point (the oracle's CTE
    chain must stay syntactically valid with no unrolled steps)."""
    edges = [(1, 2), (2, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = [tuple(r) for r in neighborhood_function(df, max_t=0).collect()]
    con = duckdb.connect()
    con.register("e0", pd.DataFrame(edges, columns=["src", "dst"]))
    want = [
        tuple(r)
        for r in con.execute(
            neighborhood_function_oracle_sql("SELECT src, dst FROM e0", 0)
        ).fetchall()
    ]
    assert got == want and len(got) == 1 and got[0][0] == 0


def test_harmonic_centrality_semantics_and_parity(spark):
    """Star graph: the center (reached by all 8 leaves at distance 1)
    scores ~8, leaves score 0 under direction='in'; 'out' flips it.
    Both directions hash-match the unrolled DuckDB oracle bit for
    bit, and saturation early-stop equals the full unroll (post-
    saturation difference quotients are exactly 0)."""
    from crawl_spark.operators.graph import (
        harmonic_centrality,
        harmonic_centrality_oracle_sql,
    )

    star = [(i, 0) for i in range(1, 9)]
    sdf = spark.createDataFrame(star, "src long, dst long")
    hin = {
        r["node"]: r["harmonic"]
        for r in harmonic_centrality(sdf, max_t=4).collect()
    }
    assert abs(hin[0] - 8.0) < 8 * 0.35 and hin[0] > 4  # m=256 error
    assert all(hin[i] == 0.0 for i in range(1, 9))
    hout = {
        r["node"]: r["harmonic"]
        for r in harmonic_centrality(sdf, max_t=4, direction="out").collect()
    }
    assert hout[0] == 0.0 and hout[1] > 0.5

    edges = [(i % 61, (i * 5 + 2) % 61) for i in range(200)]
    df = spark.createDataFrame(edges, "src long, dst long")
    con = duckdb.connect()
    con.register("esrc", pd.DataFrame(edges, columns=["src", "dst"]))
    for direction in ("in", "out"):
        got = sorted(
            tuple(r)
            for r in harmonic_centrality(
                df, max_t=3, direction=direction
            ).collect()
        )
        want = sorted(
            tuple(r)
            for r in con.execute(
                harmonic_centrality_oracle_sql(
                    "SELECT src, dst FROM esrc", 3, direction
                )
            ).fetchall()
        )
        assert got == want, direction
    # saturation-stop == full unroll: a 4-node path saturates at t=3;
    # Spark (stops early) must equal the oracle unrolled to t=6
    path = [(0, 1), (1, 2), (2, 3)]
    pdf_ = spark.createDataFrame(path, "src long, dst long")
    got = sorted(
        tuple(r) for r in harmonic_centrality(pdf_, max_t=6).collect()
    )
    con.register("p0", pd.DataFrame(path, columns=["src", "dst"]))
    want = sorted(
        tuple(r)
        for r in con.execute(
            harmonic_centrality_oracle_sql("SELECT src, dst FROM p0", 6)
        ).fetchall()
    )
    assert got == want
    with pytest.raises(ValueError, match="direction"):
        harmonic_centrality(pdf_, direction="sideways")


def test_hyperball_bucketed_edges_never_shuffle(spark, tmp_path):
    """The 10^10-edge claim, asserted on the plan: with the edge table
    laid out bucketed by dst (the pagerank pattern on the other key),
    one push round scans the edges in place — Bucketed: true, NO
    Exchange on the edge side of the join; only the register side
    moves. Registers are exact MAX merges, so the bucketed and plain
    layouts produce bit-identical register tables."""
    from pyspark.sql import functions as F

    from crawl_spark.operators.graph import (
        _hb_init_registers,
        _hb_push_round,
    )

    e = spark.range(2000).select(
        (F.col("id") % 97).alias("src"),
        ((F.col("id") * 31 + 7) % 97).alias("dst"),
    ).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    regs = _hb_init_registers(nodes)
    plain = sorted(
        (r["node"], r["idx"], r["rho"])
        for r in _hb_push_round(e, regs).collect()
    )
    spark.sql("DROP TABLE IF EXISTS hb_edges_test")
    (
        e.write.bucketBy(8, "dst")
        .sortBy("dst")
        .option("path", str(tmp_path / "hb_edges"))
        .mode("overwrite")
        .saveAsTable("hb_edges_test")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        stepped = _hb_push_round(spark.table("hb_edges_test"), regs)
        bucketed = sorted(
            (r["node"], r["idx"], r["rho"]) for r in stepped.collect()
        )
        plan = stepped._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
        after = plan.split("SortMergeJoin")[1].splitlines()[1:]
        edge_side = [l for l in after if l.lstrip().startswith(":")]
        assert edge_side and any("FileScan" in l for l in edge_side)
        assert not any("Exchange" in l for l in edge_side)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS hb_edges_test")
    assert bucketed == plain  # exact MAX merge: layout cannot matter
