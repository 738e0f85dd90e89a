"""Link-graph analytics for crawl prioritization.

The reference crawler's frontier is FIFO/priority (SURVEY.md §2.2); a
production deployment of the same pipeline ranks hosts by link-graph
authority to decide crawl order and budget (the classic
Page/Brin/Motwani/Winograd PageRank formulation). This module provides
that as a Spark-first iterative operator over an edge table.

Scale design (the part that matters at 10^10 edges):

- The edge table is joined against the rank table once per iteration.
  Pass ``bucket_path``/``n_buckets`` and the deduped edges are written
  ONCE as a bucket-by-``src`` table; every iteration's
  ``edges ⋈ ranks ON src`` then reads the bucketed scan in place
  (``Bucketed: true``, NO exchange on the edge side — verified in the
  physical plan by test_pagerank_bucketed_edges_never_shuffle) and
  exchanges only the O(nodes) rank side. Without a bucket path the
  edges are localCheckpointed and re-shuffled per iteration when the
  join is sort-merge — measured: a checkpointed DataFrame does NOT
  retain its hash partitioning (``Scan ExistingRDD`` reports unknown
  partitioning), so checkpoint-only is the small-graph path where the
  rank side broadcasts anyway.
- Contributions are summed with a partial-aggregated ``groupBy(dst)``
  (map-side combine), so a hub page with 10^7 in-links never funnels
  raw edge rows to one task.
- Dangling mass (rank parked on nodes with no out-edges) is a one-row
  aggregate cross-joined back via broadcast — O(1) data, keeps the
  math exact (ranks sum to 1 every iteration).
- Ranks are localCheckpointed per iteration: bounded O(nodes) state,
  truncated lineage (no exponential plan growth over iterations).

Float contract: intermediate math in float64 on both engines; only the
FINAL rank is rounded (6 dp, the repo-wide convention) so the DuckDB
oracle hash-matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def out_degrees(edges: DataFrame, src: str = "src") -> DataFrame:
    """Distinct-edge out-degree per source node (one partial-agg shuffle)."""
    return edges.groupBy(F.col(src).alias("node")).agg(
        F.count("*").alias("deg")
    )


def pr_priority(
    ranks: DataFrame,
    thresholds: tuple[float, ...] = (1e-2, 1e-3, 1e-4, 1e-5),
    node_col: str = "node",
    rank_col: str = "rank",
) -> DataFrame:
    """Quantize PageRank mass into frontier priority tiers — the
    composition that closes the loop between the link graph and the
    crawl scheduler (OPIC/PageRank-ordered frontiers: crawl
    high-centrality hosts first). The engine's FIFO key is
    ``(priority, round_added, seq)`` ascending (`plans/engine.py:62`),
    so tier 0 = highest rank dequeues first.

    ``priority = Σ_i [rank < thresholds[i]]`` over strictly-decreasing
    literal thresholds: rank ≥ t_0 → 0, t_1 ≤ rank < t_0 → 1, …,
    below all → len(thresholds). Literal-threshold compares on the
    6-dp ranks :func:`pagerank` emits are engine-exact — no quantile
    estimation, no window. Pure projection: O(nodes), no shuffle;
    join the result onto seeds/frontier by host to schedule.
    """
    if list(thresholds) != sorted(set(thresholds), reverse=True):
        raise ValueError("thresholds must be strictly decreasing")
    r = F.col(rank_col)
    prio = sum(
        ((r < F.lit(float(t))).cast("int") for t in thresholds),
        F.lit(0),
    )
    return ranks.select(
        F.col(node_col).alias("node"),
        r.alias("rank"),
        prio.cast("int").alias("priority"),
    )


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    bucket_path: str | None = None,
    n_buckets: int = 32,
    bucket_table: str = "pagerank_edges",
) -> DataFrame:
    """Power-iteration PageRank over a (src, dst) edge table.

    r_{t+1}(v) = (1-d)/N + d * (Σ_{u→v} r_t(u)/deg(u) + dangling_t/N)

    with uniform init r_0 = 1/N over N = |src ∪ dst| nodes and dangling
    mass (nodes with no out-edges) redistributed uniformly — the
    standard stochastic-matrix completion, so Σ r = 1 at every step.

    Returns (node, rank) with rank rounded to 6 dp. Input edges are
    deduplicated (parallel edges count once, matching the adjacency-
    matrix formulation).
    """
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).distinct()
    if bucket_path is not None:
        # Lay the big table out once; every iteration scans it in place.
        spark = e.sparkSession
        spark.sql(f"DROP TABLE IF EXISTS {bucket_table}")
        (
            e.write.bucketBy(n_buckets, "src")
            .sortBy("src")
            .option("path", bucket_path)
            .mode("overwrite")
            .saveAsTable(bucket_table)
        )
        e = spark.table(bucket_table)
    else:
        e = e.localCheckpoint(eager=True)

    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes.select("node", F.lit(0.0).alias("rank"))
    deg = out_degrees(e).localCheckpoint(eager=True)

    base = (1.0 - damping) / n
    # ranks carries deg alongside rank so the per-iteration join count
    # stays at one (edges ⋈ ranks); deg is NULL for dangling nodes.
    ranks = nodes.join(deg, "node", "left").select(
        "node", F.lit(1.0 / n).alias("rank"), "deg"
    ).localCheckpoint(eager=True)

    for _ in range(iters):
        dangling = ranks.filter(F.col("deg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
        )
        contrib = (
            e.join(
                ranks.select(
                    F.col("node").alias("src"),
                    (F.col("rank") / F.col("deg")).alias("w"),
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("w").alias("s"))
        )
        ranks = (
            ranks.select("node", "deg")
            .join(contrib, "node", "left")
            .join(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce(F.col("s"), F.lit(0.0)) + F.col("dm") / n)
                ).alias("rank"),
                "deg",
            )
            .localCheckpoint(eager=True)
        )

    return ranks.select("node", F.round("rank", 6).alias("rank"))


def connected_components(
    pairs: DataFrame,
    a: str = "a",
    b: str = "b",
    max_iters: int = 20,
    bucket_path: str | None = None,
    n_buckets: int = 32,
    bucket_table: str = "cc_edges",
    stats: dict | None = None,
) -> DataFrame:
    """Connected components by iterative min-label propagation.

    Input is an undirected pair table (e.g. the output of
    ``minhash_candidates`` / ``signbit_neardup_pairs``); output is
    (node, component) where ``component`` is the smallest node id in
    the component — the canonical survivor a dedup pipeline keeps, so
    ``docs ⋈ cc ON doc_id=node WHERE node = component`` collapses every
    transitive near-dup group to one row.

    Each iteration: label(v) ← min(label(v), min_{u~v} label(u)),
    which converges in O(component diameter) rounds — near-dup
    clusters are shallow (diameter ≤ a few), and the loop stops early
    at the first iteration with zero label changes (one O(1)-row count
    per iteration). Same scale layout as :func:`pagerank`: the
    symmetrized edge table is laid out once (bucket-by-src when
    ``bucket_path`` is given — scanned in place per iteration, no
    edge shuffle), and only the O(nodes) label table moves.
    """
    if max_iters < 1:
        raise ValueError("max_iters must be >= 1")
    p = pairs.select(F.col(a).alias("a"), F.col(b).alias("b"))
    sym = (
        p.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(p.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
    )
    if bucket_path is not None:
        spark = sym.sparkSession
        spark.sql(f"DROP TABLE IF EXISTS {bucket_table}")
        (
            sym.write.bucketBy(n_buckets, "src")
            .sortBy("src")
            .option("path", bucket_path)
            .mode("overwrite")
            .saveAsTable(bucket_table)
        )
        sym = spark.table(bucket_table)
    else:
        sym = sym.localCheckpoint(eager=True)

    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component"))
        .localCheckpoint(eager=True)
    )
    n_rounds = 0
    for n_rounds in range(1, max_iters + 1):
        neigh_min = (
            sym.join(
                labels.select(
                    F.col("node").alias("src"), F.col("component").alias("lc")
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("lc").alias("nm"))
        )
        nxt = (
            labels.join(neigh_min, "node", "left")
            .select(
                "node",
                F.least(
                    "component", F.coalesce("nm", "component")
                ).alias("component"),
                (F.coalesce("nm", "component") < F.col("component")).alias(
                    "__chg"
                ),
            )
            .localCheckpoint(eager=True)
        )
        n_changed = nxt.filter("__chg").count()
        labels = nxt.drop("__chg")
        if n_changed == 0:
            break
    else:
        # silent truncation would report one long-diameter component as
        # several and diverge from the min-reachable oracle — fail loudly
        raise ValueError(
            f"connected_components did not converge in max_iters={max_iters} "
            f"({n_changed} labels still changing); raise max_iters — the "
            "per-iteration cost is one edge-scan join + an O(nodes) count "
            "— or use connected_components_star (log-round on any diameter)"
        )
    if stats is not None:
        stats["rounds"] = n_rounds
    return labels


def connected_components_star(
    pairs: DataFrame,
    a: str = "a",
    b: str = "b",
    max_rounds: int = 32,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components in O(log n)-ish rounds by alternating
    large-star / small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14 — public algorithm,
    re-expressed on DataFrames).

    :func:`connected_components` (min-label propagation) needs
    O(component diameter) rounds — right for near-dup clusters
    (diameter ≤ a few) because each round only SCANS the static,
    bucketed edge table. A web LINK graph has long chains: a
    10^4-diameter component would need 10^4 edge scans. This variant
    converges in logarithmic rounds on any shape, at the cost that
    each round MATERIALIZES a new O(E) edge set (the contraction
    rewrites edges, so the scanned-in-place layout can't apply):

      large-star: every node u computes m = min({u} ∪ N(u)) and
        re-points its LARGER neighbors (v > u) at m;
      small-star: over the resulting larger→smaller edges, every node
        re-points its smaller neighbors (and itself) at their minimum.

    Fixpoint = disjoint stars rooted at each component's minimum node
    (checked exactly: equal count + empty anti-join, both O(E) but
    only when counts match). Per round: two partial-aggregated
    groupBys + distinct — no window, no driver-side structure; state
    is localCheckpointed so lineage stays O(1) across rounds.

    Output (node, component) is identical to
    :func:`connected_components` (component = min reachable node).
    ``stats["rounds"]`` reports rounds-to-converge when a dict is
    passed (bench/test hook).
    """
    if max_rounds < 1:
        raise ValueError("max_rounds must be >= 1")
    p = pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
    # nodes BEFORE dropping self-loops: a (x,x)-only node is still a
    # (singleton) component, matching the min-label operator
    nodes = (
        p.select(F.col("u").alias("node"))
        .union(p.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # canonical directed form: (u, v) with v < u
    e = (
        p.filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_prev = e.count()
    rounds = 0
    for rounds in range(1, max_rounds + 1):
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lmin = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("u", "mv").alias("m"))
        )
        # NO distinct on ls (round 5, measured): its two consumers are a
        # min-aggregate (dups are identity) and the join feeding the
        # round's FINAL distinct — the inner dedup re-shuffled O(E)
        # rows for nothing. ls is bounded either way: one row per
        # (u,v>u) edge of sym, so dropping the dedup can't blow up the
        # join (each ls row matches exactly one smin row). §e5b
        # same-hour pair: 32.6 → 26.7 s (seg-65 chain), 70.0 → 52.4 s
        # (diameter-2M chain), rounds and output identical.
        ls = (
            sym.filter(F.col("v") > F.col("u"))
            .join(lmin, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        smin = ls.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            ls.join(smin, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smin.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_now = ss.count()
        done = n_now == n_prev and ss.join(e, ["u", "v"], "left_anti").isEmpty()
        e, n_prev = ss, n_now
        if done:
            break
    else:
        raise ValueError(
            f"connected_components_star did not converge in "
            f"max_rounds={max_rounds} — that is ~2^{max_rounds} of "
            "contraction headroom, so the input is likely pathological "
            "(or max_rounds was lowered); raise max_rounds"
        )
    if stats is not None:
        stats["rounds"] = rounds
    comp = (
        e.groupBy("u")
        .agg(F.min("v").alias("component"))
        .select(F.col("u").alias("node"), "component")
    )
    return nodes.join(comp, "node", "left").select(
        "node", F.coalesce("component", F.col("node")).alias("component")
    )


def hop_distance(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 6,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    pre_deduped: bool = False,
) -> DataFrame:
    """BFS shortest hop count from a seed set over a directed (src, dst)
    link graph — crawl-depth analysis: how many link hops from the seed
    list is each reachable page? (The engine's `round_added` is the
    politeness-budgeted analogue; this is the pure graph distance used
    for frontier-depth caps and seed-coverage studies.)

    Returns (node, hop) for every node reachable within ``max_hops``
    (seeds at hop 0; unreachable nodes are absent). Deterministic:
    hop = length of the shortest directed path.

    Scale shape (the same one the engine's seen-set probe uses,
    `plans/engine.py` `_links_minus_seen`): per round the frontier is
    expanded through ONE equi-join on src, then membership against the
    accumulated distance table runs scan-probe — `dist` (O(nodes),
    checkpointed) is SCANNED, never shuffled: hits = dist ⋉ candidates,
    new = candidates ⋉̸ hits, and only the bounded per-round sides move.
    State is localCheckpointed per round (O(1) lineage). Rounds are
    bounded by ``max_hops``, the per-round cost by |frontier| · avg
    out-degree. For web-scale edge tables, lay the edges out bucketed
    by src (the :func:`pagerank` ``bucket_path`` pattern) and pass the
    bucketed scan in with ``pre_deduped=True`` — the O(E) side is then
    scanned in place every round, no exchange, no materialization.
    """
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not pre_deduped:
        e = e.distinct().localCheckpoint(eager=True)
    dist = (
        seeds.select(F.col(node_col).alias("node"))
        .distinct()
        .withColumn("hop", F.lit(0))
        .localCheckpoint(eager=True)
    )
    frontier = dist.select("node")
    for h in range(1, max_hops + 1):
        cand = (
            e.join(frontier.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        hits = dist.join(F.broadcast(cand), "node", "leftsemi").select("node")
        new = (
            cand.join(F.broadcast(hits), "node", "left_anti")
            .withColumn("hop", F.lit(h))
            .localCheckpoint(eager=True)
        )
        if new.isEmpty():
            break
        dist = dist.union(new).localCheckpoint(eager=True)
        frontier = new.select("node")
    return dist.select("node", F.col("hop").cast("int").alias("hop"))


def resolve_redirects(
    redirects: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_chain: int = 16,
) -> DataFrame:
    """Resolve HTTP-redirect chains to their final target — the 3xx
    folding a crawl runs before frontier dedup (chains of 301/302/
    canonical hops all name one page; Common Crawl's index stores the
    resolved target). Input is one (src, dst) edge per redirecting URL;
    multiple recorded edges per src fold to ``min(dst)`` first (one
    deterministic successor — redirects are functional per capture).

    Returns one row per redirecting URL: ``(src, final, hops,
    resolved)`` — ``final``/``hops`` are the chain's terminal (a URL
    with no outgoing redirect) and its exact length when the chain
    terminates within ``max_chain`` hops; loops and over-long chains
    come back ``resolved = false`` with NULL final/hops (the crawler
    drops them — a redirect loop is a trap).

    POINTER DOUBLING, not step-by-step walking: each round every
    unresolved pointer jumps through the pointer of the URL it
    currently points at, doubling the covered distance — ceil(log2(
    max_chain)) rounds total, each ONE self-equi-join of the O(|
    redirects|) pointer table (hash-partitioned on the join key) plus
    a localCheckpoint (O(1) lineage). A 10^4-long chain resolves in 14
    rounds where per-hop walking needs 10^4; the same contrast as
    min-label vs star-contraction CC.
    """
    if max_chain < 1:
        raise ValueError("max_chain must be >= 1")
    r = (
        redirects.groupBy(F.col(src).alias("node"))
        .agg(F.min(dst).alias("cur"))
        .localCheckpoint(eager=True)
    )
    # done at hops=1 iff the first target already has no out-edge
    ptr = (
        r.join(
            r.select(F.col("node").alias("cur"), F.lit(1).alias("__k")),
            "cur",
            "left",
        )
        .select(
            "node",
            "cur",
            F.lit(1).cast("long").alias("hops"),
            F.col("__k").isNull().alias("done"),
        )
        .localCheckpoint(eager=True)
    )
    span = 1
    while span < max_chain:
        jump = ptr.select(
            F.col("node").alias("j_node"),
            F.col("cur").alias("j_cur"),
            F.col("hops").alias("j_hops"),
            F.col("done").alias("j_done"),
        )
        ptr = (
            ptr.join(jump, ptr["cur"] == jump["j_node"], "left")
            .select(
                "node",
                F.when(
                    F.col("done") | F.col("j_node").isNull(), F.col("cur")
                ).otherwise(F.col("j_cur")).alias("cur"),
                F.when(
                    F.col("done") | F.col("j_node").isNull(), F.col("hops")
                ).otherwise(F.col("hops") + F.col("j_hops")).alias("hops"),
                (
                    F.col("done")
                    | F.col("j_node").isNull()
                    | F.col("j_done")
                ).alias("done"),
            )
            .localCheckpoint(eager=True)
        )
        span *= 2
    ok = F.col("done") & (F.col("hops") <= max_chain)
    return ptr.select(
        F.col("node").alias("src"),
        F.when(ok, F.col("cur")).alias("final"),
        F.when(ok, F.col("hops")).cast("int").alias("hops"),
        ok.alias("resolved"),
    )


def degree_stats(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node degree profile of a directed link graph: (node, out_deg,
    in_deg, deg_bucket) over distinct edges — the standard first look at
    a crawl's link structure (hub/authority mass, dangling share; the
    log2 bucket is the power-law histogram key).

    Two partial-aggregated groupBys (distinct edges → per-src count,
    per-dst count) and ONE dimension-sized full-outer merge on node —
    no window, no driver data. ``deg_bucket`` = number of binary digits
    of (out_deg + in_deg), i.e. floor(log2)+1, computed with integer/
    string builtins (`bin()`) so both engines agree exactly.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    e = e.localCheckpoint(eager=False)
    out_d = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("out_deg")
    )
    in_d = e.groupBy(F.col("dst").alias("node")).agg(
        F.count("*").cast("long").alias("in_deg")
    )
    # full outer on the dimension-sized per-node aggregates; both sides
    # preserved, so no broadcast hint (repo rule) — AQE picks the
    # strategy. coalesce() fills the one-sided nodes.
    merged = out_d.join(in_d, "node", "full_outer").select(
        "node",
        F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
        F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
    )
    return merged.withColumn(
        "deg_bucket",
        F.length(F.bin(F.col("out_deg") + F.col("in_deg"))).cast("int"),
    )


def anchor_text_topk(
    links: DataFrame,
    dst: str = "dst",
    anchor: str = "anchor",
    k: int = 5,
) -> DataFrame:
    """Top-k anchor texts per link target by frequency — the classic
    link-graph ranking/description signal (anchor text describes the
    TARGET page; aggregating it per dst yields queryable page labels
    and crawl-priority hints).

    Shape: one partial-aggregated groupBy(dst, anchor) count, then
    ``grouped_topk`` per dst ordered by (count desc, anchor) — a hub
    page with 10^7 in-links never funnels its raw anchor rows into one
    window task (the exact skew case grouped_topk exists for; the
    politeness scheduler's measurement in BENCH.md §f applies
    unchanged). grouped_topk's deterministic-recomputation contract
    holds here because (dst, anchor) is unique after the aggregate and
    hash aggregation recomputes deterministically from a deterministic
    source.

    Output: (dst, anchor, n_links), ties broken by anchor ascending.
    """
    from .topk import grouped_topk

    counts = (
        links.groupBy(F.col(dst).alias("dst"), F.col(anchor).alias("anchor"))
        .agg(F.count("*").alias("n_links"))
        .withColumn("__negn", -F.col("n_links"))
    )
    return grouped_topk(counts, ["dst"], ["__negn", "anchor"], k).drop("__negn")


def host_graph(
    links: DataFrame,
    src_url: str = "src_url",
    dst_url: str = "dst_url",
    keep_self_loops: bool = False,
) -> DataFrame:
    """Collapse the page-level link graph to a weighted HOST graph —
    the standard first reduction for web-graph analysis (host-level
    PageRank/HITS, spam-farm detection, crawl-budget allocation):

        (src_host, dst_host, n_links, n_src_pages)

    where ``n_links`` counts page-level edges between the host pair and
    ``n_src_pages`` counts distinct linking pages on the source host.

    Plan shape at 100 TB: host extraction is one JVM regexp projection
    (``urlfilter.host_expr``, no Python); the collapse is ONE
    partial-aggregated groupBy on (src_host, dst_host) — map-side
    combine crushes the edge count to O(host-pairs) before the shuffle,
    and |host pairs| << |page edges| on real web graphs (hosts are
    ~10^7 where pages are ~10^11). Intra-host links (the bulk of the
    web) are dropped by default — ``keep_self_loops=True`` keeps them,
    e.g. for site-internal connectivity stats. Rows whose URL has no
    extractable host (host_expr yields '') are dropped as malformed.

    The output feeds :func:`pagerank` / :func:`hits` directly
    (src="src_host", dst="dst_host").
    """
    from .urlfilter import host_expr

    e = links.select(
        host_expr(F.col(src_url)).alias("src_host"),
        host_expr(F.col(dst_url)).alias("dst_host"),
        F.col(src_url).alias("__sp"),
    ).filter((F.col("src_host") != "") & (F.col("dst_host") != ""))
    if not keep_self_loops:
        e = e.filter(F.col("src_host") != F.col("dst_host"))
    return e.groupBy("src_host", "dst_host").agg(
        F.count("*").alias("n_links"),
        F.count_distinct("__sp").alias("n_src_pages"),
    )


def hits(
    edges: DataFrame,
    iters: int = 5,
    src: str = "src",
    dst: str = "dst",
    bucket_path: str | None = None,
    n_buckets: int = 32,
    bucket_table: str = "hits_edges",
) -> DataFrame:
    """Kleinberg's HITS (hubs & authorities) as an L1-normalized power
    iteration over a (src, dst) edge table:

        a_t(v) ∝ Σ_{u→v} h_{t-1}(u)      (then normalized so Σ a = 1)
        h_t(u) ∝ Σ_{u→v} a_t(v)          (then normalized so Σ h = 1)

    with uniform init h_0 = 1/N over N = |src ∪ dst| nodes. L1 (not L2)
    normalization keeps every step a sum/divide — associative floats
    that hash-match the DuckDB oracle at 6 dp, the same contract
    :func:`pagerank` uses. Parallel edges are deduplicated (adjacency-
    matrix formulation). Returns (node, hub, authority) rounded to 6 dp.

    Plan shape at 100 TB: unlike PageRank, each HITS iteration joins the
    O(E) edge table on BOTH endpoints — on ``src`` for the authority
    step and on ``dst`` for the hub step. With ``bucket_path`` set, the
    edges are laid out TWICE (bucketed+sorted by src, and by dst); each
    step scans the layout co-located on its join key, so the edge side
    never exchanges in the loop — the per-iteration shuffle is O(nodes)
    (the score vectors), exactly like pagerank's. Without it, both
    layouts fall back to one localCheckpointed copy (edge side shuffles
    each iteration — fine at test scale, wrong at 10^11 edges).

    Normalization totals ride a broadcast of a 1-row aggregate — no
    driver collect in the loop.
    """
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).distinct()
    if bucket_path is not None:
        spark = e.sparkSession
        e_by = {}
        for key in ("src", "dst"):
            tbl = f"{bucket_table}_{key}"
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            (
                e.write.bucketBy(n_buckets, key)
                .sortBy(key)
                .option("path", f"{bucket_path}_{key}")
                .mode("overwrite")
                .saveAsTable(tbl)
            )
            e_by[key] = spark.table(tbl)
    else:
        e = e.localCheckpoint(eager=True)
        e_by = {"src": e, "dst": e}

    nodes = (
        e_by["src"].select(F.col("src").alias("node"))
        .union(e_by["src"].select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "node", F.lit(0.0).alias("hub"), F.lit(0.0).alias("authority")
        )

    def _normalize(raw: DataFrame, out: str) -> DataFrame:
        """raw = (node, s) partial sums over a subset of nodes →
        (node, out) over ALL nodes with Σ out = 1 (all-zero → zeros)."""
        tot = raw.agg(F.sum("s").alias("__t"))
        return (
            nodes.join(raw, "node", "left")
            .join(F.broadcast(tot))
            .select(
                "node",
                F.when(
                    F.col("__t") > 0, F.coalesce(F.col("s"), F.lit(0.0)) / F.col("__t")
                ).otherwise(F.lit(0.0)).alias(out),
            )
            .localCheckpoint(eager=True)
        )

    h = nodes.select("node", F.lit(1.0 / n).alias("hub")).localCheckpoint(eager=True)
    a = None
    for _ in range(iters):
        a_raw = (
            e_by["src"].join(
                h.select(F.col("node").alias("src"), F.col("hub")), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("s"))
        )
        a = _normalize(a_raw, "authority")
        h_raw = (
            e_by["dst"].join(
                a.select(F.col("node").alias("dst"), F.col("authority")), "dst"
            )
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("authority").alias("s"))
        )
        h = _normalize(h_raw, "hub")

    return (
        h.join(a, "node")
        .select(
            "node",
            F.round("hub", 6).alias("hub"),
            F.round("authority", 6).alias("authority"),
        )
    )


def hits_oracle_sql(edges_cte: str, iters: int = 5) -> str:
    """DuckDB twin of :func:`hits`: the same L1-normalized alternating
    iteration unrolled into CTE pairs. ``edges_cte`` must produce
    columns (src, dst); parallel edges are deduplicated here to match
    the Spark side.

    Every CTE is MATERIALIZED: DuckDB inlines plain CTEs, and the
    alternating chain references each previous step several times
    (join + the normalization total), so un-materialized unrolling
    re-opens the base parquet O(refs^iters) times — 4 iterations blew
    the process file-handle limit before anything computed."""
    parts = [
        f"WITH edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_cte}))",
        "nodes AS MATERIALIZED"
        " (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "h0 AS MATERIALIZED (SELECT node,"
        " 1.0 / (SELECT count(*) FROM nodes) AS hub FROM nodes)",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""a{t}raw AS MATERIALIZED (
  SELECT e.dst AS node, sum(h.hub) AS s
  FROM edges e JOIN h{t - 1} h ON h.node = e.src GROUP BY e.dst
), a{t} AS MATERIALIZED (
  SELECT nodes.node,
         CASE WHEN tot.t > 0 THEN coalesce(r.s, 0.0) / tot.t
              ELSE 0.0 END AS authority
  FROM nodes
  CROSS JOIN (SELECT coalesce(sum(s), 0.0) AS t FROM a{t}raw) tot
  LEFT JOIN a{t}raw r USING (node)
), h{t}raw AS MATERIALIZED (
  SELECT e.src AS node, sum(a.authority) AS s
  FROM edges e JOIN a{t} a ON a.node = e.dst GROUP BY e.src
), h{t} AS MATERIALIZED (
  SELECT nodes.node,
         CASE WHEN tot.t > 0 THEN coalesce(r.s, 0.0) / tot.t
              ELSE 0.0 END AS hub
  FROM nodes
  CROSS JOIN (SELECT coalesce(sum(s), 0.0) AS t FROM h{t}raw) tot
  LEFT JOIN h{t}raw r USING (node)
)"""
        )
    parts_sql = ",\n".join(parts)
    return f"""{parts_sql}
SELECT h.node, round(h.hub, 6) AS hub, round(a.authority, 6) AS authority
FROM h{iters} h JOIN a{iters} a USING (node)
"""


def connected_components_oracle_sql(pairs_cte: str) -> str:
    """DuckDB twin of :func:`connected_components`: component(v) =
    min node reachable from v, via a recursive CTE over the
    symmetrized (deduplicated) edge set. ``pairs_cte`` must produce
    columns (a, b)."""
    return f"""
WITH RECURSIVE p AS ({pairs_cte}),
sym AS (
  SELECT a AS src, b AS dst FROM p
  UNION
  SELECT b, a FROM p
),
reach(v, r) AS (
  SELECT src, src FROM sym
  UNION
  SELECT e.dst, reach.r FROM reach JOIN sym e ON e.src = reach.v
)
SELECT v AS node, min(r) AS component FROM reach GROUP BY v
"""


def pagerank_oracle_sql(
    edges_cte: str, iters: int = 5, damping: float = 0.85
) -> str:
    """DuckDB twin of :func:`pagerank`: the same power iteration
    unrolled into one CTE per step. ``edges_cte`` must be a SELECT
    producing columns (src, dst); parallel edges are deduplicated here
    to match the Spark side.
    """
    d = repr(damping)
    parts = [
        f"WITH edges AS (SELECT DISTINCT src, dst FROM ({edges_cte}))",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)",
        "deg AS (SELECT src AS node, CAST(count(*) AS DOUBLE) AS deg"
        " FROM edges GROUP BY src)",
        "r0 AS (SELECT node, (SELECT 1.0/n FROM nn) AS rank FROM nodes)",
    ]
    for t in range(iters):
        prev, cur = f"r{t}", f"r{t + 1}"
        parts.append(
            f"""{cur} AS (
  SELECT nodes.node,
         (1.0 - {d}) / nn.n
         + {d} * (coalesce(c.s, 0.0) + dm.m / nn.n) AS rank
  FROM nodes
  CROSS JOIN nn
  CROSS JOIN (SELECT coalesce(sum(r.rank), 0.0) AS m
              FROM {prev} r LEFT JOIN deg USING (node)
              WHERE deg.node IS NULL) dm
  LEFT JOIN (SELECT e.dst AS node, sum(r.rank / deg.deg) AS s
             FROM edges e
             JOIN {prev} r ON r.node = e.src
             JOIN deg ON deg.node = e.src
             GROUP BY e.dst) c ON c.node = nodes.node
)"""
        )
    parts_sql = ",\n".join(parts)
    return (
        f"{parts_sql}\n"
        f"SELECT node, round(rank, 6) AS rank FROM r{iters}"
    )


def trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    bucket_path: str | None = None,
    n_buckets: int = 32,
    bucket_table: str = "trustrank_edges",
) -> DataFrame:
    """Seed-personalized PageRank — TrustRank (Gyöngyi, Garcia-Molina
    & Pedersen, "Combating Web Spam with TrustRank", VLDB'04, public
    method): trust flows from a hand-vetted seed set through links, so
    pages unreachable from any trusted page score exactly 0.0 and
    link-spam islands are demoted regardless of their internal link
    mass (which plain :func:`pagerank` rewards).

        r_{t+1}(v) = (1-d)·t(v) + d·(Σ_{u→v} r_t(u)/deg(u)
                                      + dangling_t·t(v))

    with t the uniform distribution over the seed nodes (teleport AND
    dangling mass both return to the seeds — the standard personalized
    completion, so Σ r = 1 every step) and r_0 = t. Returns
    ``(node, trust)``, 6 dp. Seeds not present in the graph are
    ignored; an empty effective seed set raises.

    Same scale layout as :func:`pagerank` (one iteration = one
    edges ⋈ ranks join + one groupBy(dst); edges bucket-by-src when
    ``bucket_path`` is given and are scanned in place per round; only
    the O(nodes) rank table moves). The teleport vector rides the rank
    frame as a column, exactly like ``deg`` — the per-iteration join
    count stays at one.
    """
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).distinct()
    if bucket_path is not None:
        spark = e.sparkSession
        spark.sql(f"DROP TABLE IF EXISTS {bucket_table}")
        (
            e.write.bucketBy(n_buckets, "src")
            .sortBy("src")
            .option("path", bucket_path)
            .mode("overwrite")
            .saveAsTable(bucket_table)
        )
        e = spark.table(bucket_table)
    else:
        e = e.localCheckpoint(eager=True)

    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sd = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .join(nodes, "node", "leftsemi")
        .localCheckpoint(eager=True)
    )
    n_seeds = sd.count()
    if n_seeds == 0:
        raise ValueError(
            "trustrank: no seed is a node of the graph — trust has "
            "nowhere to start (check id spaces / seed_col)"
        )
    deg = out_degrees(e).localCheckpoint(eager=True)

    tp0 = 1.0 / n_seeds
    ranks = (
        nodes.join(sd.withColumn("__s", F.lit(1)), "node", "left")
        .join(deg, "node", "left")
        .select(
            "node",
            F.when(F.col("__s").isNotNull(), F.lit(tp0))
            .otherwise(F.lit(0.0))
            .alias("tp"),
            "deg",
        )
        .withColumn("rank", F.col("tp"))
        .localCheckpoint(eager=True)
    )

    for _ in range(iters):
        dangling = ranks.filter(F.col("deg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
        )
        contrib = (
            e.join(
                ranks.select(
                    F.col("node").alias("src"),
                    (F.col("rank") / F.col("deg")).alias("w"),
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("w").alias("s"))
        )
        ranks = (
            ranks.select("node", "tp", "deg")
            .join(contrib, "node", "left")
            .join(F.broadcast(dangling))
            .select(
                "node",
                "tp",
                "deg",
                (
                    F.lit(1.0 - damping) * F.col("tp")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("s"), F.lit(0.0))
                        + F.col("dm") * F.col("tp")
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )

    return ranks.select("node", F.round("rank", 6).alias("trust"))


def trustrank_oracle_sql(
    edges_cte: str,
    seeds_cte: str,
    iters: int = 5,
    damping: float = 0.85,
) -> str:
    """DuckDB twin of :func:`trustrank` — the personalized power
    iteration unrolled one CTE per step, same literals and association
    as the Spark expression (``(1-d)*t + d*(s + dm*t)``)."""
    d = repr(damping)
    parts = [
        f"WITH edges AS (SELECT DISTINCT src, dst FROM ({edges_cte}))",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        f"sd AS (SELECT DISTINCT node FROM ({seeds_cte})"
        " WHERE node IN (SELECT node FROM nodes))",
        "ns AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM sd)",
        "deg AS (SELECT src AS node, CAST(count(*) AS DOUBLE) AS deg"
        " FROM edges GROUP BY src)",
        "tp AS (SELECT nodes.node,"
        " CASE WHEN sd.node IS NULL THEN 0.0"
        " ELSE 1.0 / (SELECT n FROM ns) END AS t"
        " FROM nodes LEFT JOIN sd ON sd.node = nodes.node)",
        "r0 AS (SELECT node, t AS rank FROM tp)",
    ]
    for t in range(iters):
        prev, cur = f"r{t}", f"r{t + 1}"
        parts.append(
            f"""{cur} AS (
  SELECT tp.node,
         (1.0 - {d}) * tp.t
         + {d} * (coalesce(c.s, 0.0) + dm.m * tp.t) AS rank
  FROM tp
  CROSS JOIN (SELECT coalesce(sum(r.rank), 0.0) AS m
              FROM {prev} r LEFT JOIN deg USING (node)
              WHERE deg.node IS NULL) dm
  LEFT JOIN (SELECT e.dst AS node, sum(r.rank / deg.deg) AS s
             FROM edges e
             JOIN {prev} r ON r.node = e.src
             JOIN deg ON deg.node = e.src
             GROUP BY e.dst) c ON c.node = tp.node
)"""
        )
    parts_sql = ",\n".join(parts)
    return (
        f"{parts_sql}\n"
        f"SELECT node, round(rank, 6) AS trust FROM r{iters}"
    )


def _hb_init_registers(nodes: DataFrame) -> DataFrame:
    """One HyperBall register row per node (its own md5 hash): m=256
    (2 hex chars of index), rank = 53 - bitlen of the next 13 hex
    chars — the `operators/hll.py` contract at p=8."""
    h = F.md5(F.col("node").cast("string").cast("binary"))
    w = F.conv(F.substring(h, 3, 13), 16, 10).cast("bigint")
    return nodes.select(
        "node",
        F.conv(F.substring(h, 1, 2), 16, 10).cast("int").alias("idx"),
        F.when(w == 0, F.lit(53))
        .otherwise(F.lit(53) - F.length(F.bin(w)))
        .cast("int")
        .alias("rho"),
    ).localCheckpoint(eager=True)


def _hb_push_round(e: DataFrame, regs: DataFrame) -> DataFrame:
    """One HyperBall iteration: push every node's registers along the
    (reversed-at-call-site) edges and MAX-merge — the single source of
    the round rule for `neighborhood_function`, `harmonic_centrality`
    and the PLANS.md capture."""
    contrib = e.join(
        regs.withColumnRenamed("node", "dst"), "dst"
    ).select(F.col("src").alias("node"), "idx", "rho")
    return (
        regs.unionByName(contrib)
        .groupBy("node", "idx")
        .agg(F.max("rho").alias("rho"))
    )


def _hb_ball_est(regs: DataFrame) -> DataFrame:
    """(node, est): the m=256 bias-corrected HLL estimate of each
    node's ball from its sparse register rows — exact BIGINT
    micro-units (z·2^53 ≤ 257·2^53 < 2^62), full-precision doubles
    (callers round)."""
    agg = regs.groupBy("node").agg(
        F.count(F.lit(1)).alias("p"),
        F.sum(
            F.pow(F.lit(2.0), F.lit(53) - F.col("rho")).cast("bigint")
        ).alias("zm"),
    )
    m = F.lit(256.0)
    z = (
        (F.col("zm") + (F.lit(256) - F.col("p")) * F.lit(1 << 53))
        .cast("double")
        / F.lit(float(1 << 53))
    )
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / m)
    e_raw = alpha * m * m / z
    zero = m - F.col("p").cast("double")
    est = F.when(
        (e_raw <= F.lit(2.5) * m) & (zero > F.lit(0.0)),
        m * F.log(m / zero),
    ).otherwise(e_raw)
    return agg.select("node", est.alias("est"))


def neighborhood_function(
    edges: DataFrame,
    max_t: int = 8,
    src: str = "src",
    dst: str = "dst",
    rel_tol: float = 0.0,
    pre_deduped: bool = False,
) -> DataFrame:
    """HyperBall (Boldi & Vigna, 2013): the neighborhood function
    N(t) = Σ_v |B(v, t)| — how many (source, target) pairs are within
    t directed hops — estimated for EVERY node simultaneously with one
    bounded HLL-style sketch per node, the approximate-scale companion
    of :func:`hop_distance` (exact BFS from ONE seed set vs. ball
    sizes from ALL nodes at once: exact all-pairs is O(n·E) and dead
    at web scale; this is O(t · E) with 256 registers per node).

    Returns ``(t, n_pairs_est)`` for t = 0..T (T ≤ max_t; the loop
    stops at EXACT saturation — no register changed, HyperBall's own
    termination rule, detected as an unchanged (row count, Σrho)
    signature, both monotone under MAX-merge. ``rel_tol > 0``
    additionally enables an OPT-IN budget cap on sub-tolerance N(t)
    growth; it is approximate — a bottleneck graph can grow slowly
    before a later surge — hence off by default. The standard read:
    the first t with N(t) ≥ 0.9·N(T) is the 90 % effective
    diameter). Estimates use m=256
    registers (σ ≈ 6.5 % per node, much tighter on the sum); the
    register rank is the module-standard md5 split with
    ``53 - bitlen`` (`operators/hll.py` docstring: never floor(log2)),
    and the harmonic sum fits exact BIGINT micro-units at m=256 — the
    whole estimator is JVM column math.

    Scale shape — the loop is ENTIRELY JVM partial aggregates, no
    Python anywhere: per-node sketches are sparse (node, idx, rho)
    rows (≤ 256/node, one at start); each iteration is ONE equi-join
    pushing sketches along reversed edges + ONE partial-aggregated
    groupBy(node, idx) MAX — a hub's 10^7 in-links combine map-side
    like every other max. State is localCheckpointed per round
    (O(1) lineage). For 10^10-edge graphs lay the edges out bucketed
    by ``dst`` (the :func:`pagerank` ``bucket_path`` pattern on the
    other key) and pass ``pre_deduped=True``; the O(E) side then
    scans in place and only the O(nodes·registers) sketch side moves.

    Deterministic: md5 ranks + MAX merges — layout- and
    order-independent, same output bits every run.
    """
    if max_t < 0:
        raise ValueError("neighborhood_function: max_t must be >= 0")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not pre_deduped:
        e = e.distinct().localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    regs = _hb_init_registers(nodes)

    def n_est(r: DataFrame) -> float:
        # per-node estimates rounded to 6 dp then summed as DECIMAL —
        # exact and order-independent, so N(t) is the same bits on any
        # layout AND in the DuckDB oracle's unrolled replay
        total = (
            _hb_ball_est(r)
            .agg(F.sum(F.round("est", 6).cast("decimal(28,6)")).alias("s"))
            .collect()[0]["s"]
        )
        return float(total or 0.0)

    out = [(0, round(n_est(regs), 6))]
    prev_sig = tuple(
        regs.agg(
            F.count(F.lit(1)).alias("c"), F.sum("rho").alias("s")
        ).collect()[0]
    )
    for t in range(1, max_t + 1):
        regs = _hb_push_round(e, regs).localCheckpoint(eager=True)
        n_t = n_est(regs)
        sig = tuple(
            regs.agg(
                F.count(F.lit(1)).alias("c"), F.sum("rho").alias("s")
            ).collect()[0]
        )
        out.append((t, round(n_t, 6)))
        if sig == prev_sig:
            break  # EXACT saturation: register rows and ranks only
            # ever grow under MAX-merge, so an unchanged (count, sum)
            # means no register changed — HyperBall's own termination
            # rule, not a growth heuristic
        prev_sig = sig
        if rel_tol > 0 and out[-2][1] > 0 and (
            (n_t - out[-2][1]) / out[-2][1] < rel_tol
        ):
            break  # OPTIONAL budget cap: N(t) growth below rel_tol.
            # Approximate — a bottleneck graph (two clusters joined by
            # a narrow chain) can grow slowly NOW and surge LATER, so
            # the exact rule above is the default (rel_tol=0.0) and
            # this early exit is opt-in for capped exploratory runs
    spark = edges.sparkSession
    return spark.createDataFrame(out, "t int, n_pairs_est double")


def effective_diameter(nf, q: float = 0.9) -> float:
    """q-effective diameter from a collected neighborhood function
    [(t, N(t))…]: the (linearly interpolated) smallest t with
    N(t) ≥ q·N(T) — Boldi & Vigna's standard read."""
    pts = sorted((int(t), float(n)) for t, n in nf)
    target = q * pts[-1][1]
    prev_t, prev_n = pts[0]
    for t, n in pts:
        if n >= target:
            if t == prev_t or n == prev_n:
                return float(t)
            return prev_t + (target - prev_n) / (n - prev_n) * (t - prev_t)
        prev_t, prev_n = t, n
    return float(pts[-1][0])


def neighborhood_function_oracle_sql(edges_cte: str, max_t: int = 3) -> str:
    """DuckDB twin of :func:`neighborhood_function` with
    ``rel_tol=0.0``: the iteration is UNROLLED as ``max_t`` join+MAX
    CTE stages (the `hits_oracle_sql` technique for iterative
    operators), the register rank is the identical md5 hex split +
    ``length(bin(w))``, the per-node estimate the identical m=256 float
    expression, and the per-t total the identical round-6 DECIMAL sum.

    Twin contract: the oracle always emits t = 0..max_t, while the
    Spark loop stops at the first t whose registers equal t-1's (exact
    saturation). So Spark's rows are a bit-exact PREFIX of the
    oracle's, and every oracle row past Spark's last t = T repeats
    N(T) — registers no longer change, so neither does the estimate.
    On a graph that does not saturate within ``max_t`` the two curves
    are identical."""
    est = """
  SELECT {t} AS t,
         round(CAST(SUM(CAST(round(
           CASE WHEN (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 / z
                     <= 2.5 * 256.0
                 AND v > 0.0
                THEN 256.0 * ln(256.0 / v)
                ELSE (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 / z
           END, 6) AS DECIMAL(28,6))) AS DOUBLE), 6) AS n_pairs_est
  FROM (
    SELECT node,
           CAST(zm + (256 - p) * CAST(9007199254740992 AS BIGINT)
                AS DOUBLE) / 9007199254740992.0 AS z,
           CAST(256 - p AS DOUBLE) AS v
    FROM (SELECT node, COUNT(*) AS p,
                 SUM(CAST(POWER(2.0, 53 - rho) AS BIGINT)) AS zm
          FROM r{t} GROUP BY node) a
  )"""
    steps = []
    for t in range(1, max_t + 1):
        steps.append(
            f"""r{t} AS (
  SELECT node, idx, MAX(rho) AS rho FROM (
    SELECT node, idx, rho FROM r{t - 1}
    UNION ALL
    SELECT e.src AS node, r.idx, r.rho
    FROM e JOIN r{t - 1} r ON r.node = e.dst
  ) GROUP BY node, idx
)"""
        )
    unions = "\n  UNION ALL".join(
        est.format(t=t) for t in range(0, max_t + 1)
    )
    steps_sql = (",\n" + ",\n".join(steps)) if steps else ""
    return f"""
WITH e AS (SELECT DISTINCT src, dst FROM ({edges_cte})),
nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
h0 AS (
  SELECT node, md5(CAST(node AS VARCHAR)) AS hx FROM nodes
),
r0 AS (
  SELECT node,
         CAST('0x' || substr(hx, 1, 2) AS INTEGER) AS idx,
         CASE WHEN CAST('0x' || substr(hx, 3, 13) AS BIGINT) = 0 THEN 53
              ELSE 53 - length(bin(CAST('0x' || substr(hx, 3, 13)
                                        AS BIGINT)))
         END AS rho
  FROM h0
){steps_sql}
SELECT CAST(t AS INTEGER) AS t, n_pairs_est FROM ({unions})
"""


def harmonic_centrality(
    edges: DataFrame,
    max_t: int = 8,
    src: str = "src",
    dst: str = "dst",
    direction: str = "in",
    pre_deduped: bool = False,
) -> DataFrame:
    """Harmonic centrality via HyperBall (Boldi & Vigna — "Axioms for
    centrality" singles harmonic out as THE well-behaved importance
    measure on directed graphs with unreachable pairs):

        H(v) = Σ_{u ≠ v} 1 / d(u, v)
             = Σ_{t ≥ 1} (|B(v,t)| − |B(v,t−1)|) / t

    estimated for every node from the same per-node 256-register
    sketches as :func:`neighborhood_function` — the centrality a crawl
    scheduler actually wants at 10^10 nodes, where exact all-pairs
    distances are unreachable and PageRank needs a damping prior.

    ``direction="in"`` (default) scores v by the nodes that can REACH
    v — link authority, the Boldi-Vigna convention (sketches push
    along forward edges: an edge u→v hands u's ball to v);
    ``direction="out"`` scores reach instead (v's descendants).

    Returns ``(node, harmonic)`` rounded to 6 dp, always ≥ 0: each
    per-round difference quotient is clamped at 0 because the HLL ball
    estimate is not strictly monotone across the linear-counting/raw
    branch boundary, and harmonic centrality is nonnegative by
    definition. The clamped quotients accumulate in a fixed t-order
    left-associated sum of full-precision doubles — exactly the
    expression the unrolled DuckDB oracle writes out, so the whole
    centrality column hash-matches bit for bit
    (`harmonic_centrality_oracle_sql`).
    Rounds past saturation contribute EXACTLY 0.0 (unchanged registers
    → identical ball estimate), so the exact-saturation early stop
    never changes the result vs a full unroll.

    Scale shape: identical to :func:`neighborhood_function` (all-JVM
    join + partial-agg MAX per round) plus two O(nodes) joins per
    round for the running sum — no window, no Python, state
    localCheckpointed.
    """
    if max_t < 0:
        raise ValueError("harmonic_centrality: max_t must be >= 0")
    if direction not in ("in", "out"):
        raise ValueError("harmonic_centrality: direction must be in|out")
    a, b = (src, dst) if direction == "out" else (dst, src)
    e = edges.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    if not pre_deduped:
        e = e.distinct().localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    regs = _hb_init_registers(nodes)
    prev = _hb_ball_est(regs).localCheckpoint(eager=True)
    hc = prev.select("node", F.lit(0.0).alias("hc")).localCheckpoint(
        eager=True
    )
    prev_sig = tuple(
        regs.agg(F.count(F.lit(1)).alias("c"), F.sum("rho").alias("s"))
        .collect()[0]
    )
    for t in range(1, max_t + 1):
        regs = _hb_push_round(e, regs).localCheckpoint(eager=True)
        ball = _hb_ball_est(regs).localCheckpoint(eager=True)
        hc = (
            hc.join(prev.withColumnRenamed("est", "__p"), "node")
            .join(ball.withColumnRenamed("est", "__b"), "node")
            .select(
                "node",
                (
                    F.col("hc")
                    # clamp at 0: the HLL ball estimate is NOT strictly
                    # monotone across the linear-counting/raw branch
                    # boundary, and a negative quotient would leak a
                    # (definitionally nonnegative) negative centrality
                    + F.when(
                        F.col("__b") > F.col("__p"),
                        (F.col("__b") - F.col("__p")) / F.lit(float(t)),
                    ).otherwise(F.lit(0.0))
                ).alias("hc"),
            )
            .localCheckpoint(eager=True)
        )
        prev = ball
        sig = tuple(
            regs.agg(F.count(F.lit(1)).alias("c"), F.sum("rho").alias("s"))
            .collect()[0]
        )
        if sig == prev_sig:
            break  # saturated: every further term is exactly 0.0
        prev_sig = sig
    return hc.select("node", F.round("hc", 6).alias("harmonic"))


def harmonic_centrality_oracle_sql(
    edges_cte: str, max_t: int = 3, direction: str = "in"
) -> str:
    """DuckDB twin of :func:`harmonic_centrality`: the same unrolled
    join+MAX register stages as `neighborhood_function_oracle_sql`,
    then per-node ball estimates b0..bT and the identical fixed-order
    left-associated difference-quotient sum, rounded once."""
    if direction not in ("in", "out"):
        raise ValueError("direction must be in|out")
    flip = (
        "SELECT src, dst FROM e0"
        if direction == "out"
        else "SELECT dst AS src, src AS dst FROM e0"
    )
    ball = """
b{t} AS (
  SELECT node,
         CASE WHEN (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 / z
                   <= 2.5 * 256.0
               AND v > 0.0
              THEN 256.0 * ln(256.0 / v)
              ELSE (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 / z
         END AS est
  FROM (
    SELECT node,
           CAST(zm + (256 - p) * CAST(9007199254740992 AS BIGINT)
                AS DOUBLE) / 9007199254740992.0 AS z,
           CAST(256 - p AS DOUBLE) AS v
    FROM (SELECT node, COUNT(*) AS p,
                 SUM(CAST(POWER(2.0, 53 - rho) AS BIGINT)) AS zm
          FROM r{t} GROUP BY node) a
  )
)"""
    steps = []
    for t in range(1, max_t + 1):
        steps.append(
            f"""r{t} AS (
  SELECT node, idx, MAX(rho) AS rho FROM (
    SELECT node, idx, rho FROM r{t - 1}
    UNION ALL
    SELECT e.src AS node, r.idx, r.rho
    FROM e JOIN r{t - 1} r ON r.node = e.dst
  ) GROUP BY node, idx
)"""
        )
    balls = [ball.format(t=t) for t in range(0, max_t + 1)]
    terms = " + ".join(
        f"(CASE WHEN b{t}.est > b{t - 1}.est"
        f" THEN (b{t}.est - b{t - 1}.est) / {float(t)!r}"
        f" ELSE 0.0 END)"
        for t in range(1, max_t + 1)
    ) or "CAST(0.0 AS DOUBLE)"
    joins = " ".join(
        f"JOIN b{t} ON b{t}.node = b0.node" for t in range(1, max_t + 1)
    )
    steps_sql = (",\n" + ",\n".join(steps)) if steps else ""
    return f"""
WITH e0 AS ({edges_cte}),
e AS (SELECT DISTINCT src, dst FROM ({flip})),
nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
h0 AS (
  SELECT node, md5(CAST(node AS VARCHAR)) AS hx FROM nodes
),
r0 AS (
  SELECT node,
         CAST('0x' || substr(hx, 1, 2) AS INTEGER) AS idx,
         CASE WHEN CAST('0x' || substr(hx, 3, 13) AS BIGINT) = 0 THEN 53
              ELSE 53 - length(bin(CAST('0x' || substr(hx, 3, 13)
                                        AS BIGINT)))
         END AS rho
  FROM h0
){steps_sql},
{",".join(balls)}
SELECT b0.node AS node, round(0.0 + {terms}, 6) AS harmonic
FROM b0 {joins}
"""
