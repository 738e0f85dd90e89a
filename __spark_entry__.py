"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship crawl (frontier rounds over a pages
table synthesized deterministically from the sf0.001 ``documents``
table). ``queries()`` exposes every SQL-expressible operator from
SURVEY.md §2 plus the training-data pipeline operators (dedup,
similarity search, text analysis); ``oracle_sql()`` carries the DuckDB
twin of each. Column names and value types are aligned on both sides
(see crawl_spark/operators/* docstrings for the shared float contract:
md5 for cross-engine hashing, index-ordered dot products, round(x, 6)
before any ordering).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _bytes_of(path: str) -> int:
    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(path)
            for f in fs
        )
    try:
        return os.path.getsize(path)
    except OSError:
        return 1 << 62  # non-local path (s3://…): assume production-sized


def _max_split_bytes(spark: SparkSession) -> int:
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    m = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    s = raw.strip().lower()
    for suf, mult in m.items():
        if s.endswith(suf):
            return int(float(s[: -len(suf)])) * mult
    return int(s)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a driver table. Fixture-scale parallelism shim: an input
    smaller than ONE scan split (single tiny row group) arrives as one
    partition, which serializes the whole scan-side expression pipeline
    — gram explodes, hash chains, pandas-UDF probes — on one core of
    local[32]. Fan such inputs out to the session's parallelism with a
    round-robin exchange (a few-MB shuffle at fixture scale; Catalyst
    still pushes projections and filters below the exchange, so scan
    pruning is unchanged). At production scale the corpus spans many
    files/row groups, the size guard never fires, and the scan's own
    splits provide the parallelism — the branch is a no-op there."""
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if _bytes_of(path) <= _max_split_bytes(spark):
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


# ---------------------------------------------------------------------------
# flagship: crawl rounds over pages synthesized from `documents`

def _synth_pages(spark: SparkSession, sf_dir: str):
    """Deterministic pages table from `documents`: url/html/text/lang.

    Each doc becomes one page at http://host{doc_id%20}.example/p/{doc_id}
    whose nav links point at 3 other docs — a closed deterministic web.
    """
    docs = _t(spark, sf_dir, "documents")
    n = docs.count()
    url = F.concat(
        F.lit("http://host"), (F.col("doc_id") % 20).cast("string"),
        F.lit(".example/p/"), F.col("doc_id").cast("string"),
    )
    links = F.concat_ws(
        "",
        *[
            F.concat(
                F.lit('<li><a href="/p/'),
                ((F.col("doc_id") * 3 + k) % n).cast("string"),
                F.lit('">l</a></li>'),
            )
            for k in (1, 2, 3)
        ],
    )
    html = F.concat(
        F.lit("<html><body><h1>doc </h1><p>"), F.col("text"),
        F.lit('</p><ul class="nav">'), links, F.lit("</ul></body></html>"),
    )
    return docs.select(
        url.alias("url"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        html.cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def flagship_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 frontier rounds from 5 seeds; returns the ordered transcript."""
    import tempfile

    from crawl_spark.plans.engine import CrawlEngine, EngineConfig
    from crawl_spark.plans.handlers import Handler, HandlerRegistry

    pages = _synth_pages(spark, sf_dir)
    reg = HandlerRegistry()
    reg.register("page", Handler(name="page", text_selector="p", link_selector="a"))
    eng = CrawlEngine(
        spark, pages, reg,
        config=EngineConfig(
            batch_cap=64,
            workdir=tempfile.mkdtemp(prefix="crawl_flagship_")),
    )
    seeds = [
        {"url": "http://host%d.example/p/%d" % (i % 20, i), "callbacks": ["page"]}
        for i in range(5)
    ]
    res = eng.run(seeds, max_rounds=3)
    rows = [
        (r, p + 1, u)
        for r, batch in enumerate(res.read_transcript(spark))
        for p, u in enumerate(batch)
    ]
    return spark.createDataFrame(rows, "round int, batch_pos int, url_canon string")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship_crawl(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# crawl-engine operator queries (SQL-expressible; events = frontier stand-in)

def q_fifo_batch(spark, sf_dir):
    """FIFO batch selection: top-500 by (ts, event_id) + batch_pos stamp
    (memQueue.Get batch analog, queue_memory.go:27-33).

    Routed through the distributed ``ranked_topk`` (local prune → one
    bounded range shuffle → partition-offset stamping), the engine's
    batch selector, rather than a global ``row_number() OVER (ORDER BY
    …)`` — the unpartitioned window funnels the whole table through one
    task, the plan this repo bans at 10^10 rows."""
    from crawl_spark.operators.topk import ranked_topk

    e = _t(spark, sf_dir, "events")
    return ranked_topk(e, ["ts", "event_id"], 500, pos_col="batch_pos").select(
        F.col("batch_pos").cast("int").alias("batch_pos"), "event_id", "user_id"
    )


def q_politeness_rank(spark, sf_dir):
    """Per-host window-ranked politeness budget (SURVEY.md §2.2)."""
    e = _t(spark, sf_dir, "events").withColumn("host", F.col("user_id") % 53)
    w = Window.partitionBy("host").orderBy("ts", "event_id")
    return (
        e.withColumn("host_rank", F.row_number().over(w))
        .filter(F.col("host_rank") <= 5)
        .select("host", "host_rank", "event_id")
    )


def q_seen_antijoin(spark, sf_dir):
    """Seen-set dedup as left-anti join (SURVEY.md §2.5)."""
    e = _t(spark, sf_dir, "events")
    seen = (
        e.filter((F.col("event_type") == "purchase") & (F.col("value") > 200.0))
        .select("user_id")
        .distinct()
    )
    return e.join(seen, "user_id", "left_anti").select("event_id", "user_id")


def q_fetch_join(spark, sf_dir):
    """Fetch = equi-join of batch vs pages; misses are fetch errors
    (crawler.go:180 analog per SURVEY.md §2.1)."""
    e = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer")
    return (
        e.join(F.broadcast(c), e.user_id == c.c_custkey, "left")
        .select(
            "event_id",
            "user_id",
            F.when(F.col("c_custkey").isNull(), 0).otherwise(1).alias("hit"),
        )
    )


def q_glob_route(spark, sf_dir):
    """Handler dispatch via pattern routing (crawler.go:239-252 analog)."""
    d = _t(spark, sf_dir, "documents")
    h1 = d.filter(F.col("source").rlike("^src1")).select(
        "doc_id", F.lit("h_src1").alias("handler")
    )
    h2 = d.filter(F.col("source").rlike("^src[0-9]*[02468]$")).select(
        "doc_id", F.lit("h_even").alias("handler")
    )
    return h1.unionByName(h2)


def q_round_counters(spark, sf_dir):
    """Per-round metric counters (SURVEY.md §2.7): count + decimal-exact sum."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
    )


def q_deadline_expire(spark, sf_dir):
    """Deadline gating (nsq/nsqcrawl/queue.go:90-94 analog)."""
    e = _t(spark, sf_dir, "events")
    cutoff = F.lit("2024-06-01 00:00:00").cast("timestamp")
    return e.groupBy(
        F.when(F.col("ts") <= cutoff, "expired").otherwise("live").alias("state"),
        "event_type",
    ).agg(F.count("*").alias("n"))


def q_priority_topk(spark, sf_dir):
    """Priority-queue top-k per class (SURVEY.md §2.2 priority ordering)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_orderpriority", "rank", "o_orderkey", "o_totalprice")
    )


def q_seq_stamp(spark, sf_dir):
    """Deterministic seq assignment via DISTRIBUTED partition-offset
    stamping (engine.py seq-stamp contract; SURVEY.md §7 hard-part #2).

    A global ``row_number() OVER (ORDER BY ...)`` would be correct but
    funnels the whole table through one task — the plan you must NOT run
    at 10^10 rows. ``ranked_topk`` with k ≥ |table| is the scale-safe
    equivalent (and the engine's only way to stamp ``batch_pos``):
    range-shuffle on the key, per-partition counts prefix-summed into
    offsets, position = offset + local index."""
    from crawl_spark.operators.topk import ranked_topk

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    stamped = ranked_topk(
        li, ["l_orderkey", "l_linenumber"], 1 << 40, pos_col="seq"
    )
    return stamped.select(
        "l_orderkey", "l_linenumber", F.col("seq").cast("int").alias("seq")
    )


def q_host_skew(spark, sf_dir):
    """Heavy-hitter host detection + salt factor (SURVEY.md §4.2 skew)."""
    e = _t(spark, sf_dir, "events").withColumn("host", F.col("user_id") % 13)
    return (
        e.groupBy("host")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 300)
        .select("host", "n", F.ceil(F.col("n") / 500).alias("salt"))
    )


def q_url_canonicalize(spark, sf_dir):
    """URL canonicalization UDF vs a string-ops oracle on constrained
    synthetic URLs (urlnorm.canonicalize: lowercase scheme/host, strip
    default port + fragment, preserve query)."""
    from crawl_spark.functions.canon_udf import canonicalize_udf

    d = _t(spark, sf_dir, "documents")
    h = (F.col("doc_id") % 20).cast("string")
    i = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 4
    url = (
        F.when(m == 0, F.concat(F.lit("HTTP://HOST"), h, F.lit(".EXAMPLE/p/"), i))
        .when(m == 1, F.concat(F.lit("http://host"), h, F.lit(".example:80/p/"), i))
        .when(m == 2, F.concat(F.lit("http://host"), h, F.lit(".example/p/"), i, F.lit("#frag")))
        .otherwise(F.concat(F.lit("http://host"), h, F.lit(".example/p/"), i, F.lit("?q=1")))
    )
    c = canonicalize_udf(url, F.lit(None).cast("string"))
    return d.select(
        "doc_id", c["url_canon"].alias("url_canon"), c["host"].alias("host")
    )


# ---------------------------------------------------------------------------
# training-data pipeline queries (documents / embeddings)

def q_request_construct(spark, sf_dir):
    """ConstructHTTPRequest column pipeline (request.go:40-125 analog):
    method inference, sorted urlencoded body, query-string append —
    exercised on synthetic requests derived from `documents` (values are
    urlencode-identity so the SQL oracle matches byte-for-byte)."""
    from crawl_spark.plans.request import construct_requests

    d = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 3
    req = d.select(
        F.concat(F.lit("http://api.example/doc/"), F.col("doc_id").cast("string")).alias("url"),
        F.when(m == 2, F.lit("put")).otherwise(F.lit(None).cast("string")).alias("method"),
        F.when(
            m == 0,
            F.map_from_arrays(
                F.array(F.lit("src"), F.lit("b")),
                F.array(F.array(F.col("source")), F.array(F.lit("1"), F.lit("2"))),
            ),
        ).alias("form"),
        F.when(
            m == 1, F.create_map(F.lit("lang"), F.array(F.col("lang")))
        ).alias("query"),
        F.lit(None).cast("map<string,string>").alias("header"),
        F.lit(None).cast("string").alias("referer"),
    )
    out = construct_requests(req)
    return out.select(
        F.col("url"), F.col("eff_method"), F.col("eff_url"), F.col("body")
    )


def q_dedup_exact(spark, sf_dir):
    from crawl_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


def q_minhash_bands(spark, sf_dir):
    from crawl_spark.operators.dedup import lsh_bands, minhash_signature

    return lsh_bands(minhash_signature(_t(spark, sf_dir, "documents")))


def q_minhash_pairs(spark, sf_dir):
    from crawl_spark.operators.dedup import minhash_candidates

    return minhash_candidates(_t(spark, sf_dir, "documents"))


def q_ngram_jaccard(spark, sf_dir):
    from crawl_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.1)


def q_simhash(spark, sf_dir):
    from crawl_spark.operators.dedup import simhash

    return simhash(_t(spark, sf_dir, "documents"))


def q_neardup_clusters(spark, sf_dir):
    """Near-dup clustering: connected components over the verified LSH
    pair graph (iterative min-label propagation) + canonical-survivor
    flag — the collapse step after pair detection. The oracle is a
    recursive-CTE transitive closure, so even this ITERATIVE operator is
    hash-checked against DuckDB."""
    from crawl_spark.operators.dedup import neardup_clusters

    return neardup_clusters(_t(spark, sf_dir, "documents"), threshold=0.1)


def q_lang_id(spark, sf_dir):
    from crawl_spark.operators.textops import lang_id

    return lang_id(_t(spark, sf_dir, "documents"))


def q_quality_score(spark, sf_dir):
    from crawl_spark.operators.textops import quality_score

    return quality_score(_t(spark, sf_dir, "documents"))


def q_token_count(spark, sf_dir):
    from crawl_spark.operators.textops import token_count

    return token_count(_t(spark, sf_dir, "documents"))


def q_vocabulary(spark, sf_dir):
    """Corpus vocabulary top-k (tokenizer-training precursor)."""
    from crawl_spark.operators.textops import vocabulary

    return vocabulary(_t(spark, sf_dir, "documents"), top_k=200)


def q_clean_corpus(spark, sf_dir):
    """Composed training-data filter: exact dedup → lang gate → quality
    gate (the end-to-end corpus-cleaning pipeline)."""
    from crawl_spark.operators.textops import clean_corpus

    return clean_corpus(_t(spark, sf_dir, "documents"))


def q_fingerprint(spark, sf_dir):
    from crawl_spark.operators.textops import fingerprint

    return fingerprint(_t(spark, sf_dir, "documents"))


def _docs_with_pii(spark, sf_dir):
    """documents with deterministic synthetic PII appended — the sf
    tables carry no emails/IPs/phones, so the oracle would only verify
    the no-op path; appending ` user<id>@example.com 10.0.<id%256>.7
    +1415<id>` (identical concat in both engines) makes the regex
    engines' match/replace semantics part of the checked contract."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" user"), F.col("doc_id").cast("string"),
            F.lit("@example.com 10.0."),
            (F.col("doc_id") % 256).cast("string"), F.lit(".7 +1415"),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )


def q_pii_scrub(spark, sf_dir):
    from crawl_spark.operators.textops import pii_scrub

    return pii_scrub(_docs_with_pii(spark, sf_dir))


def _docs_relined(spark, sf_dir):
    """documents re-lined into 2-token lines (regexp chunking, identical
    leftmost/non-overlapping semantics in Java regex and RE2) — the sf
    texts are single-line, so line-level operators need derived
    newlines to exercise their non-trivial paths at oracle scale."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_replace(F.col("text"), r"(\S+ \S+) ", "$1\n").alias("text"),
    )


def q_gopher_repetition(spark, sf_dir):
    from crawl_spark.operators.textops import gopher_repetition

    # thresholds tuned so the verdict is MIXED at sf0.01 (≈15% dropped)
    # — an all-keep oracle would never catch a broken comparison
    return gopher_repetition(
        _docs_relined(spark, sf_dir),
        max_dup_line_frac=0.05,
        max_top2gram_frac=0.06,
    )


def q_gopher_quality(spark, sf_dir):
    """Gopher A1.1 quality rules over relined docs with doc_id-keyed
    violations injected (bullet line / ellipsis line / ## symbols);
    thresholds tightened so each rule fires on its subset at sf0.01
    (the paper's bounds would pass every synthetic doc — an all-keep
    oracle catches nothing, same tuning note as q_gopher_repetition)."""
    from crawl_spark.operators.textops import gopher_quality

    d = _docs_relined(spark, sf_dir)
    i = F.col("doc_id")
    text = F.concat(
        F.col("text"),
        F.when(i % 3 == 0, F.lit("\n• bullet point line")).otherwise(F.lit("")),
        F.when(i % 5 == 0, F.lit("\nto be continued...")).otherwise(F.lit("")),
        F.when(i % 7 == 0, F.lit(" ## ##")).otherwise(F.lit("")),
    )
    return gopher_quality(
        d.select("doc_id", text.alias("text")),
        min_words=20,
        max_symbol_ratio=0.02,
        max_bullet_frac=0.03,
        max_ellipsis_frac=0.03,
        min_alpha_frac=0.95,
        min_stopword_hits=1,
    )


def q_line_dedup(spark, sf_dir):
    from crawl_spark.operators.dedup import line_dedup

    return line_dedup(_docs_relined(spark, sf_dir), max_docs=3)


def q_hash_sample(spark, sf_dir):
    from crawl_spark.operators.sampling import hash_sample

    return hash_sample(
        _t(spark, sf_dir, "documents"), rates={"en": 0.5}, default_rate=0.25
    )


def q_domain_quota(spark, sf_dir):
    from crawl_spark.operators.sampling import domain_quota

    return domain_quota(_t(spark, sf_dir, "documents"), quota=10)


def q_domain_mix(spark, sf_dir):
    """Temperature-mixed language resampling (mBERT/XLM-R-style
    alpha=0.5 smoothing, budget=200): per-lang share ∝ sqrt(count), so
    the en head is down-weighted and the fr/de tail lifted; the kept
    set is the md5-bucket threshold replayed exactly by the DuckDB
    twin (sampling.mix_domains — tiny-groupBy rates broadcast onto a
    per-row filter, no corpus shuffle)."""
    from crawl_spark.operators.sampling import mix_domains

    return mix_domains(_t(spark, sf_dir, "documents"), budget=200)


def q_contamination(spark, sf_dir):
    """Per-benchmark contamination audit (the GPT-3 appendix-C report
    shape, n=5 at contract scale): the "benchmarks" are every 37th doc
    split into three eval sets b0/b1/b2 by doc_id % 3, so each bench
    self-hits a disjoint corpus slice (dedup.contamination_report)."""
    from crawl_spark.operators.dedup import contamination_report

    d = _t(spark, sf_dir, "documents")
    ev = d.filter(F.col("doc_id") % 37 == 0).withColumn(
        "bench", F.concat(F.lit("b"), (F.col("doc_id") % 3).cast("string"))
    )
    return contamination_report(d, ev, n=5)


def q_token_entropy(spark, sf_dir):
    from crawl_spark.operators.textops import token_entropy

    return token_entropy(_t(spark, sf_dir, "documents"))


def q_pack_sequences(spark, sf_dir):
    from crawl_spark.operators.sampling import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"), seq_len=2048, streams=64)


def q_zlib_ratio(spark, sf_dir):
    """zlib compression-ratio quality signal (textops.compression_ratio).
    Rows-only: DuckDB has no zlib — the driver twin
    (compression_ratio_str, same CPython zlib as the executors) pins
    the per-row rule bit-for-bit in tests."""
    from crawl_spark.operators.textops import compression_ratio

    return compression_ratio(_t(spark, sf_dir, "documents"))


def q_bpe_merges(spark, sf_dir):
    """Trained BPE over the documents corpus (operators/bpe.bpe_train):
    one word-count shuffle + ranked_topk prune + driver-side Sennrich
    merge loop. Rows-only: an iterative merge loop is not ANSI-SQL —
    the contract is pinned bit-for-bit by the naive-reference twin in
    tests/test_bpe.py (incremental == recount-from-scratch, and
    MergeBpe inference reproduces the training segmentation)."""
    from crawl_spark.operators.bpe import bpe_train

    return bpe_train(_t(spark, sf_dir, "documents"), n_merges=200)


def q_shuffle_order(spark, sf_dir):
    """Seeded deterministic training-order shuffle: sharded md5
    permutation (operators/sampling.shuffle_corpus)."""
    from crawl_spark.operators.sampling import shuffle_corpus

    return shuffle_corpus(
        _t(spark, sf_dir, "documents"), seed=7, shards=64
    )


def _link_graph(d):
    """The shared synthetic link graph (see q_pagerank's docstring):
    two affine families over hosts 0..100, hub edges to host 0, sink
    edges to dst-only hosts 200..204 (real dangling mass)."""
    i = F.col("doc_id")
    return (
        d.select((i % 101).alias("src"), ((i * 31 + 7) % 101).alias("dst"))
        .union(d.select((i % 101).alias("src"), ((i * 13 + 3) % 101).alias("dst")))
        .union(
            d.filter(i % 5 == 0).select(
                (i % 101).alias("src"), F.lit(0).cast("long").alias("dst")
            )
        )
        .union(
            d.filter(i % 11 == 0).select(
                (i % 101).alias("src"), (i % 5 + 200).alias("dst")
            )
        )
    )


_LINK_GRAPH_SQL = """
SELECT doc_id % 101 AS src, (doc_id * 31 + 7) % 101 AS dst FROM documents
UNION ALL SELECT doc_id % 101, (doc_id * 13 + 3) % 101 FROM documents
UNION ALL SELECT doc_id % 101, 0 FROM documents WHERE doc_id % 5 = 0
UNION ALL SELECT doc_id % 101, doc_id % 5 + 200 FROM documents WHERE doc_id % 11 = 0
"""


def q_trustrank(spark, sf_dir):
    """TrustRank over the shared synthetic link graph with trusted
    seeds {0,1,2}: personalized teleport + dangling mass both return to
    the seeds (the sink hosts 200..204 make the dangling·t term real),
    and any host unreachable from the seed set scores exactly 0."""
    from crawl_spark.operators.graph import trustrank

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    seeds = d.filter(i % 101 < 3).select((i % 101).alias("node"))
    return trustrank(_link_graph(d), seeds, iters=5)


def q_pagerank(spark, sf_dir):
    """PageRank over a deterministic synthetic link graph: two affine
    edge families per doc over hosts 0..100, a hub edge to host 0 from
    every 5th doc, and sink edges to hosts 200..204 (dst-only nodes, so
    the dangling-mass redistribution term is genuinely value-checked
    against the oracle, not vacuously zero)."""
    from crawl_spark.operators.graph import pagerank

    d = _t(spark, sf_dir, "documents")
    return pagerank(_link_graph(d), iters=5)


def q_hits(spark, sf_dir):
    """HITS hubs/authorities over the same synthetic-edge recipe as
    q_pagerank (affine families + hub + sink edges): sink hosts 200..204
    get authority but zero hub; the oracle is the identical L1-normalized
    iteration unrolled as DuckDB CTEs."""
    from crawl_spark.operators.graph import hits

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    e = (
        d.select((i % 101).alias("src"), ((i * 31 + 7) % 101).alias("dst"))
        .union(d.select((i % 101).alias("src"), ((i * 13 + 3) % 101).alias("dst")))
        .union(
            d.filter(i % 5 == 0).select(
                (i % 101).alias("src"), F.lit(0).cast("long").alias("dst")
            )
        )
        .union(
            d.filter(i % 11 == 0).select(
                (i % 101).alias("src"), (i % 5 + 200).alias("dst")
            )
        )
    )
    return hits(e, iters=4)


def q_host_graph(spark, sf_dir):
    """Collapse a synthetic page-level link graph (two affine dst
    families per doc over 20 hosts; arithmetic self-loops exercise the
    drop rule) to the weighted host graph — real host_expr URL parsing
    on the Spark side, arithmetic host derivation in the oracle."""
    from crawl_spark.operators.graph import host_graph

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    s = (i % 20).cast("string")
    src_url = F.concat(F.lit("http://host"), s, F.lit(".example/p/"), i.cast("string"))
    fam = lambda m, b: F.concat(  # noqa: E731
        F.lit("http://host"), ((i * m + b) % 20).cast("string"),
        F.lit(".example/q/"), (i % 13).cast("string"),
    )
    links = d.select(src_url.alias("src_url"), fam(7, 3).alias("dst_url")).union(
        d.select(src_url.alias("src_url"), fam(3, 5).alias("dst_url"))
    )
    return host_graph(links)


def q_connected_components(spark, sf_dir):
    """Transitive near-dup grouping over a deterministic pair graph:
    chains of 7 consecutive doc_ids plus bridge edges every 29th doc —
    exercises multi-hop label propagation (diameter ≥ 6) and chain
    merging."""
    from crawl_spark.operators.graph import connected_components

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    p = (
        d.filter(i % 7 != 6).select(i.alias("a"), (i + 1).alias("b"))
        .union(d.filter(i % 29 == 0).select(i.alias("a"), (i + 13).alias("b")))
    )
    return connected_components(p)


def q_cc_star(spark, sf_dir):
    """Log-round star-contraction components over a LONG-chain pair
    graph: chains of 40 consecutive doc_ids (diameter 39 — past the
    min-label operator's default 20-iteration budget; star contraction
    converges in ~5 rounds regardless of diameter). Same output
    contract as `connected_components`: (node, component = min
    reachable node)."""
    from crawl_spark.operators.graph import connected_components_star

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    p = d.filter(i % 40 != 39).select(i.alias("a"), (i + 1).alias("b"))
    return connected_components_star(p)


def q_score_quantiles(spark, sf_dir):
    """Per-language exact quantile calibration over the documents
    table's n_chars (the length-gate tuning read: 'cut below each
    language's p10') — Spark exact `percentile` vs DuckDB
    `quantile_cont`, bit-identical (n-1)p interpolation on doubles."""
    from crawl_spark.operators.textops import score_quantiles

    d = _t(spark, sf_dir, "documents")
    return score_quantiles(
        d.select("lang", F.col("n_chars").cast("double").alias("score")),
        probs=(0.1, 0.25, 0.5, 0.75, 0.9),
    )


def q_kll_quantiles(spark, sf_dir):
    """Mergeable KLL quantile sketch (`operators/sketch.py`) — the
    100 TB arm of the gate-calibration trade (score_quantiles is exact
    but buffers group values). At contract scale every stratum fits an
    uncompacted k=4096 sketch, where the sketch quantile is EXACTLY the
    rank statistic min{v : rank(v) >= ceil(p*n)} — replayed bit-for-bit
    by the DuckDB oracle (CEIL(p*n) on IEEE doubles both sides). The
    compacting regime (the actual scale path) is rank-error-bounded in
    tests/test_sketch.py."""
    from crawl_spark.operators.sketch import kll_quantiles

    d = _t(spark, sf_dir, "documents")
    return kll_quantiles(
        d.select("lang", F.col("n_chars").cast("double").alias("score")),
        probs=(0.0, 0.1, 0.5, 0.9, 1.0),
        k=4096,
        require_exact=True,  # oracle validity is the exact regime; a
        # data regen that compacts a stratum fails loudly, not silently
    )


def q_weighted_sample(spark, sf_dir):
    """Weight-proportional sampling without replacement
    (`sampling.weighted_sample`, sequential Poisson / Ohlsson 1998):
    8 docs per language, inclusion ∝ n_chars. The priority is one
    md5-uniform IEEE division — deliberately NOT the
    Efraimidis-Spirakis pow/log key, whose last-ulp libm bits differ
    across engines at a selection boundary — so DuckDB replays the
    exact selected set, not a close one."""
    from crawl_spark.operators.sampling import weighted_sample

    d = _t(spark, sf_dir, "documents")
    return weighted_sample(
        d.select("doc_id", "lang", F.col("n_chars").cast("double").alias("weight")),
        8,
        strata=("lang",),
    )


def q_hll_distinct(spark, sf_dir):
    """Mergeable HyperLogLog distinct-URL counts per host
    (`operators/hll.py`) — the cross-round cardinality arm: registers
    are a MAX-mergeable table (delta-log shape), the estimate never
    touches raw keys again. Every intermediate is integer-exact
    cross-engine (md5 hex split, length(bin(w)) rank, DECIMAL
    micro-unit harmonic sum); DuckDB replays the identical pipeline
    bit for bit. Contract scale sits in the linear-counting branch;
    the raw-branch parity + error bounds live in tests/test_hll.py."""
    from crawl_spark.operators.hll import hll_distinct

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    urls = d.select(
        F.concat(F.lit("h"), (i % 3).cast("string"), F.lit(".example"))
        .alias("host"),
        F.concat(F.lit("https://p/"), i.cast("string")).alias("url"),
    ).unionByName(
        d.select(
            F.concat(F.lit("d"), (i % 7).cast("string"), F.lit(".example"))
            .alias("host"),
            F.concat(F.lit("https://q/"), (i % 97).cast("string"))
            .alias("url"),
        )
    )
    return hll_distinct(urls, "url", ("host",))


def q_wet_export(spark, sf_dir):
    """WET conversion-record formatting (the sink half of the WARC/WET
    round trip, `sources/wet.py`): each document renders its full
    WARC/1.0 record string JVM-side — URL + UTC ISO date + UTF-8
    Content-Length + payload with CRLF framing — exactly the bytes
    `write_wet` ships. The oracle replays the concat with chr(13)/
    chr(10), strftime and octet_length(encode(·)), so the record is
    hash-checked byte-for-byte."""
    from crawl_spark.sources.wet import wet_records

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    pages = d.select(
        F.concat(
            F.lit("https://w"), (i % 20).cast("string"),
            F.lit(".example/p/"), i.cast("string"),
        ).alias("url"),
        F.timestamp_seconds(F.lit(1600000000) + i * 3600).alias("warc_ts"),
        F.col("text"),
    )
    return wet_records(pages)


def q_wat_export(spark, sf_dir):
    """WAT metadata-record formatting (the link/head sink of the
    WARC/WAT/WET triple, `sources/wat.py`): each page renders its JSON
    envelope (escaped title, escaped link array, fixed key order) and
    WARC/1.0 metadata framing entirely JVM-side. Titles carry quote +
    TAB + backslash and anchors carry text substrings + LF + quote, so
    every branch of the five-step `json_escape` chain is exercised; the
    oracle replays the same replace chain and record concat in DuckDB
    and hash-checks the bytes. Every third page has a NULL title
    (renders "Head":{}), link counts cycle 0..3 (0 renders [])."""
    from crawl_spark.sources.wat import wat_records

    return wat_records(_wat_pages(_t(spark, sf_dir, "documents")))


def _wat_pages(d):
    """Synthesized WAT input shared by `q_wat_export`/`q_wat_links`:
    urls/timestamps from doc_id, titles carrying quote+TAB+backslash
    (every third NULL), link counts cycling 0..3 with anchors from text
    substrings + LF + quote — every escape branch exercised."""
    i = F.col("doc_id")
    n = (i % 4).cast("int")
    link_j = lambda j: F.struct(  # noqa: E731
        F.concat(
            F.lit("https://w"), ((i + j) % 20).cast("string"),
            F.lit(".example/p/"), (i * 13 + j).cast("string"),
        ).alias("url"),
        F.concat(
            F.substring(F.col("text"), j * 7 + 1, 12),
            F.lit('\n"x'),
        ).alias("text"),
    )
    return d.select(
        F.concat(
            F.lit("https://w"), (i % 20).cast("string"),
            F.lit(".example/p/"), i.cast("string"),
        ).alias("url"),
        F.timestamp_seconds(F.lit(1600000000) + i * 3600).alias("warc_ts"),
        F.when(
            i % 3 != 0,
            F.concat(
                F.lit('P "'), i.cast("string"), F.lit('"\t\\end'),
            ),
        ).alias("title"),
        F.slice(
            F.transform(F.sequence(F.lit(1), F.lit(3)), link_j), 1, n
        ).alias("links"),
    )


def q_wat_links(spark, sf_dir):
    """The WAT consumer inverse (`sources/wat.py` `wat_links`): build
    the escaped JSON payload (`wat_payload`), then recover the typed
    (src, dst, anchor) edge list with JVM `from_json` + one explode.
    The oracle does NOT parse JSON — it emits the expected links
    directly from the same synthesis rule, so a hash match proves the
    escape chain and Jackson's unescape are exact inverses over real
    corpus text (quotes, TAB, LF, backslash all in play)."""
    from crawl_spark.sources.wat import wat_links, wat_payload

    pages = _wat_pages(_t(spark, sf_dir, "documents"))
    pay = pages.select(
        wat_payload(
            F.col("url"), F.col("warc_ts"), F.col("title"), F.col("links")
        ).alias("payload")
    )
    return wat_links(pay)


def _cdx_pages(d):
    """Synthesized capture table shared by `q_cdx_index`/`q_cdx_lookup`:
    urls exercise every SURT branch — leading `www.` (stripped) on every
    third, non-default `:8080` port (kept) on every fifth, mixed-case
    paths (lowercased), trailing-slash cycle, and query params in
    unsorted mixed-case order (lowercase + ASCII-sort) with a no-query
    cycle; mime/status cycle; digest/length from the real text column."""
    i = F.col("doc_id")
    q = (
        F.when(i % 6 == 0, F.lit(""))
        .when(
            i % 2 == 0,
            F.concat(F.lit("?b="), (i % 9).cast("string"), F.lit("&A=1")),
        )
        .otherwise(F.concat(F.lit("?a="), (i % 5).cast("string")))
    )
    return d.select(
        F.concat(
            F.when(i % 3 == 0, F.lit("https://www.w")).otherwise(
                F.lit("https://w")
            ),
            (i % 7).cast("string"),
            F.lit(".example.com"),
            F.when(i % 5 == 0, F.lit(":8080")).otherwise(F.lit("")),
            F.lit("/Sec"),
            (i % 11).cast("string"),
            F.lit("/P"),
            i.cast("string"),
            F.when(i % 4 == 0, F.lit("/")).otherwise(F.lit("")),
            q,
        ).alias("url"),
        F.timestamp_seconds(F.lit(1600000000) + i * 3600).alias("warc_ts"),
        F.when(i % 2 == 0, F.lit("text/html"))
        .otherwise(F.lit("application/json"))
        .alias("mime"),
        F.when(i % 7 == 0, F.lit(404)).otherwise(F.lit(200)).alias("status"),
        F.col("text").alias("html"),
    )


def q_cdx_index(spark, sf_dir):
    """CDX/CDXJ URL-index construction (`sources/cdx.py`, the fourth
    Common-Crawl artifact family): SURT key (scheme strip, www-strip,
    host-reverse, port keep, path lowercase, query lowercase+sort),
    14-digit timestamp, and the fixed-key-order JSON payload
    (md5 digest + octet length of the capture body) — all one JVM
    projection over the scan. The oracle replays the identical string
    algebra in DuckDB (strpos/substr/list_reverse/list_sort) and
    hash-checks the bytes, proving the SURT transform cross-engine."""
    from crawl_spark.sources.cdx import cdx_records

    return cdx_records(_cdx_pages(_t(spark, sf_dir, "documents")))


def q_cdx_lookup(spark, sf_dir):
    """CDX prefix range-lookup (`sources/cdx.py` `cdx_lookup`): all
    captures under one SURT subtree via `startswith` — on a
    parquet-backed index Catalyst pushes StringStartsWith to the scan
    (pytest-asserted in tests/test_cdx.py; PLANS.md). Oracle twin:
    `surt LIKE prefix || '%'`."""
    from crawl_spark.sources.cdx import cdx_lookup, cdx_records

    recs = cdx_records(_cdx_pages(_t(spark, sf_dir, "documents")))
    return cdx_lookup(recs, "com,example,w3)/")


# DuckDB replay of the full CDX build over the _cdx_pages synthesis:
# the SAME string algebra as sources/cdx.py surt_key (strpos/substr ↔
# instr/substring, list_reverse/list_sort ↔ reverse/array_sort), the
# payload with || in fixed key order (the synthesized url/mime carry no
# JSON-escapable bytes; the escape chain itself is oracle-proven by
# wat_export). Produces (surt, ts14, line).
_CDX_ORACLE = """
WITH pages AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 3 = 0 THEN 'https://www.w' ELSE 'https://w' END)
      || (doc_id % 7) || '.example.com'
      || (CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END)
      || '/Sec' || (doc_id % 11) || '/P' || doc_id
      || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
      || (CASE WHEN doc_id % 6 = 0 THEN ''
               WHEN doc_id % 2 = 0 THEN '?b=' || (doc_id % 9) || '&A=1'
               ELSE '?a=' || (doc_id % 5) END) AS url,
    epoch_ms((CAST(1600000000 AS BIGINT) + doc_id * 3600) * 1000) AS warc_ts,
    CASE WHEN doc_id % 2 = 0 THEN 'text/html'
         ELSE 'application/json' END AS mime,
    CASE WHEN doc_id % 7 = 0 THEN 404 ELSE 200 END AS status,
    text AS html
  FROM documents
),
p1 AS (
  SELECT *, regexp_replace(url, '^https?://', '') AS rest FROM pages
),
p2 AS (
  SELECT *,
    CASE WHEN strpos(rest, '/') > 0
         THEN substr(rest, 1, strpos(rest, '/') - 1) ELSE rest END
      AS hostport,
    CASE WHEN strpos(rest, '/') > 0
         THEN substr(rest, strpos(rest, '/')) ELSE '/' END AS pathq
  FROM p1
),
p3 AS (
  SELECT *,
    CASE WHEN strpos(pathq, '?') > 0
         THEN substr(pathq, 1, strpos(pathq, '?') - 1) ELSE pathq END
      AS pth,
    CASE WHEN strpos(pathq, '?') > 0
         THEN substr(pathq, strpos(pathq, '?') + 1) ELSE '' END AS qry,
    CASE WHEN strpos(hostport, ':') > 0
         THEN substr(hostport, 1, strpos(hostport, ':') - 1)
         ELSE hostport END AS host,
    CASE WHEN strpos(hostport, ':') > 0
         THEN substr(hostport, strpos(hostport, ':')) ELSE '' END AS port
  FROM p2
),
p4 AS (
  SELECT url, warc_ts, mime, status, html,
    array_to_string(
      list_reverse(string_split(regexp_replace(host, '^www[.]', ''), '.')),
      ',')
      || port || ')'
      || (CASE WHEN lower(pth) = '/' THEN '' ELSE lower(pth) END)
      || (CASE WHEN qry <> '' THEN
            '?' || array_to_string(
                     list_sort(string_split(lower(qry), '&')), '&')
          ELSE '' END) AS surt,
    strftime(warc_ts, '%Y%m%d%H%M%S') AS ts14
  FROM p3
),
idx AS (
  SELECT surt, ts14,
    surt || ' ' || ts14 || ' ' ||
    '{"url":"' || url || '","mime":"' || mime || '","status":"' || status
      || '","digest":"' || md5(html) || '","length":"'
      || octet_length(encode(html)) || '"}' AS line
  FROM p4
)
"""


def _cdx_typed(spark, sf_dir):
    """Recapture-shaped typed index for the CDX query-side reductions:
    50 distinct urls each captured ~n/50 times at 10-minute steps (so
    day-prefix buckets really collapse), 37 distinct payloads shared
    across urls (so digests really repeat) — run through the full
    cdx_records → cdx_parse chain so the contract also re-proves the
    line round trip."""
    from crawl_spark.sources.cdx import cdx_parse, cdx_records

    i = F.col("doc_id")
    pages = _t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("https://w"),
            (i % 5).cast("string"),
            F.lit(".example.com/item/"),
            (i % 50).cast("string"),
        ).alias("url"),
        F.timestamp_seconds(F.lit(1600000000) + i * 600).alias("warc_ts"),
        F.lit("text/html").alias("mime"),
        F.lit(200).alias("status"),
        F.concat(F.lit("c"), (i % 37).cast("string")).alias("html"),
    )
    return cdx_parse(cdx_records(pages).select("line"))


def q_cdx_collapse(spark, sf_dir):
    """CDX-server `collapse=timestamp:8` (`sources/cdx.py`
    `cdx_collapse`): one capture per url per day, the earliest, via ONE
    partial-agg min(struct) groupBy — never a per-urlkey window (a hot
    urlkey holds years of captures at archive scale). Oracle: DuckDB
    row_number over (surt, day) ordered by the full tuple."""
    from crawl_spark.sources.cdx import cdx_collapse

    return cdx_collapse(_cdx_typed(spark, sf_dir), digits=8)


def q_cdx_revisit(spark, sf_dir):
    """Url-agnostic revisit marking (`sources/cdx.py`
    `revisit_records`, the Heritrix/Common-Crawl dedup-at-write rule):
    first capture per payload digest is the original, later captures
    become revisit pointers (orig_surt/orig_ts14) — one O(distinct
    digests) partial agg + one digest equi-join, AQE-skew-safe."""
    from crawl_spark.sources.cdx import revisit_records

    return revisit_records(_cdx_typed(spark, sf_dir))


# Typed-index twin of _cdx_typed: surt computed directly (the full SURT
# algebra is already oracle-proven by cdx_index; these urls are
# lowercase, no www/port/query, so surt is a direct rewrite).
_CDX_TYPED_ORACLE = """
WITH idx AS (
  SELECT
    'com,example,w' || (doc_id % 5) || ')/item/' || (doc_id % 50) AS surt,
    strftime(epoch_ms((CAST(1600000000 AS BIGINT) + doc_id * 600) * 1000),
             '%Y%m%d%H%M%S') AS ts14,
    'https://w' || (doc_id % 5) || '.example.com/item/' || (doc_id % 50)
      AS url,
    'text/html' AS mime,
    '200' AS status,
    md5('c' || (doc_id % 37)) AS digest,
    CAST(octet_length(encode('c' || (doc_id % 37))) AS BIGINT) AS length
  FROM documents
)
"""


def q_sitemap(spark, sf_dir):
    """Sitemap parsing over synthetic payloads: most docs render a
    <urlset> with a fully-populated entry (whitespace-padded loc,
    XML-escaped &amp; in the URL), a bare loc-only entry and a loc-less
    entry (must drop); every 13th doc is a <sitemapindex> pointing at a
    child sitemap."""
    from crawl_spark.sources.sitemap import sitemap_entries

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    host = F.concat(F.lit("host"), (i % 20).cast("string"), F.lit(".example"))
    urlset = F.concat(
        F.lit("<urlset><url><loc> https://"), host, F.lit("/p/"),
        i.cast("string"), F.lit("?a=1&amp;b=2 </loc><lastmod>2024-01-"),
        (i % 19 + 10).cast("string"),
        F.lit("</lastmod><changefreq>daily</changefreq><priority>0."),
        (i % 10).cast("string"),
        F.lit("</priority></url><url><loc>https://"), host, F.lit("/q/"),
        i.cast("string"),
        F.lit("</loc></url><url><lastmod>2024-02-01</lastmod></url></urlset>"),
    )
    index = F.concat(
        F.lit("<sitemapindex><sitemap><loc>https://"), host,
        F.lit("/sitemap-"), (i % 7).cast("string"),
        F.lit(".xml</loc><lastmod>2024-03-05</lastmod></sitemap></sitemapindex>"),
    )
    pay = d.select(
        F.concat(F.lit("https://"), host, F.lit("/sitemap.xml")).alias(
            "sitemap_url"
        ),
        F.when(i % 13 == 0, index).otherwise(urlset).alias("xml"),
    )
    return sitemap_entries(pay)


def q_anchor_topk(spark, sf_dir):
    """Anchor-text aggregation over a synthetic link table: 3 links per
    doc across 50 targets and a 7-phrase anchor vocabulary, so targets
    accumulate repeated anchors with ties."""
    from crawl_spark.operators.graph import anchor_text_topk

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    vocab = F.array(
        *[
            F.lit(x)
            for x in (
                "click here", "read more", "home", "download",
                "next", "previous", "details",
            )
        ]
    )
    t1 = F.concat(F.lit("https://t"), (i % 50).cast("string"), F.lit(".example/"))
    t2 = F.concat(F.lit("https://t"), ((i * 3) % 50).cast("string"), F.lit(".example/"))
    links = (
        d.select(t1.alias("dst"), F.element_at(vocab, (i % 7 + 1).cast("int")).alias("anchor"))
        .union(d.select(t1.alias("dst"), F.element_at(vocab, ((i + 1) % 7 + 1).cast("int")).alias("anchor")))
        .union(d.select(t2.alias("dst"), F.element_at(vocab, ((i * 2) % 7 + 1).cast("int")).alias("anchor")))
    )
    return anchor_text_topk(links, k=3)


def q_metrics_rollup(spark, sf_dir):
    """Batch twin of the streaming metrics rollup: the SAME
    rollup_windows transformation metrics_rollup_stream runs, applied
    to the events table (ts → event_ts, event_type → error_class), with
    window bounds cast to epoch seconds for cross-engine comparison."""
    from crawl_spark.streaming.feed import rollup_windows

    e = _t(spark, sf_dir, "events")
    df = e.select(
        F.col("ts").alias("event_ts"), F.col("event_type").alias("error_class")
    )
    out = rollup_windows(df)
    # parquet ts reads as TIMESTAMP_NTZ (no direct long cast); session tz
    # is UTC so unix_timestamp is the exact epoch the oracle computes
    return out.select(
        F.unix_timestamp("window_start").alias("ws"),
        F.unix_timestamp("window_end").alias("we"),
        "error_class",
        F.col("n").cast("long").alias("n"),
    )


def q_latest_capture(spark, sf_dir):
    """Newest-capture-per-url over a synthetic multi-crawl table: 500
    docs fold onto 200 urls (2-3 captures each) with unique long
    timestamps, lang riding along to prove the survivor row is the
    newest one's."""
    from crawl_spark.operators.dedup import latest_capture

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    caps = d.select(
        F.concat(
            F.lit("https://host"), (i % 20).cast("string"),
            F.lit(".example/p/"), (i % 200).cast("string"),
        ).alias("url"),
        (F.lit(1600000000) + i * 86400).alias("warc_ts"),
        F.col("lang"),
        F.col("n_chars"),
    )
    return latest_capture(caps, ts_col="warc_ts")


def q_recrawl(spark, sf_dir):
    """Freshness scheduling over synthetic (url, last_fetch, changefreq)
    rows cycling through all 6 mapped frequencies plus never/bogus
    (NULL-schedule path), with a fixed deterministic `now`."""
    from crawl_spark.operators.recrawl import recrawl_schedule

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    freqs = F.array(
        *[
            F.lit(x)
            for x in (
                "always", "hourly", "daily", "weekly",
                "monthly", "yearly", "never", "bogus",
            )
        ]
    )
    df = d.select(
        F.concat(
            F.lit("https://host"), (i % 20).cast("string"),
            F.lit(".example/p/"), i.cast("string"),
        ).alias("url"),
        (F.lit(1700000000) - (i * 9973) % 5000000).alias("last_fetch_ts"),
        F.element_at(freqs, (i % 8 + 1).cast("int")).alias("changefreq"),
    )
    return recrawl_schedule(df, now_ts=1700000000)


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3/Llama 13-gram rule, n=5 at
    contract scale): the "benchmark" is every 37th document, so sampled
    docs self-hit and their near-dups hit too — a deterministic nonzero
    signal with both verdicts."""
    from crawl_spark.operators.dedup import decontaminate

    d = _t(spark, sf_dir, "documents")
    return decontaminate(d, d.filter(F.col("doc_id") % 37 == 0), n=5)


def q_decontaminate_bloom(spark, sf_dir):
    """Same decontamination contract as q_decontaminate, run through the
    eval_side="bloom" scale path (bitmap pre-filter + exact md5 verify
    join, no eval-digest broadcast) — the oracle proves the Bloom path
    bit-identical to the published rule cross-engine. A deliberately
    small bitmap keeps the FP rate non-trivial so the verify join is
    actually exercised at contract scale."""
    from crawl_spark.operators.bloom import BloomConfig
    from crawl_spark.operators.dedup import decontaminate

    d = _t(spark, sf_dir, "documents")
    return decontaminate(
        d,
        d.filter(F.col("doc_id") % 37 == 0),
        n=5,
        eval_side="bloom",
        bloom_cfg=BloomConfig(n_buckets=8, bits_per_bucket=1 << 14, n_hashes=4),
    )


def q_nfc_dedup(spark, sf_dir):
    """Unicode-composition dedup with injected deterministic variants:
    docs with id%4==1 carry a DECOMPOSED spelling (e+U+0301, A+U+030A)
    and id%4==2 the PRECOMPOSED twin keyed by id%10 — the oracle runs
    DuckDB's nfc_normalize over the same injected text, so the pandas
    UDF's unicodedata semantics are value-checked cross-engine."""
    from crawl_spark.operators.dedup import nfc_dedup

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    text = (
        F.when(i % 4 == 1,
               F.concat(F.lit("Café menu Å "), (i % 10).cast("string")))
        .when(i % 4 == 2,
              F.concat(F.lit("Café menu Å "), (i % 10).cast("string")))
        .otherwise(F.concat(F.lit("plain "), i.cast("string"), F.lit(" text")))
    )
    return nfc_dedup(d.select("doc_id", text.alias("text")))


def q_nb_classify(spark, sf_dir):
    """Multinomial NB end-to-end: train on an 80% split with synthetic
    3-way labels (doc_id mod 3), classify the WHOLE table — the oracle
    refits the identical model (add-one smoothed hashed-gram
    likelihoods at 512 buckets + log priors, all 6dp-rounded) and ranks
    per-doc per-label decimal score sums in plain SQL."""
    from crawl_spark.operators.classify import nb_score, nb_train

    d = _t(spark, sf_dir, "documents")
    lab = (
        F.when(F.col("doc_id") % 3 == 0, "a")
        .when(F.col("doc_id") % 3 == 1, "b")
        .otherwise("c")
    )
    train = d.filter(F.col("doc_id") % 5 != 4).select(lab.alias("label"), "text")
    model = nb_train(train, n_buckets=512)
    return nb_score(d, model, n_buckets=512)


def q_shard_stats(spark, sf_dir):
    """Training-shard sink end-to-end: write documents as 16
    deterministic parquet shards to a scratch dir, validate the files
    against the manifest, and return the MANIFEST's per-shard
    (n_rows, checksum) — the oracle recomputes both from the md5 rules
    alone, so a hash match proves the physically-written artifact (not
    just a plan) carries exactly the contracted rows."""
    import os
    import tempfile

    from crawl_spark.sources.shards import (
        read_training_shards,
        write_training_shards,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    path = os.path.join(tempfile.gettempdir(), "crawl_spark_contract_shards")
    m = write_training_shards(d, path, n_shards=16)
    read_training_shards(spark, path)  # raises unless files match manifest
    rows = [(int(k), v["n_rows"], v["checksum"]) for k, v in m["shards"].items()]
    return spark.createDataFrame(rows, "shard int, n_rows long, checksum long")


def q_url_filter(spark, sf_dir):
    """UT1-style domain blocklist over synthetic urls: host{id%20}
    .example with a www. subdomain variant and an 11-deep subdomain
    variant (doc_id%50==1), blocking two apex domains — exercises
    exact-host, subdomain, label-boundary (host12 must NOT be blocked
    by host1), and deeper-than-MAX_LABELS hosts (the suffix-chain cap
    counts from the apex end, so label-prepending is not an evasion)."""
    from crawl_spark.operators.urlfilter import url_blocklist_filter

    d = _t(spark, sf_dir, "documents")
    h = (F.col("doc_id") % 20).cast("string")
    i = F.col("doc_id").cast("string")
    sub = (
        F.when(F.col("doc_id") % 50 == 1,
               F.lit("x0.x1.x2.x3.x4.x5.x6.x7.x8.x9.x10."))
        .when(F.col("doc_id") % 3 == 0, F.lit("www."))
        .otherwise(F.lit(""))
    )
    url = F.concat(F.lit("http://"), sub, F.lit("host"), h,
                   F.lit(".example/p/"), i)
    docs = d.select("doc_id", url.alias("url"))
    blocked = spark.createDataFrame(
        [("host1.example",), ("host7.example",)], ["host"]
    )
    return url_blocklist_filter(docs, blocked).select("doc_id", "url", "host")


def q_cosine_topk(spark, sf_dir):
    from crawl_spark.operators.similarity import brute_force_topk

    v = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(v, v.filter(F.col("vec_id") < 8), k=10)


def q_ivf_assign(spark, sf_dir):
    from crawl_spark.operators.similarity import ivf_assign

    return ivf_assign(_t(spark, sf_dir, "embeddings"))


def q_ivf_topk(spark, sf_dir):
    from crawl_spark.operators.similarity import ivf_topk

    v = _t(spark, sf_dir, "embeddings")
    return ivf_topk(v, v.filter(F.col("vec_id") < 8), k=10, nprobe=2)


def q_ivf_train(spark, sf_dir):
    """One k-means (Lloyd) refinement step over the deterministic init
    codebook (operators/similarity.py kmeans_iteration): assign by 6dp
    cosine, recompute centroids as elementwise means. Exploded to scalar
    (centroid_id, pos, n_members, val) rows so DuckDB verifies the
    means exactly (6dp round); the multi-iteration trained codebook is
    pytest-verified by its recall (test_trained_ivf_beats_untrained)."""
    from crawl_spark.operators.similarity import _default_centroids, kmeans_iteration

    emb = _t(spark, sf_dir, "embeddings")
    cents = _default_centroids(emb, 41, "vec_id", "embedding")
    it = kmeans_iteration(emb, cents)
    return it.select(
        "centroid_id", "n_members", F.posexplode("cv").alias("pos0", "val")
    ).select(
        "centroid_id",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.col("n_members").cast("long").alias("n_members"),
        F.round("val", 6).alias("val"),
    )


def q_embed_neardup(spark, sf_dir):
    from crawl_spark.operators.similarity import embedding_neardup_pairs

    return embedding_neardup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.25)


def q_semdedup(spark, sf_dir):
    """Semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
    IVF cells stand in for the paper's k-means clusters, 6dp-cosine
    near pairs are found within cells only, connected components
    collapse chains, min-id per group is the kept canonical
    (similarity.semdedup — composition of the hot-cell-guarded pair
    blocker and the bucketed min-label CC)."""
    from crawl_spark.operators.similarity import semdedup

    return semdedup(_t(spark, sf_dir, "embeddings"), threshold=0.25)


def q_dsir_score(spark, sf_dir):
    """DSIR importance scores (Xie et al. 2023, arXiv:2302.03169):
    hashed unigram+bigram log-likelihood ratios of a target vs raw
    bag-of-ngrams model (sampling.dsir_weights / dsir_score). Target =
    every 7th doc (deterministic), 512 md5 buckets, per-bucket ratios
    rounded 6dp, per-doc sums decimal-exact."""
    from crawl_spark.operators.sampling import dsir_score, dsir_weights

    d = _t(spark, sf_dir, "documents")
    w = dsir_weights(d.filter(F.col("doc_id") % 7 == 0), d, n_buckets=512)
    return dsir_score(d, w, n_buckets=512)


def q_cdc_dedup(spark, sf_dir):
    """Content-defined chunking dedup (gear CDC, Xia et al. ATC'16,
    operators/cdc.cdc_dedup): per-doc chunk/byte survival after
    corpus-wide first-occurrence dedup of content-defined chunks.
    Rows-only contract: the rolling-hash boundary walk is not
    SQL-expressible; the chunking contract is pinned bit-for-bit by the
    pure-Python twin in tests/test_cdc.py instead."""
    from crawl_spark.operators.cdc import cdc_dedup

    return cdc_dedup(_t(spark, sf_dir, "documents"))


def q_lm_score(spark, sf_dir):
    """CCNet-style LM quality scoring (Wenzek et al. 2020's pipeline
    role, hashed-ngram proxy model — sampling.lm_model/lm_score):
    per-doc NLL under a reference model fitted on every 5th doc, 512
    md5 buckets, decimal-exact sums, NULL nll for gram-less docs."""
    from crawl_spark.operators.sampling import lm_model, lm_score

    d = _t(spark, sf_dir, "documents")
    m = lm_model(d.filter(F.col("doc_id") % 5 == 0), n_buckets=512)
    return lm_score(d, m, n_buckets=512)


def q_lm_buckets(spark, sf_dir):
    """CCNet head/middle/tail terciles over q_lm_score's model: cutoffs
    are the rank-based ceil(n/3)/ceil(2n/3)-th smallest nll (values
    present in the data — engine-exact, unlike interpolated quantiles);
    the oracle recomputes them with a window rank."""
    from crawl_spark.operators.sampling import lm_buckets, lm_model

    d = _t(spark, sf_dir, "documents")
    m = lm_model(d.filter(F.col("doc_id") % 5 == 0), n_buckets=512)
    return lm_buckets(d, m, n_buckets=512)


def q_curate(spark, sf_dir):
    """The COMPOSED curation pipeline end-to-end
    (operators/pipeline.curate_training_set): PII scrub → exact dedup +
    lang + quality gates → Gopher repetition gate → DSIR importance
    selection (target = every 7th doc, top 100) → sharded sequence
    packing — one DataFrame program, one DuckDB program, compared row
    by row. Relined input so the line-level gate has real lines (same
    as q_gopher_repetition); gate thresholds tuned mixed at sf0.01."""
    from crawl_spark.operators.pipeline import curate_training_set

    d = _docs_relined(spark, sf_dir)
    return curate_training_set(
        d,
        min_tokens=30,
        min_quality=4.0,
        langs=("en",),
        max_dup_line_frac=0.05,
        max_top2gram_frac=0.06,
        target_df=d.filter(F.col("doc_id") % 7 == 0),
        dsir_keep=100,
        dsir_buckets=512,
        seq_len=512,
        streams=16,
    )


def q_tfidf(spark, sf_dir):
    """Per-doc top-5 terms by smoothed TF-IDF (textops.tfidf_top_terms):
    keyword extraction over the corpus, ranked on the 6dp-rounded score
    so ordering is bit-stable across engines."""
    from crawl_spark.operators.textops import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), top_k=5)


def q_block_dedup(spark, sf_dir):
    """Token-block exact dedup (chunk-level boilerplate removal):
    per-doc surviving-block counts after corpus-wide first-occurrence
    dedup of 16-token chunks (operators/dedup.block_dedup)."""
    from crawl_spark.operators.dedup import block_dedup

    return block_dedup(_t(spark, sf_dir, "documents"), block=16)


def q_repeated_spans(spark, sf_dir):
    """Arbitrary-offset repeated-span dedup (Lee et al. substring
    family as hashed rolling 15-grams, operators/dedup.repeated_spans):
    per-doc covered-token counts and merged-span counts for w-grams
    occurring >= 2x corpus-wide. Unlike block_dedup's fixed-boundary
    chunks, spans start at ANY token offset."""
    from crawl_spark.operators.dedup import repeated_spans

    return repeated_spans(_t(spark, sf_dir, "documents"), window=15)


def q_pq_encode(spark, sf_dir):
    """Product-quantization encode (similarity.pq_encode): every
    64-dim embedding compressed to 8 sub-codes (16-centroid codebook
    per subspace, the deterministic smallest-id codebook — the SQL
    oracle path; trained codebooks are pytest-verified by quantization
    error). Exploded to (vec_id, subspace, code) scalars for exact
    verification; distances use the 6dp micro-unit integer contract."""
    from crawl_spark.operators.similarity import pq_encode

    return pq_encode(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", F.posexplode("codes").alias("subspace", "code")
    )


def q_pq_topk(spark, sf_dir):
    """PQ/ADC approximate top-k (similarity.pq_topk): candidates scored
    from CODES via per-query distance tables — integer micro-unit sums,
    exact across engines; raw floats never touched in the scoring
    pass."""
    from crawl_spark.operators.similarity import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return pq_topk(emb, emb.filter(F.col("vec_id") < 8), q_k=10)


def q_ivf_pq(spark, sf_dir):
    """IVF×PQ composition (similarity.ivf_pq_topk, rerank off so the
    raw ADC ordering is what the oracle checks): coarse cells prune the
    corpus to nprobe=2 lists per query, PQ codes score only those
    lists' members — the production ANN shape where neither the floats
    nor the full code table is scanned."""
    from crawl_spark.operators.similarity import ivf_pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_pq_topk(
        emb, emb.filter(F.col("vec_id") < 8), q_k=10, nprobe=2, rerank_mult=0
    )


def q_signbit_buckets(spark, sf_dir):
    """Random-hyperplane LSH buckets (operators/similarity.py
    simhash_sign_buckets): 16 sign bits against md5-parity
    pseudo-hyperplanes — the non-IVF ANN blocking path."""
    from crawl_spark.operators.similarity import simhash_sign_buckets

    return simhash_sign_buckets(
        _t(spark, sf_dir, "embeddings"), n_bits=16, dim=64
    )


def q_signbit_neardup(spark, sf_dir):
    """Near-dup pairs blocked by sign-bucket LSH (candidate-then-verify:
    only same-bucket pairs pay the exact cosine)."""
    from crawl_spark.operators.similarity import signbit_neardup_pairs

    return signbit_neardup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.25, n_bits=8, dim=64
    )


def q_multimodal_meta(spark, sf_dir):
    """Multimodal binary-column plumbing (rows-only check: no binary
    driver table exists, so payloads are synthesized deterministically
    from document text; the mapInPandas metadata/feature path is the
    thing under test — operators/multimodal.py)."""
    from crawl_spark.operators.multimodal import extract_media_meta

    d = _t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text").alias("kind"),
        F.col("text").cast("binary").alias("payload"),
        F.lit("text/plain").alias("mime"),
        F.create_map(F.lit("src"), F.col("source")).alias("meta"),
    )
    return extract_media_meta(media).select(
        "media_id", "detected_mime", "n_bytes", "payload_md5"
    )


def q_image_hashes(spark, sf_dir):
    """Real stdlib PNG decode → perceptual hashes (rows-only check: the
    zlib-inflate + defilter decode is Python-side, not ANSI-SQL).
    Payloads are deterministic PNGs synthesized per doc (16×16 RGB from
    the doc's text bytes), so the whole decode→luma→aHash/dHash/pHash path
    runs for real over every row (operators/multimodal.py:decode_png);
    round 5 adds the spectral pHash column (32×32 DCT-II low block)."""
    import numpy as np

    from crawl_spark.operators.multimodal import encode_png, image_hashes

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def mk(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for t in pdf["text"]:
                b = (t or "").encode()[:768]
                b = b + bytes(768 - len(b))
                arr = np.frombuffer(b, dtype=np.uint8).reshape(16, 16, 3)
                payloads.append(encode_png(arr))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = d.mapInPandas(mk, "media_id long, payload binary")
    return image_hashes(media)


def q_image_neardup(spark, sf_dir):
    """Hamming-banded image near-dup pairs (multimodal.
    image_neardup_pairs) over hashes derived in-plan so DuckDB can
    brute-force the oracle: docs in the same group of 10 share a
    60-bit md5-derived base hash, each perturbed by (doc_id%10) low
    bits — so in-group pairs sit at hamming |Δ| and the banding must
    find exactly those with |Δ| ≤ 5 (pigeonhole-exact recall). The
    oracle is the O(n²) popcount join; the Spark side is the banded
    candidate-then-verify (never all-pairs)."""
    from crawl_spark.operators.multimodal import image_neardup_pairs

    d = _t(spark, sf_dir, "documents")
    base = F.conv(
        F.substring(F.md5(F.floor(F.col("doc_id") / 10).cast("string")), 1, 15),
        16,
        10,
    ).cast("long")
    # pyspark's F.shiftleft only takes a literal bit count — the SQL
    # function form accepts a column
    mask = F.expr("shiftleft(cast(1 as bigint), cast(doc_id % 10 as int)) - 1")
    hashes = d.select(
        F.col("doc_id").alias("media_id"),
        base.bitwiseXOR(mask).alias("dhash"),
    )
    return image_neardup_pairs(hashes, max_dist=5)


def q_audio_features(spark, sf_dir):
    """Real stdlib WAV-PCM decode → audio features + spectral hash
    (rows-only check: rfft/decode are Python-side, not ANSI-SQL).
    Payloads are deterministic 16-bit PCM WAVs synthesized per doc
    (2,048 samples derived from the doc's text bytes), so the whole
    decode→rms/zcr→spectral-hash path runs for real over every row
    (operators/multimodal.py:decode_wav / audio_spectral_hash)."""
    import numpy as np

    from crawl_spark.operators.multimodal import audio_features, encode_wav

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def mk(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for t in pdf["text"]:
                b = (t or "").encode()[:2048]
                b = b + bytes(2048 - len(b))
                a = (
                    np.frombuffer(b, dtype=np.uint8).astype(np.float64)
                    - 128.0
                ) / 128.0
                payloads.append(encode_wav(a, 8000))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = d.mapInPandas(mk, "media_id long, payload binary")
    return audio_features(media)


def q_video_demux(spark, sf_dir):
    """REAL MP4 demux, ORACLE-CHECKED: per doc, a self-contained MP4 is
    synthesized with ns = 4 + doc_id%5 samples (sample i = ascii
    's<doc_id>:<i>;', 100 ms apart, split across two chunks with junk
    between them), then extract_video_samples demuxes the sample table
    (stts/stsz/stsc/stco walk — operators/multimodal.py:
    mp4_sample_table) and emits 3 frames. The planted layout is a pure
    function of doc_id, so DuckDB computes the EXPECTED timestamps and
    sample-byte md5s in plain SQL — any offset/timestamp/slice error in
    the struct parsing breaks the value match."""
    from crawl_spark.operators.multimodal import encode_mp4, extract_video_samples

    d = _t(spark, sf_dir, "documents").select("doc_id")

    def mk(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                ns = 4 + did % 5
                samples = [("s%d:%d;" % (did, i)).encode() for i in range(ns)]
                payloads.append(encode_mp4(samples, [ns // 2, ns - ns // 2]))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    media = d.mapInPandas(mk, "media_id long, payload binary")
    out = extract_video_samples(media, n_frames=3)
    return out.select(
        F.col("media_id").alias("doc_id"),
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("ts_ms"),
        F.md5(F.col("sample_bytes")).alias("frame_md5"),
        F.col("n_samples").cast("long").alias("n_samples"),
    ).orderBy("doc_id", "frame_idx")


def _docs_c4(spark, sf_dir):
    """documents rebuilt as C4-shaped pages (the sf texts have no
    newlines/punctuation): 2..5 good sentences per page plus one line
    per C4 line rule, and doc_id-keyed page-gate injections (lorem
    ipsum / curly bracket / blocklist word) — every rule fires on a
    deterministic doc subset so the verdict is MIXED at sf0.01."""
    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    good = "the data rows join cleanly and fast."
    return d.select(
        "doc_id",
        F.concat(
            F.array_join(
                F.array_repeat(F.lit(good), (F.lit(2) + i % 4).cast("int")), "\n"
            ),
            F.lit("\nno terminal punctuation boilerplate menu line"),
            F.lit("\ntiny one."),
            F.when(
                i % 3 == 0,
                F.lit("\nplease enable javascript to continue now."),
            ).otherwise(F.lit("\nanother clean sentence ends properly here.")),
            F.when(
                i % 7 == 0, F.lit("\nlorem ipsum dolor sit amet today.")
            ).otherwise(F.lit("")),
            F.when(
                i % 11 == 0, F.lit("\ncode block { starts here today.")
            ).otherwise(F.lit("")),
            F.when(
                i % 13 == 0, F.lit("\nthis page contains badword1 sadly today.")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


def q_c4_clean(spark, sf_dir):
    from crawl_spark.operators.textops import c4_clean

    return c4_clean(_docs_c4(spark, sf_dir))


def q_span_dedup(spark, sf_dir):
    """C4 duplicated-3-sentence-span removal over synthesized pages:
    every doc_id % 4 == 0 page embeds the same 3-sentence block, all
    other sentences are doc-unique — so exactly one global owner keeps
    the block and 124 losers at sf0.01 are edited (MIXED verdict)."""
    from crawl_spark.operators.dedup import span_dedup

    d = _t(spark, sf_dir, "documents")
    u = F.col("doc_id").cast("string")
    text = F.concat(
        F.lit("intro sentence "), u, F.lit(" opens. second unique "), u,
        F.lit(" line. "),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.lit("shared span alpha. shared span beta. shared span gamma. "),
        ).otherwise(
            F.concat(
                F.lit("solo "), u, F.lit(" alpha. solo "), u,
                F.lit(" beta. solo "), u, F.lit(" gamma. "),
            )
        ),
        F.lit("closing sentence "), u, F.lit(" ends."),
    )
    return span_dedup(d.select("doc_id", text.alias("text")))


def q_url_strip(spark, sf_dir):
    """Tracking-param stripping over synthesized URLs: id%4 selects no
    query / tracking-only (uppercase key variant) / mixed with a
    trailing empty pair / clean query — all four rule paths MIXED."""
    from crawl_spark.operators.urlfilter import strip_tracking_params

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    s = i.cast("string")
    url = F.concat(
        F.lit("https://host"), (i % 20).cast("string"),
        F.lit(".example/p/"), s,
        F.when(i % 4 == 1, F.lit("?UTM_Source=news&utm_medium=email"))
        .when(i % 4 == 2, F.concat(F.lit("?q="), s, F.lit("&fbclid=abc&")))
        .when(i % 4 == 3, F.concat(F.lit("?a=1&b="), (i % 7).cast("string")))
        .otherwise(F.lit("")),
    )
    return strip_tracking_params(d.select("doc_id", url.alias("url")))


_MAIN_CONTENT_TPL = """<html><head><style>p { color: red }</style></head><body>
<nav><ul><li><a href=/a>Home</a></li><li><a href=/b>About page link</a></li></ul></nav>
<div class=content>
  <h1>The quick brown fox story headline number {i}</h1>
  <p>The quick brown fox jumps over the lazy dog near river bank {i}.</p>
  <p>It then <b>cont</b>inues along the path to the old mill {i}.</p>
  <p>Read <a href=/more>more</a> about the fox in our wildlife archive {i}.</p>
  <p>short.</p>
  <p><a href=/x>link</a> <a href=/y>soup</a> <a href=/z>menu of links only</a></p>
</div>
<footer><p>Copyright 2026 Example Corp all rights reserved forever</p></footer>
</body></html>"""


def q_main_content(spark, sf_dir):
    """Boilerplate removal over synthesized pages (rows-only: HTML
    parsing is not ANSI-SQL; the contract is pinned by the driver twin
    ``main_content_str`` in test_operators). Every page exercises the
    prune set, min-words and link-density rules with doc-unique text."""
    from crawl_spark.operators.boilerplate import extract_main_content

    d = _t(spark, sf_dir, "documents")
    s = F.col("doc_id").cast("string")
    parts = _MAIN_CONTENT_TPL.split("{i}")
    cols = []
    for j, p in enumerate(parts):
        cols.append(F.lit(p))
        if j < len(parts) - 1:
            cols.append(s)
    return extract_main_content(d.select("doc_id", F.concat(*cols).alias("html")))


def q_fix_encoding(spark, sf_dir):
    """Mojibake repair (rows-only: DuckDB is UTF-8-only, no Latin-1
    codec exists for an oracle; the repair rule is pinned by pytest
    against its driver twin + a hypothesis round-trip property)."""
    from crawl_spark.operators.textops import fix_encoding

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    moji = "café résumé".encode("utf-8").decode("latin-1")  # "cafÃ© rÃ©sumÃ©"
    raw = F.concat(
        F.when(i % 3 == 0, F.lit(moji))
        .when(i % 3 == 1, F.lit("café résumé"))
        .otherwise(F.lit("plain ascii")),
        F.lit(" doc "),
        i.cast("string"),
    )
    base = d.select(
        "doc_id",
        raw.alias("raw"),
        fix_encoding(raw).alias("__fixed"),
    ).localCheckpoint(eager=False)  # UDF output materialized once (CLAUDE.md)
    return base.select(
        "doc_id",
        F.length("raw").cast("int").alias("raw_len"),
        F.length("__fixed").cast("int").alias("fixed_len"),
        F.md5("__fixed").alias("fixed_md5"),
        (F.col("__fixed") != F.col("raw")).alias("changed"),
    )


def q_url_templates(spark, sf_dir):
    """URL path-template mining over five synthetic families per host:
    /product/{n} (every 5th doc), a 32-hex md5 segment → /s/{hex},
    /cat/{n}/item{n}, the static /about, and a query-carrying /p/{n}
    whose ?sid= must NOT leak into the template. Top-5 per host through
    grouped_topk; the oracle replays the same three regexp_replace
    generalizations with the 'g' flag and a rank window."""
    from crawl_spark.operators.urlfilter import url_templates

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    url = F.concat(
        F.lit("https://h"), (i % 7).cast("string"), F.lit(".example"),
        F.when(i % 5 == 0, F.concat(F.lit("/product/"), i.cast("string")))
        .when(i % 5 == 1, F.concat(F.lit("/s/"), F.md5(i.cast("string"))))
        .when(
            i % 5 == 2,
            F.concat(
                F.lit("/cat/"), (i % 13).cast("string"),
                F.lit("/item"), i.cast("string"),
            ),
        )
        .when(i % 5 == 3, F.lit("/about"))
        .otherwise(
            F.concat(
                F.lit("/p/"), (i % 97).cast("string"),
                F.lit("?sid="), F.md5(i.cast("string")),
            )
        ),
    )
    return url_templates(d.select(url.alias("url")), k=5, min_count=2)


def q_param_stats(spark, sf_dir):
    """Query-param cardinality mining: ?sid= (md5 — all-distinct,
    id_like), &page= (5 values, facet), &tok=QkE= on every 4th doc
    (base64 padding '=' must stay inside the ONE distinct value) and a
    bare &flag key on every 11th (no '=', value '')."""
    from crawl_spark.operators.urlfilter import param_stats

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    url = F.concat(
        F.lit("https://h"), (i % 7).cast("string"),
        F.lit(".example/p/"), (i % 50).cast("string"),
        F.lit("?sid="), F.md5(i.cast("string")),
        F.lit("&page="), (i % 5).cast("string"),
        F.when(i % 11 == 0, F.lit("&flag")).otherwise(F.lit("")),
        F.when(i % 4 == 0, F.lit("&tok=QkE=")).otherwise(F.lit("")),
    )
    return param_stats(d.select(url.alias("url")), min_occ=5)


def q_trap_detect(spark, sf_dir):
    """Crawl-trap detection over synthesized URLs: doc_id%8 picks the
    host, whose pattern (host index %4) is one of — 0: calendar trap
    (one path, per-id query), 1: healthy distinct shallow paths,
    2: depth-10 distinct paths, 3: mixed 5-path query pages. Hosts
    h0/h4 trap on path concentration, h2/h6 on depth, h1/h5/h3/h7
    pass — every rule branch exercised with both verdicts."""
    from crawl_spark.operators.urlfilter import trap_detect

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    s = i.cast("string")
    m = (i % 8) % 4
    url = F.concat(
        F.lit("https://h"), (i % 8).cast("string"), F.lit(".example"),
        F.when(m == 0, F.concat(F.lit("/cal?day="), s))
        .when(m == 1, F.concat(F.lit("/p"), s))
        .when(m == 2, F.concat(F.lit("/a/b/c/d/e/f/g/h/i/x"), s))
        .otherwise(
            F.concat(F.lit("/q/"), (i % 5).cast("string"), F.lit("?s="), s)
        ),
    )
    return trap_detect(
        d.select(url.alias("url")),
        min_urls=30, path_dup_frac=0.5, mean_depth_max=8.0,
    )


def q_domain_reputation(spark, sf_dir):
    """Domain reputation gate over synthesized domains (doc_id%12):
    dom0/dom1 = dup farms (identical 12-token promo page), dom2/dom3 =
    stub farms (2-token docs), dom4 = borderline mixed (half dup →
    dup_ratio just under the 0.5 bar), dom5-11 = healthy unique
    11-token articles. Digits in unique text are translated to letters
    so ids never fold."""
    from crawl_spark.operators.sampling import domain_reputation

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    g = i % 12
    lid = F.translate(i.cast("string"), "0123456789", "abcdefghij")
    text = (
        F.when(
            g < 2,
            F.concat(
                F.lit("promo page for domain "), g.cast("string"),
                F.lit(" buy cheap widgets now fast free deal today"),
            ),
        )
        .when(g < 4, F.concat(F.lit("stub "), lid))
        .when(
            g == 4,
            F.when(
                i % 24 == 4, F.lit("same mixed page alpha beta gamma delta epsilon zeta eta")
            ).otherwise(
                F.concat(
                    F.lit("varied mixed page "), lid,
                    F.lit(" alpha beta gamma delta epsilon zeta"),
                )
            ),
        )
        .otherwise(
            F.concat(
                F.lit("article "), lid,
                F.lit(" alpha beta gamma delta epsilon zeta eta theta iota"),
            )
        )
    )
    src = F.concat(F.lit("dom"), g.cast("string"))
    return domain_reputation(
        d.select("doc_id", src.alias("source"), text.alias("text")),
        min_docs=5, dup_ratio_max=0.5, short_frac_max=0.5, short_tokens=10,
    )


def q_ccnet_dedup(spark, sf_dir):
    """CCNet hash-normalization dedup over injected variants (doc_id%5):
    m=1/m=2 are the same news item differing only in date digits, case
    and punctuation (collapse keyed by a letter from doc_id%10);
    m=3/m=4 the same offer with different prices/punct (letter from
    doc_id%7); m=0 unique docs with ids translated to letters (digits
    would fold to 0 and collide by length). ASCII-only text so the
    Java and RE2 \\p tables cannot disagree."""
    from crawl_spark.operators.dedup import ccnet_dedup

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    m = i % 5
    lid = F.translate(i.cast("string"), "0123456789", "abcdefghij")
    l10 = F.element_at(
        F.array(*[F.lit(x) for x in "abcdefghij"]), (i % 10 + 1).cast("int")
    )
    l7 = F.element_at(
        F.array(*[F.lit(x) for x in "pqrstuv"]), (i % 7 + 1).cast("int")
    )
    text = (
        F.when(m == 1, F.concat(F.lit("Posted on 2024-01-02: breaking news item "), l10))
        .when(m == 2, F.concat(F.lit("posted on 2025-11-30 breaking news item "), l10))
        .when(m == 3, F.concat(F.lit("Offer "), l7, F.lit(" price 1,234.99 today!!!")))
        .when(m == 4, F.concat(F.lit("offer "), l7, F.lit(" price 9.876,54 today")))
        .otherwise(F.concat(F.lit("plain document "), lid))
    )
    return ccnet_dedup(d.select("doc_id", text.alias("text")))


def q_incremental_dedup(spark, sf_dir):
    """Incremental batch-vs-corpus dedup: the corpus digest table is
    exact_dedup over the real documents; the batch re-ids docs to
    doc_id+1000000 with text by doc_id%4 — 0: verbatim corpus text
    (corpus_dup), 1: one of five shared fresh pages (batch_dup after
    the first), else unique fresh text (keep)."""
    from crawl_spark.operators.dedup import exact_dedup, incremental_dedup

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    lid = F.translate(i.cast("string"), "0123456789", "abcdefghij")
    batch = d.select(
        (i + 1000000).alias("doc_id"),
        F.when(i % 4 == 0, F.col("text"))
        .when(i % 4 == 1, F.concat(F.lit("fresh shared page "), (i % 5).cast("string")))
        .otherwise(F.concat(F.lit("brand new page "), lid))
        .alias("text"),
    )
    return incremental_dedup(batch, exact_dedup(d).select("content_md5"))


def q_leak_split(spark, sf_dir):
    """Leakage-safe train/valid split: near-dup clusters from the SAME
    minhash→LSH→verify→CC pipeline as `neardup_clusters`, then the
    deterministic md5-bucket rule applied to the CLUSTER id (rate
    0.25) — near-dup pairs can never straddle the split."""
    from crawl_spark.operators.dedup import neardup_clusters
    from crawl_spark.operators.sampling import leak_safe_split

    clusters = neardup_clusters(_t(spark, sf_dir, "documents"), threshold=0.1)
    return leak_safe_split(
        clusters.select("doc_id", "cluster_id"), valid_rate=0.25
    )


def q_mirror_hosts(spark, sf_dir):
    """Mirror-host detection over synthesized (host, text): hosts h0/h1
    hold the SAME content set keyed by doc_id//12 (full mirror,
    jaccard 1.0), h2/h3 hold half-overlapping 'semi' key ranges
    (candidate pair, below the 0.5 bar at sf0.01), h4-h7 carry ONLY a
    global boilerplate page (on 4 hosts > cap 3 — dropped, so they
    produce no pairs), h8-h11 unique docs. Exercises the hot-digest
    cap, both is_mirror verdicts, and pair absence."""
    from crawl_spark.operators.dedup import mirror_hosts

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    m = i % 12
    key = F.floor(i / 12).cast("long")
    lid = F.translate(key.cast("string"), "0123456789", "abcdefghij")
    text = (
        F.when(m < 2, F.concat(F.lit("mirror page "), lid))
        .when(m == 2, F.concat(F.lit("semi "), (key % 40).cast("string")))
        .when(m == 3, F.concat(F.lit("semi "), (key % 40 + 20).cast("string")))
        .when(m < 8, F.lit("global footer boilerplate"))
        .otherwise(
            F.concat(
                F.lit("solo "),
                F.translate(i.cast("string"), "0123456789", "abcdefghij"),
            )
        )
    )
    host = F.concat(F.lit("h"), m.cast("string"))
    return mirror_hosts(
        d.select(host.alias("host"), text.alias("text")),
        min_jaccard=0.5,
        max_hosts_per_digest=3,
    )


def q_datasheet(spark, sf_dir):
    """Corpus datasheet (Gopher tab. A1 / Dolma source-table role): one
    accounting row per (lang, source) stratum — docs / tokens / bytes /
    dup mass / corpus shares. Two partial-agg groupBys; text never
    shuffles; share denominators are one bounded driver read
    (operators/stats.corpus_datasheet)."""
    from crawl_spark.operators.stats import corpus_datasheet

    return corpus_datasheet(_t(spark, sf_dir, "documents"))


def q_epoch_mix(spark, sf_dir):
    """Fractional-epoch upsampling (GPT-3 tab. 2.2 / FineWeb-Edu data-mix
    role): en × 2.5 epochs, fr × 0.25, everything else × 1. The extra
    half-copy subset is the md5-bucket rule, replayed exactly by the
    DuckDB twin (sampling.epoch_mix — broadcast schedule + map-side
    explode, no shuffle)."""
    from crawl_spark.operators.sampling import epoch_mix

    return epoch_mix(
        _t(spark, sf_dir, "documents"), {"en": 2.5, "fr": 0.25}, default_epochs=1.0
    )


def q_canonical_dedup(spark, sf_dir):
    """Canonical-link alias folding over synthesized pages: docs 0-2 of
    every 10 declare a shared canonical target keyed doc_id//7
    (rel-first attr order), doc 3 declares it href-first with uppercase
    REL, doc 4 declares an empty href (self), the rest have no
    canonical. Exercises both regexp orders, case-insensitivity, the
    empty-href rule and the min-url survivor (dedup.canonical_dedup)."""
    from crawl_spark.operators.dedup import canonical_dedup

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    m = i % 10
    target = F.concat(
        F.lit("https://ex.com/c"), F.floor(i / 7).cast("long").cast("string")
    )
    html = (
        F.when(
            m <= 2,
            F.concat(
                F.lit('<head><link rel="canonical" href="'),
                target,
                F.lit('"/></head>'),
            ),
        )
        .when(
            m == 3,
            F.concat(
                F.lit("<head><link href='"),
                target,
                F.lit("' REL='CANONICAL'></head>"),
            ),
        )
        .when(m == 4, F.lit('<head><link rel="canonical" href=""></head>'))
        .otherwise(F.lit("<head><title>t</title></head>"))
    )
    url = F.concat(F.lit("https://ex.com/u"), i.cast("string"))
    return canonical_dedup(d.select(url.alias("url"), html.alias("html")))


def q_pr_priority(spark, sf_dir):
    """PageRank-ordered frontier tiers: q_pagerank's synthetic graph
    quantized into scheduler priorities by literal thresholds on the
    6-dp ranks (graph.pr_priority — pure projection, no shuffle; tier 0
    dequeues first under the engine FIFO key)."""
    from crawl_spark.operators.graph import pagerank, pr_priority

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    e = (
        d.select((i % 101).alias("src"), ((i * 31 + 7) % 101).alias("dst"))
        .union(d.select((i % 101).alias("src"), ((i * 13 + 3) % 101).alias("dst")))
        .union(
            d.filter(i % 5 == 0).select(
                (i % 101).alias("src"), F.lit(0).cast("long").alias("dst")
            )
        )
        .union(
            d.filter(i % 11 == 0).select(
                (i % 101).alias("src"), (i % 5 + 200).alias("dst")
            )
        )
    )
    return pr_priority(pagerank(e, iters=5), thresholds=(0.02, 0.01, 0.005))


def q_meta_robots(spark, sf_dir):
    """Page-level robots meta directives over synthesized pages: every
    8th-residue class exercises one rule — both attribute orders +
    case, content="none" implying both flags, explicit index/follow,
    no meta at all, token-boundary negatives (nonestandard/noindexing)
    and the name="googlebot" non-match (urlfilter.meta_robots_flags)."""
    from crawl_spark.operators.urlfilter import meta_robots_flags

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    m = i % 8
    html = (
        F.when(m == 0, F.lit('<meta name="robots" content="noindex, nofollow">'))
        .when(m == 1, F.lit("<META CONTENT='NOFOLLOW' NAME='ROBOTS'>"))
        .when(m == 2, F.lit('<meta name="robots" content="none">'))
        .when(m == 3, F.lit('<meta name="robots" content="index, follow">'))
        .when(m == 4, F.lit("<head><title>t</title></head>"))
        .when(m == 5, F.lit('<meta name="robots" content="nonestandard,noindexing">'))
        .when(m == 6, F.lit('<meta name="googlebot" content="noindex">'))
        .otherwise(F.lit("<meta name='robots' content='noindex'>"))
    )
    url = F.concat(F.lit("https://ex.com/u"), i.cast("string"))
    return meta_robots_flags(d.select(url.alias("url"), html.alias("html")))


def q_host_budget(spark, sf_dir):
    """Per-host crawl-budget planning over synthesized host-signal
    dimensions keyed doc_id%50: hosts 0-9 carry a trap verdict (true
    below 5), 10-19 a reputation verdict (keep on evens), 20-34 a
    priority tier (m%3), the rest no signals — exercises zeroing,
    both boost tiers, the 1x fall-through and every coalesce default
    (recrawl.host_budget)."""
    from crawl_spark.operators.recrawl import host_budget

    d = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 50
    host = F.concat(F.lit("h"), m.cast("string"))
    hosts = d.select(host.alias("host")).distinct()
    traps = (
        d.filter(m < 10)
        .select(host.alias("host"), (m < 5).alias("is_trap"))
        .distinct()
    )
    rep = (
        d.filter((m >= 10) & (m < 20))
        .select(host.alias("host"), (m % 2 == 0).alias("keep"))
        .distinct()
    )
    prio = (
        d.filter((m >= 20) & (m < 35))
        .select(host.alias("node"), (m % 3).cast("int").alias("priority"))
        .distinct()
    )
    return host_budget(
        hosts, base_budget=100, traps=traps, reputation=rep,
        priorities=prio, boost=(4, 2),
    )


def q_postings(spark, sf_dir):
    """Inverted-index postings export: per-term top-5 documents by term
    frequency (tf >= 2). Hot stopword terms span nearly every doc —
    textops.build_postings bounds them through grouped_topk's local
    prune instead of a per-term full-corpus window."""
    from crawl_spark.operators.textops import build_postings

    return build_postings(_t(spark, sf_dir, "documents"), k=5, min_tf=2)


# the BM25 query set shared by q_bm25 and its oracle (driver literals)
_BM25_QUERIES = [
    ("q_hash_join", "hash join"),
    ("q_window", "window agg spark"),
    ("q_scan", "slow scan filter"),
    ("q_mixed", "customer value data stream"),
]


def q_bm25(spark, sf_dir):
    """Okapi BM25 top-10 per query over the documents corpus: the
    ranking half of the search-index export (postings = the lists,
    this = the scores). Per-term contributions rounded 6dp then summed
    decimal-exact; ranking through grouped_topk (a stopword query
    matches nearly every doc — the hub shape)."""
    from crawl_spark.operators.search import bm25_topk

    return bm25_topk(_t(spark, sf_dir, "documents"), _BM25_QUERIES, k=10)


def _synth_edges(spark, sf_dir):
    """The shared synthetic link graph (same recipe as q_pagerank /
    q_hits): two affine edge families over hosts 0..100, a hub edge to
    host 0 from every 5th doc, sink edges to hosts 200..204."""
    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    return (
        d.select((i % 101).alias("src"), ((i * 31 + 7) % 101).alias("dst"))
        .union(d.select((i % 101).alias("src"), ((i * 13 + 3) % 101).alias("dst")))
        .union(
            d.filter(i % 5 == 0).select(
                (i % 101).alias("src"), F.lit(0).cast("long").alias("dst")
            )
        )
        .union(
            d.filter(i % 11 == 0).select(
                (i % 101).alias("src"), (i % 5 + 200).alias("dst")
            )
        )
    )


# the shared synthetic-edge recipe as DuckDB SQL (twin of _synth_edges)
_EDGES_SQL = """
  SELECT doc_id % 101 AS src, (doc_id * 31 + 7) % 101 AS dst FROM documents
  UNION ALL
  SELECT doc_id % 101, (doc_id * 13 + 3) % 101 FROM documents
  UNION ALL
  SELECT doc_id % 101, CAST(0 AS BIGINT) FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id % 101, doc_id % 5 + 200 FROM documents WHERE doc_id % 11 = 0
"""


def q_hop_distance(spark, sf_dir):
    """BFS hop count from a 3-node seed set over the shared synthetic
    link graph, max 4 hops — iterative frontier expansion with the
    engine's scan-probe membership shape; the oracle is a bounded
    recursive CTE (min hop per node)."""
    from crawl_spark.operators.graph import hop_distance

    seeds = spark.createDataFrame([(0,), (47,), (200,)], "node long")
    return hop_distance(_synth_edges(spark, sf_dir), seeds, max_hops=4)


def q_degree_stats(spark, sf_dir):
    """Per-node degree profile (out/in over distinct edges + the
    power-law log2 bucket) of the shared synthetic link graph — sink
    hosts 200..204 exercise the dangling (out_deg=0) side of the
    full-outer merge."""
    from crawl_spark.operators.graph import degree_stats

    return degree_stats(_synth_edges(spark, sf_dir))


def q_content_drift(spark, sf_dir):
    """Per-URL change-rate profile over a synthetic multi-capture
    history: docs fold onto 200 URLs (2-3 captures each, hourly-spaced
    unique timestamps); a URL's content flips once when its capture
    index crosses (url_key % 3) + 1, so some URLs change at capture 1,
    some at 2, some never — exercising the NULL est_interval_s path."""
    from crawl_spark.operators.recrawl import content_drift

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    key = i % 200
    ver = ((i - key) / 200).cast("long")  # capture index (exact: 200 | i-key)
    caps = d.select(
        F.concat(
            F.lit("https://host"), (key % 20).cast("string"),
            F.lit(".example/p/"), key.cast("string"),
        ).alias("url"),
        (F.lit(1600000000) + i * 3600).alias("warc_ts"),
        F.concat(
            F.lit("body-"), (key % 5).cast("string"),
            F.when(ver >= key % 3 + 1, F.lit("-changed")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return content_drift(caps)


def q_sitemap_gap(spark, sf_dir):
    """Per-host sitemap-vs-crawl coverage: declared URLs fold onto
    /p/{doc_id % 300} (20 | 300, so the host assignment is consistent),
    crawled URLs are /p/{doc_id} for doc_id % 3 != 0 plus undeclared
    /q/{doc_id} discoveries for doc_id % 7 == 0. Spark extracts hosts
    with the real host_expr regex; the oracle derives them
    arithmetically."""
    from crawl_spark.operators.stats import sitemap_coverage

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    declared = d.select(
        F.concat(
            F.lit("https://host"), ((i % 300) % 20).cast("string"),
            F.lit(".example/p/"), (i % 300).cast("string"),
        ).alias("loc")
    )
    crawled = d.filter(i % 3 != 0).select(
        F.concat(
            F.lit("https://host"), (i % 20).cast("string"),
            F.lit(".example/p/"), i.cast("string"),
        ).alias("url")
    ).union(
        d.filter(i % 7 == 0).select(
            F.concat(
                F.lit("https://host"), (i % 20).cast("string"),
                F.lit(".example/q/"), i.cast("string"),
            ).alias("url")
        )
    )
    return sitemap_coverage(declared, crawled)


def q_lsh_recall(spark, sf_dir):
    """MinHash-LSH eval harness: recall/precision of the banded
    candidate generator against the exact all-pairs shingle-Jaccard
    truth at threshold 0.1 (the fixture's near-dup range) — one summary
    row, the measured counterpart of suggest_lsh_bands' S-curve."""
    from crawl_spark.operators.dedup import lsh_recall

    return lsh_recall(_t(spark, sf_dir, "documents"), threshold=0.1)


def q_ann_recall(spark, sf_dir):
    """ANN eval harness: recall@10 of the IVF path (same parameters as
    q_ivf_topk: default codebook, nprobe=2) against exact brute force,
    one row per query — the number an ANN deployment tunes against."""
    from crawl_spark.operators.similarity import ann_recall

    v = _t(spark, sf_dir, "embeddings")
    return ann_recall(v, v.filter(F.col("vec_id") < 8), k=10, nprobe=2)


def q_embed_dim_stats(spark, sf_dir):
    """Per-dimension embedding distribution profile (mean/var/min/max,
    decimal-exact sums) — the PQ/shortlist diagnostic."""
    from crawl_spark.operators.similarity import embed_dim_stats

    return embed_dim_stats(_t(spark, sf_dir, "embeddings"))


def q_asset_filter(spark, sf_dir):
    """Fetch-worthiness classification over synthetic URLs cycling 10
    extension cases (page/asset kinds, extension-less paths, dotted
    directory segments, query strings after the extension)."""
    from crawl_spark.operators.urlfilter import classify_asset_urls

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    exts = F.array(*[F.lit(x) for x in (
        "html", "png", "css", "js", "pdf", "zip", "mp4", "woff2", "", "php",
    )])
    ext = F.element_at(exts, (i % 10 + 1).cast("int"))
    path = F.when(i % 13 == 0, F.concat(F.lit("a.b/c"), i.cast("string"))).otherwise(
        F.when(ext == "", F.concat(F.lit("p"), i.cast("string"))).otherwise(
            F.concat(F.lit("p"), i.cast("string"), F.lit("."), ext)
        )
    )
    url = F.concat(
        F.lit("https://host"), (i % 20).cast("string"), F.lit(".example/"),
        path,
        F.when(i % 4 == 0, F.lit("?a=1&b=2")).otherwise(F.lit("")),
    )
    return classify_asset_urls(d.select(url.alias("url")))


def q_redirects(spark, sf_dir):
    """Redirect-chain resolution (pointer doubling) over synthetic 3xx
    edges: decade chains (9->8->...->0, terminals at multiples of 10),
    a 3-node loop at 5000..5002 and a chain feeding into it — loops
    and their feeders come back resolved=false."""
    from crawl_spark.operators.graph import resolve_redirects

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    chain = d.filter((i % 1000) % 10 != 0).select(
        (i % 1000).alias("src"), (i % 1000 - 1).alias("dst")
    )
    cyc = d.select(
        (F.lit(5000) + i % 3).alias("src"),
        (F.lit(5000) + (i % 3 + 1) % 3).alias("dst"),
    )
    into = d.filter(i % 500 == 0).select(
        F.lit(4999).cast("long").alias("src"), F.lit(5000).cast("long").alias("dst")
    )
    return resolve_redirects(chain.union(cyc).union(into), max_chain=16)


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization of the events stream (30-min gap, the
    telemetry default): one shuffle on entity, per-entity bounded
    windows, exact integer-microsecond boundaries."""
    from crawl_spark.operators.sessions import sessionize

    return sessionize(_t(spark, sf_dir, "events"), gap_s=1800)


def q_error_streaks(spark, sf_dir):
    """Consecutive-error streak profile per entity over the events
    stream — the backoff/circuit-breaker input (max run of 'error'
    events, whether the entity is currently failing)."""
    from crawl_spark.operators.sessions import error_streaks

    return error_streaks(_t(spark, sf_dir, "events"))


_ROBOTS_WILDCARD_RULES = [
    ("h0.example", "/dir0", 0),
    ("h0.example", "/dir0/page1", 1),
    ("h0.example", "/*.php$", 0),
    ("h0.example", "/dir1/page3$", 0),
    ("h0.example", "/dir2/page5.php", 1),  # equal specificity fights *.php
    ("h1.example", "/", 0),
    ("h1.example", "/dir2*", 1),
]


def q_neighborhood_fn(spark, sf_dir):
    """HyperBall neighborhood function (`graph.neighborhood_function`,
    Boldi & Vigna 2013): N(t) = Σ|B(v,t)| for every node at once from
    one 256-register HLL sketch per node — the approximate-scale
    companion of `hop_distance` (exact all-pairs BFS is O(n·E)). The
    loop is ENTIRELY JVM partial aggregates (sparse (node, idx, rho)
    rows, join + MAX per iteration); per-t totals are round-6 DECIMAL
    sums, so the DuckDB oracle replays the whole 3-iteration curve
    bit for bit via unrolled join+MAX CTE stages."""
    from crawl_spark.operators.graph import neighborhood_function

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    edges = d.select(
        (i % 97).alias("src"), ((i * 7 + 3) % 97).alias("dst")
    ).unionByName(
        d.select((i % 50).alias("src"), ((i + 1) % 50).alias("dst"))
    )
    return neighborhood_function(edges, max_t=3, rel_tol=0.0)


def q_theta_overlap(spark, sf_dir):
    """KMV/theta intersection (`operators/theta.py`) — the
    set-operation arm of the sketch family: campaign-overlap
    cardinality per language, which HLL's MAX-merge cannot answer
    (unions only). Two synthesized url sets with a known 1/3 overlap;
    contract scale sits in the exact regime (both sketches
    unsaturated, θ=1), where the estimate IS the exact overlap and
    plain SQL replays every step (bottom-k via row_number, identical
    md5 hv integers, identical θ rule); the saturated estimator's
    error bounds are pytest-pinned (tests/test_theta.py)."""
    from crawl_spark.operators.theta import theta_intersect, theta_sketch

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    a = d.select(
        F.col("lang"),
        F.concat(F.lit("https://p/"), (i % 300).cast("string")).alias("url"),
    )
    b = d.select(
        F.col("lang"),
        F.concat(F.lit("https://p/"), (i % 300 + 200).cast("string"))
        .alias("url"),
    )
    ka = theta_sketch(a, "url", ("lang",), k=4096)
    kb = theta_sketch(b, "url", ("lang",), k=4096)
    return theta_intersect(ka, kb, ("lang",), k=4096)


def q_harmonic(spark, sf_dir):
    """Harmonic centrality via HyperBall (`graph.harmonic_centrality`,
    Boldi & Vigna's axiomatically-preferred importance measure):
    H(v) = Σ 1/d(u,v) estimated for every node from the same
    256-register sketches as `neighborhood_fn` — the crawl-priority
    signal exact all-pairs distances can't deliver at 10^10 nodes.
    The per-round difference quotients accumulate in a fixed-order
    left-associated double sum the unrolled DuckDB oracle writes out
    verbatim, so the whole centrality column hash-matches."""
    from crawl_spark.operators.graph import harmonic_centrality

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    edges = d.select(
        (i % 97).alias("src"), ((i * 7 + 3) % 97).alias("dst")
    ).unionByName(
        d.select((i % 50).alias("src"), ((i + 1) % 50).alias("dst"))
    )
    return harmonic_centrality(edges, max_t=3)


def q_mg_hosts(spark, sf_dir):
    """Misra-Gries frequent-items summary (`operators/freq.py`) — the
    frequency arm of the sketch family (KLL quantiles / HLL
    cardinality / MG heavy hitters): ≤ k counters per stratum with an
    exactly-tracked error interval, mergeable across rounds. Contract
    scale fits untruncated (the KLL exact-regime trick), where counts
    are EXACT and err = 0, so plain SQL GROUP BY replays it bit for
    bit; `require_exact=True` turns a regen-driven regime drift into a
    named failure. The truncating regime's interval/presence
    guarantees are pytest-pinned (tests/test_freq.py)."""
    from crawl_spark.operators.freq import mg_topk

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    ev = d.select(
        F.col("lang"),
        F.concat(
            F.lit("h"), (i % 37).cast("string"), F.lit(".example")
        ).alias("host"),
    )
    return mg_topk(ev, "host", ("lang",), require_exact=True)


def q_robots_wildcard(spark, sf_dir):
    """RFC 9309 wildcard robots matching (`urlfilter.robots_verdicts`):
    '*' spans octets, trailing '$' anchors, longest pattern wins with
    Allow beating Disallow on ties — the googlebot/robots.cc
    precedence contract, the stricter matcher beyond the engine's
    pinned prefix semantics. Rules fold to one broadcast array per
    host; the URL side never shuffles. Matching is LIKE compiled with
    pure string ops on both engines, so the oracle replays verdicts
    exactly (incl. the anchored and literal-metachar branches)."""
    from crawl_spark.operators.urlfilter import robots_verdicts

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    urls = d.select(
        F.concat(F.lit("h"), (i % 2).cast("string"), F.lit(".example"))
        .alias("host"),
        F.concat(
            F.lit("/dir"), (i % 5).cast("string"),
            F.lit("/page"), (i % 11).cast("string"),
            F.when(i % 3 == 0, F.lit(".php"))
            .when(i % 3 == 1, F.lit("/"))
            .otherwise(F.lit("")),
        ).alias("path"),
    )
    rules = spark.createDataFrame(
        _ROBOTS_WILDCARD_RULES, "host string, pattern string, allow int"
    )
    return robots_verdicts(urls, rules)


def q_host_policy(spark, sf_dir):
    """Adaptive per-host politeness controller
    (`sessions.host_policy`): telemetry window in → next-epoch
    (delay_ms, concurrency) per host out. Trailing-error streak drives
    capped exponential backoff, robots crawl-delay and the base floor
    compose through an explicitly-coalesced GREATEST (Spark's greatest
    skips nulls), and concurrency scales to measured p95 latency via
    the exact percentile ≡ quantile_cont pairing — the whole policy
    row hash-matches DuckDB."""
    from crawl_spark.operators.sessions import host_policy

    ev = _t(spark, sf_dir, "events")
    robots = (
        ev.select("user_id")
        .distinct()
        .where(F.col("user_id") % 3 == 0)
        .select(
            F.col("user_id").alias("entity"),
            (F.lit(1500) + F.col("user_id") * 10).alias("robots_delay_ms"),
        )
    )
    return host_policy(ev, robots=robots)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "fifo_batch": q_fifo_batch,
        "politeness_rank": q_politeness_rank,
        "seen_antijoin": q_seen_antijoin,
        "fetch_join": q_fetch_join,
        "glob_route": q_glob_route,
        "round_counters": q_round_counters,
        "deadline_expire": q_deadline_expire,
        "priority_topk": q_priority_topk,
        "seq_stamp": q_seq_stamp,
        "host_skew": q_host_skew,
        "url_canonicalize": q_url_canonicalize,
        "request_construct": q_request_construct,
        "dedup_exact": q_dedup_exact,
        "block_dedup": q_block_dedup,
        "repeated_spans": q_repeated_spans,
        "pq_encode": q_pq_encode,
        "pq_topk": q_pq_topk,
        "ivf_pq": q_ivf_pq,
        "minhash_bands": q_minhash_bands,
        "minhash_pairs": q_minhash_pairs,
        "ngram_jaccard": q_ngram_jaccard,
        "simhash": q_simhash,
        "neardup_clusters": q_neardup_clusters,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "token_count": q_token_count,
        "vocabulary": q_vocabulary,
        "tfidf": q_tfidf,
        "clean_corpus": q_clean_corpus,
        "fingerprint": q_fingerprint,
        "pii_scrub": q_pii_scrub,
        "gopher_repetition": q_gopher_repetition,
        "gopher_quality": q_gopher_quality,
        "c4_clean": q_c4_clean,
        "span_dedup": q_span_dedup,
        "url_strip": q_url_strip,
        "main_content": q_main_content,  # rows-only: HTML parsing not ANSI-SQL
        "fix_encoding": q_fix_encoding,  # rows-only: no Latin-1 codec in DuckDB
        "line_dedup": q_line_dedup,
        "hash_sample": q_hash_sample,
        "domain_quota": q_domain_quota,
        "domain_mix": q_domain_mix,
        "contamination": q_contamination,
        "pack_sequences": q_pack_sequences,
        "shuffle_order": q_shuffle_order,
        "bpe_merges": q_bpe_merges,  # rows-only: iterative merge loop not ANSI-SQL
        "zlib_ratio": q_zlib_ratio,  # rows-only: DuckDB has no zlib

        "shard_stats": q_shard_stats,
        "nb_classify": q_nb_classify,
        "nfc_dedup": q_nfc_dedup,
        "lm_buckets": q_lm_buckets,
        "token_entropy": q_token_entropy,
        "pagerank": q_pagerank,
        "trustrank": q_trustrank,
        "hits": q_hits,
        "host_graph": q_host_graph,
        "connected_components": q_connected_components,
        "cc_star": q_cc_star,
        "sitemap": q_sitemap,
        "wet_export": q_wet_export,
        "wat_export": q_wat_export,
        "wat_links": q_wat_links,
        "cdx_index": q_cdx_index,
        "cdx_lookup": q_cdx_lookup,
        "cdx_collapse": q_cdx_collapse,
        "cdx_revisit": q_cdx_revisit,
        "score_quantiles": q_score_quantiles,
        "kll_quantiles": q_kll_quantiles,
        "hll_distinct": q_hll_distinct,
        "weighted_sample": q_weighted_sample,
        "recrawl": q_recrawl,
        "anchor_topk": q_anchor_topk,
        "latest_capture": q_latest_capture,
        "metrics_rollup": q_metrics_rollup,
        "decontaminate": q_decontaminate,
        "decontaminate_bloom": q_decontaminate_bloom,
        "url_filter": q_url_filter,
        "cosine_topk": q_cosine_topk,
        "ivf_assign": q_ivf_assign,
        "ivf_train": q_ivf_train,
        "ivf_topk": q_ivf_topk,
        "embed_neardup": q_embed_neardup,
        "semdedup": q_semdedup,
        "dsir_score": q_dsir_score,
        "cdc_dedup": q_cdc_dedup,  # rows-only: boundary walk pinned by the Python twin
        "curate": q_curate,
        "lm_score": q_lm_score,
        "signbit_buckets": q_signbit_buckets,
        "signbit_neardup": q_signbit_neardup,
        "multimodal_meta": q_multimodal_meta,  # rows-only: binary plumbing
        "image_hashes": q_image_hashes,  # rows-only: Python PNG decode
        "audio_features": q_audio_features,  # rows-only: Python WAV decode
        "image_neardup": q_image_neardup,
        "video_demux": q_video_demux,
        "trap_detect": q_trap_detect,
        "url_templates": q_url_templates,
        "param_stats": q_param_stats,
        "domain_reputation": q_domain_reputation,
        "ccnet_dedup": q_ccnet_dedup,
        "incremental_dedup": q_incremental_dedup,
        "leak_split": q_leak_split,
        "mirror_hosts": q_mirror_hosts,
        "datasheet": q_datasheet,
        "epoch_mix": q_epoch_mix,
        "canonical_dedup": q_canonical_dedup,
        "pr_priority": q_pr_priority,
        "meta_robots": q_meta_robots,
        "host_budget": q_host_budget,
        "postings": q_postings,
        "bm25": q_bm25,
        "hop_distance": q_hop_distance,
        "degree_stats": q_degree_stats,
        "content_drift": q_content_drift,
        "sitemap_gap": q_sitemap_gap,
        "sessionize": q_sessionize,
        "error_streaks": q_error_streaks,
        "host_policy": q_host_policy,
        "robots_wildcard": q_robots_wildcard,
        "mg_hosts": q_mg_hosts,
        "neighborhood_fn": q_neighborhood_fn,
        "harmonic": q_harmonic,
        "theta_overlap": q_theta_overlap,
        "asset_filter": q_asset_filter,
        "redirects": q_redirects,
        "ann_recall": q_ann_recall,
        "embed_dim_stats": q_embed_dim_stats,
        "lsh_recall": q_lsh_recall,
        "crawl_flagship": flagship_crawl,  # no oracle: round-loop, not ANSI SQL
    }


# ---------------------------------------------------------------------------
# DuckDB oracle SQL — shared fragments mirror crawl_spark/operators exactly

_TOKS = r"list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')"

# PII regexes: the SAME literals the Spark side compiles (imported, not
# copied — textops restricts them to the Java-regex ∩ RE2 common dialect)
from crawl_spark.operators.textops import (  # noqa: E402
    PII_EMAIL_RE as _PII_EMAIL,
    PII_IPV4_RE as _PII_IPV4,
    PII_PHONE_RE as _PII_PHONE,
    score_quantiles_oracle_sql,
)
from crawl_spark.operators.sketch import kll_quantiles_oracle_sql  # noqa: E402
from crawl_spark.operators.hll import hll_distinct_oracle_sql  # noqa: E402
from crawl_spark.operators.sampling import (  # noqa: E402
    weighted_sample_oracle_sql,
)

# 2-token re-lining (the \1 backref is RE2 rewrite syntax; the Spark twin
# uses $1 — same replacement, dialect-local spelling)
_RELINED = r"regexp_replace(text, '(\S+ \S+) ', '\1' || chr(10), 'g')"

_SHINGLES = (
    "CASE WHEN len(t) >= 3 THEN "
    "list_transform(range(0, len(t)-2), i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]) "
    "ELSE CAST([] AS VARCHAR[]) END"
)

_MINHASH_K = 12
_SIG_COMPONENTS = ",\n    ".join(
    f"list_aggregate(list_transform(s, x -> md5('{j}:' || x)), 'min')"
    for j in range(_MINHASH_K)
)
_BAND_SELECTS = "\nUNION ALL\n".join(
    f"SELECT doc_id, {b} AS band, md5(concat_ws('|', '{b}', mh[{b*3+1}], mh[{b*3+2}], mh[{b*3+3}])) AS band_key FROM sig"
    for b in range(4)
)

_MINHASH_CTES = f"""
tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh AS (SELECT doc_id, list_distinct({_SHINGLES}) AS s FROM tk),
sig AS (SELECT doc_id, [{_SIG_COMPONENTS}] AS mh FROM sh WHERE len(s) > 0),
bands AS ({_BAND_SELECTS})
"""

# LSH candidates → Jaccard-verified pairs (threshold 0.1) → transitive
# closure → (doc_id, cluster_id). ONE point of truth for the pair graph
# + clustering: both the neardup_clusters and leak_split oracles consume
# it, so they cannot drift apart about the same clusters. Appended after
# _MINHASH_CTES inside a WITH RECURSIVE.
_NEARDUP_CC_CTES = """
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
shx AS (SELECT doc_id, unnest(s) AS g FROM sh),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shx GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM cand c
  JOIN shx x ON x.doc_id = c.id_a
  JOIN shx y ON y.doc_id = c.id_b AND y.g = x.g
  GROUP BY 1, 2
),
pairs AS (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN sizes na ON na.doc_id = i.id_a
  JOIN sizes nb ON nb.doc_id = i.id_b
  WHERE round(i.n_inter / (na.n + nb.n - i.n_inter), 6) >= 0.1
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(node, lbl) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.lbl
),
comp AS (SELECT node, least(node, min(lbl)) AS cluster_id FROM reach GROUP BY node),
lab AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
)
"""

_COSINE_CTES = """
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
n AS (SELECT vec_id, e,
        list_sum(list_transform(range(1, len(e)+1), i -> e[i]*e[i])) AS nn
      FROM v)
"""

# Shared by the embed_neardup and semdedup oracles (one point of truth
# for the IVF assignment tie-break and the pair cosine threshold — the
# two programs MUST agree about the same pair graph).
_NEARDUP_ASSIGN_CTES = """
cents AS (SELECT vec_id AS centroid_id, e AS ce, nn AS cnn FROM n WHERE vec_id % 41 = 0),
assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT v.vec_id, c.centroid_id,
           round(list_sum(list_transform(range(1, len(v.e)+1), i -> v.e[i]*c.ce[i]))
                 / (sqrt(v.nn) * sqrt(c.cnn)), 6) AS cos,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY round(list_sum(list_transform(range(1, len(v.e)+1), i -> v.e[i]*c.ce[i]))
                                             / (sqrt(v.nn) * sqrt(c.cnn)), 6) DESC, c.centroid_id) AS rn
    FROM n v, cents c
  ) WHERE rn = 1
)"""

_NEARDUP_PAIRS_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_sum(list_transform(range(1, len(x.e)+1), i -> x.e[i]*y.e[i]))
             / (sqrt(x.nn) * sqrt(y.nn)), 6) AS cos
FROM assign a JOIN assign b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
JOIN n x ON x.vec_id = a.vec_id
JOIN n y ON y.vec_id = b.vec_id
WHERE round(list_sum(list_transform(range(1, len(x.e)+1), i -> x.e[i]*y.e[i]))
            / (sqrt(x.nn) * sqrt(y.nn)), 6) >= 0.25"""

_LANGS_SQL = {
    "de": "['der','die','das','und','nicht','ist','ein','zu']",
    "en": "['the','a','of','and','to','in','is','value','data','fast']",
    "es": "['el','la','los','y','de','un','una','es']",
    "fr": "['le','la','les','et','des','un','une','est']",
    "pl": "['nie','to','się','jest','na','i','z','do']",
}


def oracle_sql() -> dict[str, str]:
    from crawl_spark.operators.graph import (
        connected_components_oracle_sql,
        hits_oracle_sql,
        pagerank_oracle_sql,
        trustrank_oracle_sql,
    )

    score_cols = ", ".join(
        f"len(list_intersect(t, {arr})) AS s_{lang}" for lang, arr in _LANGS_SQL.items()
    )
    best = "greatest(" + ", ".join(f"s_{l}" for l in _LANGS_SQL) + ")"
    pred_cases = " ".join(f"WHEN s_{l} = best THEN '{l}'" for l in sorted(_LANGS_SQL))
    # variant with the greatest() expression inlined (no `best` alias in scope)
    pred_cases_b = " ".join(f"WHEN s_{l} = {best} THEN '{l}'" for l in sorted(_LANGS_SQL))

    sql = {
        "fifo_batch": """
WITH batch AS (SELECT * FROM events ORDER BY ts, event_id LIMIT 500)
SELECT CAST(row_number() OVER (ORDER BY ts, event_id) AS INT) AS batch_pos,
       event_id, user_id
FROM batch
""",
        "politeness_rank": """
SELECT host, host_rank, event_id FROM (
  SELECT user_id % 53 AS host,
         CAST(row_number() OVER (PARTITION BY user_id % 53 ORDER BY ts, event_id) AS INT) AS host_rank,
         event_id
  FROM events
) WHERE host_rank <= 5
""",
        "seen_antijoin": """
SELECT event_id, user_id FROM events
WHERE user_id NOT IN (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' AND value > 200.0
)
""",
        "fetch_join": """
SELECT e.event_id, e.user_id,
       CASE WHEN c.c_custkey IS NULL THEN 0 ELSE 1 END AS hit
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
""",
        "glob_route": """
SELECT doc_id, 'h_src1' AS handler FROM documents WHERE regexp_matches(source, '^src1')
UNION ALL
SELECT doc_id, 'h_even' AS handler FROM documents WHERE regexp_matches(source, '^src[0-9]*[02468]$')
""",
        "round_counters": """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events GROUP BY event_type
""",
        "deadline_expire": """
SELECT CASE WHEN ts <= TIMESTAMP '2024-06-01 00:00:00' THEN 'expired' ELSE 'live' END AS state,
       event_type, CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY 1, 2
""",
        "priority_topk": """
SELECT o_orderpriority, rank, o_orderkey, o_totalprice FROM (
  SELECT o_orderpriority,
         CAST(row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rank,
         o_orderkey, o_totalprice
  FROM orders
) WHERE rank <= 3
""",
        "seq_stamp": """
SELECT l_orderkey, l_linenumber,
       CAST(row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS INT) AS seq
FROM lineitem
""",
        "host_skew": """
SELECT host, n, CAST(ceil(n / 500) AS BIGINT) AS salt FROM (
  SELECT user_id % 13 AS host, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1
) WHERE n >= 300
""",
        "url_canonicalize": """
SELECT doc_id,
       'http://host' || CAST(doc_id % 20 AS VARCHAR) || '.example/p/' || CAST(doc_id AS VARCHAR)
         || CASE WHEN doc_id % 4 = 3 THEN '?q=1' ELSE '' END AS url_canon,
       'host' || CAST(doc_id % 20 AS VARCHAR) || '.example' AS host
FROM documents
""",
        "request_construct": """
SELECT 'http://api.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
       CASE WHEN doc_id % 3 = 2 THEN 'PUT'
            WHEN doc_id % 3 = 0 THEN 'POST'
            ELSE 'GET' END AS eff_method,
       CASE WHEN doc_id % 3 = 1
            THEN 'http://api.example/doc/' || CAST(doc_id AS VARCHAR) || '?lang=' || lang
            ELSE 'http://api.example/doc/' || CAST(doc_id AS VARCHAR) END AS eff_url,
       CASE WHEN doc_id % 3 = 0 THEN 'b=1&b=2&src=' || source
            ELSE NULL END AS body
FROM documents
""",
        "dedup_exact": f"""
WITH tk AS (SELECT doc_id, md5(list_aggregate({_TOKS}, 'string_agg', ' ')) AS content_md5 FROM documents)
SELECT doc_id, content_md5, n_copies FROM (
  SELECT doc_id, content_md5,
         CAST(row_number() OVER (PARTITION BY content_md5 ORDER BY doc_id) AS INT) AS rn,
         CAST(count(*) OVER (PARTITION BY content_md5) AS BIGINT) AS n_copies
  FROM tk
) WHERE rn = 1
""",
        "tfidf": f"""
WITH tkn AS (SELECT doc_id, {_TOKS} AS t FROM documents),
tok AS (SELECT doc_id, unnest(t) AS token FROM tkn),
tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, token),
dfq AS (SELECT token, count(*) AS dfreq FROM tf GROUP BY token),
nn AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf,
         round(tf.tf * (ln((nn.n + 1) / (dfq.dfreq + 1)) + 1), 6) AS tfidf
  FROM tf JOIN dfq USING (token) CROSS JOIN nn
)
SELECT doc_id, rank, token, tf, tfidf FROM (
  SELECT doc_id, token, tf, tfidf,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS INT) AS rank
  FROM scored
) WHERE rank <= 5
""",
        "block_dedup": f"""
WITH tkn AS (SELECT doc_id, {_TOKS} AS t FROM documents),
tok AS (SELECT doc_id, unnest(t) AS tk, unnest(range(0, len(t))) AS pos FROM tkn),
blk AS (
  SELECT doc_id, CAST(floor(pos / 16) AS INT) AS blk,
         md5(string_agg(tk, ' ' ORDER BY pos)) AS chunk_md5
  FROM tok GROUP BY doc_id, blk
),
flagged AS (
  SELECT doc_id, blk, chunk_md5,
         row_number() OVER (PARTITION BY chunk_md5 ORDER BY doc_id, blk) AS rn
  FROM blk
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(count(CASE WHEN rn = 1 THEN 1 END) AS BIGINT) AS n_kept,
       round(CAST(count(CASE WHEN rn = 1 THEN 1 END) AS DOUBLE) / count(*), 6) AS kept_ratio
FROM flagged GROUP BY doc_id
""",
        "repeated_spans": f"""
WITH tkn AS (SELECT doc_id, {_TOKS} AS t FROM documents),
win AS (
  SELECT doc_id, CAST(u.p AS INT) AS p,
         md5(array_to_string(t[CAST(u.p AS INT)+1:CAST(u.p AS INT)+15], ' ')) AS h
  FROM tkn, unnest(range(0, greatest(len(t)-15+1, 0))) AS u(p)
),
rep AS (SELECT h FROM win GROUP BY h HAVING count(*) >= 2),
rs AS (SELECT w.doc_id, w.p FROM win w JOIN rep USING (h)),
isl AS (
  SELECT doc_id, p,
         CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= 15
              THEN 0 ELSE 1 END AS new_span
  FROM rs
),
grp AS (
  SELECT doc_id, p,
         sum(new_span) OVER (PARTITION BY doc_id ORDER BY p) AS span_id
  FROM isl
),
spans AS (
  SELECT doc_id, span_id, max(p) - min(p) + 15 AS span_len
  FROM grp GROUP BY doc_id, span_id
),
per_doc AS (
  SELECT doc_id, sum(span_len) AS n_covered, count(*) AS n_spans
  FROM spans GROUP BY doc_id
)
SELECT tkn.doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(coalesce(per_doc.n_covered, 0) AS BIGINT) AS n_covered,
       CAST(coalesce(per_doc.n_spans, 0) AS BIGINT) AS n_spans,
       CASE WHEN len(t) > 0
            THEN round(coalesce(per_doc.n_covered, 0) / CAST(len(t) AS DOUBLE), 6)
            ELSE 0.0 END AS dup_ratio
FROM tkn LEFT JOIN per_doc USING (doc_id)
""",
        "pq_encode": """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
cbbase AS (
  SELECT v, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code
  FROM e ORDER BY vec_id LIMIT 16
),
cb AS (
  SELECT CAST(u.j AS INT) AS subspace, code,
         v[CAST(u.j AS INT)*8+1 : CAST(u.j AS INT)*8+8] AS cv
  FROM cbbase, unnest(range(0, 8)) AS u(j)
),
sub AS (
  SELECT vec_id, CAST(u.j AS INT) AS subspace,
         v[CAST(u.j AS INT)*8+1 : CAST(u.j AS INT)*8+8] AS sv
  FROM e, unnest(range(0, 8)) AS u(j)
),
d AS (
  SELECT s.vec_id, s.subspace, cb.code,
         CAST(round(list_sum(list_transform(range(1, 9),
               i -> (s.sv[i]-cb.cv[i])*(s.sv[i]-cb.cv[i]))) * 1e6) AS BIGINT) AS dm
  FROM sub s JOIN cb USING (subspace)
),
picked AS (
  SELECT vec_id, subspace, code,
         row_number() OVER (PARTITION BY vec_id, subspace ORDER BY dm, code) AS rn
  FROM d
)
SELECT vec_id, subspace, code FROM picked WHERE rn = 1
""",
        "pq_topk": """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
cbbase AS (
  SELECT v, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code
  FROM e ORDER BY vec_id LIMIT 16
),
cb AS (
  SELECT CAST(u.j AS INT) AS subspace, code,
         v[CAST(u.j AS INT)*8+1 : CAST(u.j AS INT)*8+8] AS cv
  FROM cbbase, unnest(range(0, 8)) AS u(j)
),
sub AS (
  SELECT vec_id, CAST(u.j AS INT) AS subspace,
         v[CAST(u.j AS INT)*8+1 : CAST(u.j AS INT)*8+8] AS sv
  FROM e, unnest(range(0, 8)) AS u(j)
),
d AS (
  SELECT s.vec_id, s.subspace, cb.code,
         CAST(round(list_sum(list_transform(range(1, 9),
               i -> (s.sv[i]-cb.cv[i])*(s.sv[i]-cb.cv[i]))) * 1e6) AS BIGINT) AS dm
  FROM sub s JOIN cb USING (subspace)
),
codes AS (
  SELECT vec_id, subspace, code FROM (
    SELECT vec_id, subspace, code,
           row_number() OVER (PARTITION BY vec_id, subspace ORDER BY dm, code) AS rn
    FROM d
  ) WHERE rn = 1
),
dt AS (SELECT vec_id AS query_id, subspace, code, dm FROM d WHERE vec_id < 8),
adc AS (
  SELECT dt.query_id, c.vec_id AS nbr_id, SUM(dt.dm) AS am
  FROM codes c JOIN dt ON dt.subspace = c.subspace AND dt.code = c.code
  WHERE c.vec_id <> dt.query_id
  GROUP BY 1, 2
)
SELECT query_id, rank, nbr_id, adc_d2 FROM (
  SELECT query_id, nbr_id, am / 1e6 AS adc_d2,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY am, nbr_id) AS INT) AS rank
  FROM adc
) WHERE rank <= 10
""",
        "ivf_pq": f"""
WITH {_COSINE_CTES},
cents AS (SELECT vec_id AS centroid_id, e AS ce, nn AS cnn FROM n WHERE vec_id % 41 = 0),
assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT v.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY round(list_sum(list_transform(range(1, len(v.e)+1), i -> v.e[i]*c.ce[i]))
                                             / (sqrt(v.nn) * sqrt(c.cnn)), 6) DESC, c.centroid_id) AS rn
    FROM n v, cents c
  ) WHERE rn = 1
),
probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.vec_id AS query_id, c.centroid_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY round(list_sum(list_transform(range(1, len(q.e)+1), i -> q.e[i]*c.ce[i]))
                                             / (sqrt(q.nn) * sqrt(c.cnn)), 6) DESC, c.centroid_id) AS rn
    FROM n q, cents c WHERE q.vec_id < 8
  ) WHERE rn <= 2
),
cbbase AS (
  SELECT e AS bv, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code
  FROM n ORDER BY vec_id LIMIT 16
),
cb AS (
  SELECT CAST(u.j AS INT) AS subspace, code,
         bv[CAST(u.j AS INT)*8+1 : CAST(u.j AS INT)*8+8] AS cv
  FROM cbbase, unnest(range(0, 8)) AS u(j)
),
sub AS (
  SELECT vec_id, CAST(u.j AS INT) AS subspace,
         e[CAST(u.j AS INT)*8+1 : CAST(u.j AS INT)*8+8] AS sv
  FROM n, unnest(range(0, 8)) AS u(j)
),
dd AS (
  SELECT s.vec_id, s.subspace, cb.code,
         CAST(round(list_sum(list_transform(range(1, 9),
               i -> (s.sv[i]-cb.cv[i])*(s.sv[i]-cb.cv[i]))) * 1e6) AS BIGINT) AS dm
  FROM sub s JOIN cb USING (subspace)
),
codes AS (
  SELECT vec_id, subspace, code FROM (
    SELECT vec_id, subspace, code,
           row_number() OVER (PARTITION BY vec_id, subspace ORDER BY dm, code) AS rn
    FROM dd
  ) WHERE rn = 1
),
adc AS (
  SELECT p.query_id, a.vec_id AS nbr_id, SUM(dt.dm) AS am
  FROM probes p
  JOIN assign a ON a.centroid_id = p.centroid_id
  JOIN codes c ON c.vec_id = a.vec_id
  JOIN dd dt ON dt.vec_id = p.query_id AND dt.subspace = c.subspace AND dt.code = c.code
  WHERE a.vec_id <> p.query_id
  GROUP BY 1, 2
)
SELECT query_id, rank, nbr_id, adc_d2 FROM (
  SELECT query_id, nbr_id, am / 1e6 AS adc_d2,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY am, nbr_id) AS INT) AS rank
  FROM adc
) WHERE rank <= 10
""",
        "minhash_bands": f"""
WITH {_MINHASH_CTES}
SELECT doc_id, band, band_key FROM bands
""",
        "minhash_pairs": f"""
WITH {_MINHASH_CTES}
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
""",
        "ngram_jaccard": f"""
WITH {_MINHASH_CTES},
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
shx AS (SELECT doc_id, unnest(s) AS g FROM sh),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shx GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM cand c
  JOIN shx x ON x.doc_id = c.id_a
  JOIN shx y ON y.doc_id = c.id_b AND y.g = x.g
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       round(i.n_inter / (na.n + nb.n - i.n_inter), 6) AS jaccard
FROM inter i
JOIN sizes na ON na.doc_id = i.id_a
JOIN sizes nb ON nb.doc_id = i.id_b
WHERE round(i.n_inter / (na.n + nb.n - i.n_inter), 6) >= 0.1
""",
        "lsh_recall": f"""
WITH {_MINHASH_CTES},
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
shx AS (SELECT doc_id, unnest(s) AS g FROM sh),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shx GROUP BY doc_id),
inter_all AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM shx x JOIN shx y ON y.g = x.g AND x.doc_id < y.doc_id
  GROUP BY 1, 2
),
tp AS (
  SELECT i.id_a, i.id_b
  FROM inter_all i
  JOIN sizes na ON na.doc_id = i.id_a
  JOIN sizes nb ON nb.doc_id = i.id_b
  WHERE round(i.n_inter / (na.n + nb.n - i.n_inter), 6) >= 0.1
),
hit AS (SELECT tp.id_a, tp.id_b FROM tp SEMI JOIN cand USING (id_a, id_b)),
c AS (
  SELECT CAST((SELECT count(*) FROM tp) AS BIGINT) AS n_true,
         CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_cand,
         CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit)
SELECT n_true, n_cand, n_hit,
  CASE WHEN n_true > 0
       THEN round(CAST(n_hit AS DOUBLE) / n_true, 6) END AS recall,
  CASE WHEN n_cand > 0
       THEN round(CAST(n_hit AS DOUBLE) / n_cand, 6) END AS precision
FROM c
""",
        "neardup_clusters": f"""
WITH RECURSIVE {_MINHASH_CTES},
{_NEARDUP_CC_CTES},
sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size FROM lab GROUP BY cluster_id)
SELECT l.doc_id, l.cluster_id, s.cluster_size,
       l.doc_id = l.cluster_id AS is_canonical
FROM lab l JOIN sz s USING (cluster_id)
""",
        "simhash": f"""
WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
tok AS (SELECT doc_id, unnest(t) AS tok FROM tk),
h AS (SELECT doc_id, md5(tok) AS h FROM tok),
bitsrc AS (SELECT doc_id, h, unnest(range(0, 32)) AS b FROM h),
bits AS (
  SELECT doc_id, b,
         CAST(floor((strpos('0123456789abcdef', substr(h, CAST(b // 4 AS INT) + 1, 1)) - 1)
                    / power(2, b % 4)) AS INT) % 2 AS bitval
  FROM bitsrc
),
votes AS (
  SELECT doc_id, b, CAST(SUM(CASE WHEN bitval = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v
  FROM bits GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(SUM(CASE WHEN v > 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
""",
        "lang_id": f"""
WITH tk AS (SELECT doc_id, list_distinct({_TOKS}) AS t FROM documents),
sc AS (SELECT doc_id, {score_cols} FROM tk),
g AS (SELECT *, {best} AS best FROM sc)
SELECT doc_id,
       CASE WHEN best = 0 THEN 'und' {pred_cases} END AS lang_pred,
       CAST(best AS INT) AS lang_score
FROM g
""",
        "quality_score": f"""
WITH b AS (SELECT doc_id, text, {_TOKS} AS t FROM documents),
f AS (
  SELECT doc_id,
         CAST(len(t) AS INT) AS n_tokens,
         round(CASE WHEN len(t) > 0
               THEN length(list_aggregate(t, 'string_agg', '')) / len(t)
               ELSE 0.0 END, 6) AS mean_token_len,
         round(CASE WHEN length(text) > 0
               THEN (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) / length(text)
               ELSE 0.0 END, 6) AS punct_ratio,
         round(CASE WHEN len(t) > 0
               THEN len(list_filter(t, x -> list_contains(['the','a','of','and','to','in','is','it','on','for'], x))) / len(t)
               ELSE 0.0 END, 6) AS stopword_ratio,
         len(t) AS n_tok
  FROM b
)
SELECT doc_id, n_tokens, mean_token_len, punct_ratio, stopword_ratio,
       round(5 * least(n_tok / 40.0, 1.0)
             + 3 * least(stopword_ratio * 5, 1.0)
             + 2 * (1.0 - least(punct_ratio * 10, 1.0)), 6) AS quality
FROM f
""",
        "token_count": f"""
WITH b AS (SELECT doc_id, text, {_TOKS} AS t FROM documents)
SELECT doc_id,
       CAST(len(t) AS INT) AS n_ws_tokens,
       CAST(len(list_distinct(t)) AS INT) AS n_uniq_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS INT) AS n_word_pieces
FROM b
""",
        "vocabulary": f"""
WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
tok AS (SELECT doc_id, unnest(t) AS token FROM tk),
cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS count FROM tok GROUP BY token),
dfq AS (
  SELECT token, CAST(count(*) AS BIGINT) AS doc_freq
  FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY token
)
SELECT rank, token, count, doc_freq FROM (
  SELECT c.token, c.count, d.doc_freq,
         CAST(row_number() OVER (ORDER BY c.count DESC, c.token) AS INT) AS rank
  FROM cnt c JOIN dfq d ON d.token = c.token
  WHERE c.count >= 2
) WHERE rank <= 200
""",
        "clean_corpus": f"""
WITH tk AS (SELECT doc_id, md5(list_aggregate({_TOKS}, 'string_agg', ' ')) AS content_md5 FROM documents),
dedup AS (
  SELECT doc_id, n_copies FROM (
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY content_md5 ORDER BY doc_id) AS INT) AS rn,
           CAST(count(*) OVER (PARTITION BY content_md5) AS BIGINT) AS n_copies
    FROM tk
  ) WHERE rn = 1
),
ltk AS (SELECT doc_id, list_distinct({_TOKS}) AS t FROM documents),
sc AS (SELECT doc_id, {score_cols} FROM ltk),
lang AS (
  SELECT doc_id,
         CASE WHEN {best} = 0 THEN 'und' {pred_cases_b} END AS lang_pred
  FROM sc
),
qb AS (SELECT doc_id, text, {_TOKS} AS t FROM documents),
qf AS (
  SELECT doc_id,
         CAST(len(t) AS INT) AS n_tokens,
         round(CASE WHEN len(t) > 0
               THEN len(list_filter(t, x -> list_contains(['the','a','of','and','to','in','is','it','on','for'], x))) / len(t)
               ELSE 0.0 END, 6) AS stopword_ratio,
         round(CASE WHEN length(text) > 0
               THEN (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) / length(text)
               ELSE 0.0 END, 6) AS punct_ratio,
         len(t) AS n_tok
  FROM qb
),
quality AS (
  SELECT doc_id, n_tokens,
         round(5 * least(n_tok / 40.0, 1.0)
               + 3 * least(stopword_ratio * 5, 1.0)
               + 2 * (1.0 - least(punct_ratio * 10, 1.0)), 6) AS quality
  FROM qf
)
SELECT d.doc_id, dd.n_copies, l.lang_pred, q.n_tokens, q.quality
FROM documents d
JOIN dedup dd ON dd.doc_id = d.doc_id
JOIN lang l ON l.doc_id = d.doc_id
JOIN quality q ON q.doc_id = d.doc_id
WHERE l.lang_pred IN ('en') AND q.n_tokens >= 30 AND q.quality >= 4.0
""",
        "fingerprint": f"""
WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh AS (SELECT doc_id, {_SHINGLES} AS s FROM tk),
hx AS (SELECT doc_id, list_transform(s, x -> md5(x)) AS h FROM sh),
fp AS (
  SELECT doc_id,
         CASE WHEN len(h) - 3 >= 1 THEN
           list_distinct(list_transform(range(0, len(h) - 3), i -> list_aggregate(h[i+1:i+4], 'min')))
         WHEN len(h) > 0 THEN [list_aggregate(h, 'min')]
         ELSE CAST([] AS VARCHAR[]) END AS fps
  FROM hx
)
SELECT doc_id, CAST(len(fps) AS INT) AS n_fingerprints,
       list_aggregate(fps, 'min') AS min_fingerprint
FROM fp
""",
        # PII + line-level ops run over derived inputs (synthetic PII /
        # re-lined text) so the regex-and-reassembly paths are actually
        # exercised — see _docs_with_pii/_docs_relined for the rationale.
        "pii_scrub": f"""
WITH d AS (
  SELECT doc_id,
         text || ' user' || CAST(doc_id AS VARCHAR) || '@example.com 10.0.'
              || CAST(doc_id % 256 AS VARCHAR) || '.7 +1415'
              || CAST(doc_id AS VARCHAR) AS text
  FROM documents),
s1 AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INT) AS n_emails,
         regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t1
  FROM d),
s2 AS (
  SELECT doc_id, n_emails,
         CAST(len(regexp_extract_all(t1, '{_PII_IPV4}')) AS INT) AS n_ipv4,
         regexp_replace(t1, '{_PII_IPV4}', '<IP>', 'g') AS t2
  FROM s1),
s3 AS (
  SELECT doc_id, n_emails, n_ipv4,
         CAST(len(regexp_extract_all(t2, '{_PII_PHONE}')) AS INT) AS n_phones,
         regexp_replace(t2, '{_PII_PHONE}', '<PHONE>', 'g') AS t3
  FROM s2)
SELECT doc_id, n_emails, n_ipv4, n_phones,
       md5(t3) AS clean_md5, CAST(length(t3) AS INT) AS clean_len
FROM s3
""",
        "gopher_repetition": f"""
WITH d AS (SELECT doc_id, {_RELINED} AS text FROM documents),
b AS (SELECT doc_id, text,
             list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS lines,
             {_TOKS} AS t
      FROM d),
base AS (
  SELECT doc_id, CAST(len(lines) AS INT) AS n_lines,
         round(CASE WHEN len(lines) > 0
               THEN 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines)
               ELSE 0.0 END, 6) AS dup_line_frac,
         t
  FROM b),
grams AS (
  SELECT doc_id,
         unnest(CASE WHEN len(t) >= 2
                THEN list_transform(range(0, len(t)-1), i -> t[i+1] || ' ' || t[i+2])
                ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM base),
pg AS (SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY doc_id, gram),
top AS (SELECT doc_id, max(c) AS tp, sum(c) AS tot FROM pg GROUP BY doc_id)
SELECT base.doc_id, n_lines, dup_line_frac,
       round(coalesce(CAST(tp AS DOUBLE) / tot, 0.0), 6) AS top2gram_frac,
       (dup_line_frac <= 0.05
        AND round(coalesce(CAST(tp AS DOUBLE) / tot, 0.0), 6) <= 0.06) AS keep
FROM base LEFT JOIN top USING (doc_id)
""",
        "gopher_quality": f"""
WITH d0 AS (SELECT doc_id, {_RELINED} AS text FROM documents),
d AS (SELECT doc_id,
        text
        || CASE WHEN doc_id % 3 = 0 THEN chr(10) || '• bullet point line' ELSE '' END
        || CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'to be continued...' ELSE '' END
        || CASE WHEN doc_id % 7 = 0 THEN ' ## ##' ELSE '' END AS text
      FROM d0),
b AS (SELECT doc_id, text, {_TOKS} AS w,
             list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS l
      FROM d),
m AS (SELECT doc_id,
        CAST(len(w) AS INT) AS n_words,
        round(CASE WHEN len(w) > 0
              THEN CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum') AS DOUBLE) / len(w)
              ELSE 0.0 END, 6) AS mean_word_len,
        round(CASE WHEN len(w) > 0
              THEN CAST(length(text) - length(regexp_replace(text, '[#…]', '', 'g')) AS DOUBLE) / len(w)
              ELSE 0.0 END, 6) AS symbol_ratio,
        round(CASE WHEN len(l) > 0
              THEN CAST(len(list_filter(l, x -> regexp_matches(regexp_replace(x, '^\\s+', ''), '^[•\\-*]'))) AS DOUBLE) / len(l)
              ELSE 0.0 END, 6) AS bullet_frac,
        round(CASE WHEN len(l) > 0
              THEN CAST(len(list_filter(l, x -> regexp_matches(regexp_replace(x, '\\s+$', ''), '(…|\\.\\.\\.)$'))) AS DOUBLE) / len(l)
              ELSE 0.0 END, 6) AS ellipsis_frac,
        round(CASE WHEN len(w) > 0
              THEN CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(w)
              ELSE 0.0 END, 6) AS alpha_frac,
        CAST(len(list_intersect(list_distinct(w),
             ['the','be','to','of','and','that','have','with'])) AS INT) AS stopword_hits
      FROM b)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
       ellipsis_frac, alpha_frac, stopword_hits,
       (n_words >= 20 AND n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND symbol_ratio <= 0.02 AND bullet_frac <= 0.03
        AND ellipsis_frac <= 0.03 AND alpha_frac >= 0.95
        AND stopword_hits >= 1) AS keep
FROM m
""",
        # braces live in SQL as chr(123): this dict mixes f-strings, and the
        # synthesized page injects a literal '{' for the C4 curly-bracket gate
        "c4_clean": r"""
WITH d AS (SELECT doc_id,
  repeat('the data rows join cleanly and fast.' || chr(10), CAST(2 + doc_id % 4 AS INT))
  || 'no terminal punctuation boilerplate menu line'
  || chr(10) || 'tiny one.'
  || CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'please enable javascript to continue now.'
          ELSE chr(10) || 'another clean sentence ends properly here.' END
  || CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet today.' ELSE '' END
  || CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'code block ' || chr(123) || ' starts here today.' ELSE '' END
  || CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'this page contains badword1 sadly today.' ELSE '' END
  AS text FROM documents),
k AS (SELECT doc_id, text,
        string_split(text, chr(10)) AS lines,
        list_filter(string_split(text, chr(10)), l ->
          regexp_matches(regexp_replace(l, '\s+$', ''), '[.!?"]$')
          AND len(list_filter(string_split_regex(lower(l), '\s+'), x -> x <> '')) >= 3
          AND NOT contains(lower(l), 'javascript')) AS kept
      FROM d),
c AS (SELECT doc_id, text,
        CAST(len(lines) AS INT) AS n_lines,
        CAST(len(kept) AS INT) AS n_kept,
        array_to_string(kept, chr(10)) AS clean
      FROM k)
SELECT doc_id, n_lines, n_kept,
  CAST(len(regexp_extract_all(clean, '[.!?]')) AS INT) AS n_sentences,
  (len(regexp_extract_all(clean, '[.!?]')) >= 5
   AND NOT contains(lower(text), 'lorem ipsum')
   AND NOT contains(text, chr(123))
   AND NOT contains(text, chr(125))
   AND len(list_intersect(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''),
           ['badword1', 'badword2', 'badword3'])) = 0
  ) AS keep,
  md5(clean) AS clean_md5,
  CAST(length(clean) AS INT) AS clean_len
FROM c
""",
        "url_strip": """
WITH d AS (SELECT doc_id,
  'https://host' || CAST(doc_id % 20 AS VARCHAR) || '.example/p/' || CAST(doc_id AS VARCHAR)
  || CASE WHEN doc_id % 4 = 1 THEN '?UTM_Source=news&utm_medium=email'
          WHEN doc_id % 4 = 2 THEN '?q=' || CAST(doc_id AS VARCHAR) || '&fbclid=abc&'
          WHEN doc_id % 4 = 3 THEN '?a=1&b=' || CAST(doc_id % 7 AS VARCHAR)
          ELSE '' END AS url
  FROM documents),
p AS (SELECT doc_id, url,
        position('?' in url) AS qpos,
        split_part(url, '?', 1) AS base,
        CASE WHEN position('?' in url) > 0
             THEN substr(url, position('?' in url) + 1) ELSE '' END AS q
      FROM d),
f AS (SELECT doc_id, url, qpos, base,
        list_filter(string_split(q, '&'), x -> x <> '') AS nonempty
      FROM p),
k AS (SELECT doc_id, url, qpos, base, nonempty,
        list_filter(nonempty, x -> NOT list_contains(
          ['utm_source','utm_medium','utm_campaign','utm_term','utm_content',
           'gclid','fbclid','msclkid','mc_eid','igshid','yclid'],
          lower(split_part(x, '=', 1)))) AS kept
      FROM f)
SELECT doc_id, url,
  CASE WHEN qpos = 0 THEN url
       WHEN len(kept) > 0 THEN base || '?' || array_to_string(kept, '&')
       ELSE base END AS url_stripped,
  CAST(len(nonempty) - len(kept) AS INT) AS n_stripped
FROM k
""",
        # the oracle may use windows (row_number ownership); the Spark side
        # stays window-free via min(struct) — only ITS plan must scale
        "span_dedup": """
WITH d AS (SELECT doc_id,
  'intro sentence ' || CAST(doc_id AS VARCHAR) || ' opens. second unique '
  || CAST(doc_id AS VARCHAR) || ' line. '
  || CASE WHEN doc_id % 4 = 0
     THEN 'shared span alpha. shared span beta. shared span gamma. '
     ELSE 'solo ' || CAST(doc_id AS VARCHAR) || ' alpha. solo '
          || CAST(doc_id AS VARCHAR) || ' beta. solo '
          || CAST(doc_id AS VARCHAR) || ' gamma. ' END
  || 'closing sentence ' || CAST(doc_id AS VARCHAR) || ' ends.' AS text
  FROM documents),
s AS (SELECT doc_id, string_split(text, '. ') AS ss FROM d),
sp AS (SELECT doc_id, CAST(u.p AS INT) AS p,
         md5(array_to_string(ss[CAST(u.p AS INT)+1 : CAST(u.p AS INT)+3], '. ')) AS h
       FROM s, unnest(range(0, greatest(len(ss)-2, 0))) AS u(p)),
rk AS (SELECT doc_id, p,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn,
         count(*) OVER (PARTITION BY h) AS c
       FROM sp),
dups AS (SELECT doc_id, p FROM rk WHERE c >= 2 AND rn > 1),
marked AS (SELECT DISTINCT doc_id, sidx
           FROM (SELECT doc_id, unnest([p, p+1, p+2]) AS sidx FROM dups)),
ex AS (SELECT doc_id, unnest(ss) AS sent, unnest(range(0, len(ss))) AS sidx FROM s),
kept AS (SELECT ex.* FROM ex ANTI JOIN marked USING (doc_id, sidx)),
reasm AS (SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
                 string_agg(sent, '. ' ORDER BY sidx) AS clean
          FROM kept GROUP BY doc_id),
nd AS (SELECT doc_id, CAST(count(*) AS INT) AS n_dup_spans FROM dups GROUP BY doc_id)
SELECT s.doc_id, CAST(len(ss) AS INT) AS n_sentences,
       coalesce(n_kept, 0) AS n_kept,
       coalesce(n_dup_spans, 0) AS n_dup_spans,
       md5(coalesce(clean, '')) AS clean_md5,
       CAST(length(coalesce(clean, '')) AS INT) AS clean_len
FROM s LEFT JOIN reasm USING (doc_id) LEFT JOIN nd USING (doc_id)
""",
        "line_dedup": f"""
WITH d AS (SELECT doc_id, {_RELINED} AS text FROM documents),
ex AS (
  SELECT doc_id,
         unnest(string_split(text, chr(10))) AS line,
         unnest(range(0, len(string_split(text, chr(10))))) AS pos
  FROM d),
hot AS (
  SELECT line FROM ex WHERE trim(line) <> ''
  GROUP BY line HAVING count(DISTINCT doc_id) > 3),
kept AS (SELECT ex.* FROM ex ANTI JOIN hot USING (line)),
reasm AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
         md5(string_agg(line, chr(10) ORDER BY pos)) AS clean_md5
  FROM kept GROUP BY doc_id)
SELECT d.doc_id,
       CAST(len(string_split(d.text, chr(10))) AS INT) AS n_lines,
       coalesce(reasm.n_kept, 0) AS n_kept,
       coalesce(reasm.clean_md5, md5('')) AS clean_md5
FROM d LEFT JOIN reasm USING (doc_id)
""",
        "hash_sample": """
SELECT doc_id, lang, substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS bucket
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
      < CASE WHEN lang = 'en' THEN '8000' ELSE '4000' END
""",
        "domain_quota": """
SELECT doc_id, source, pick_hash FROM (
  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS pick_hash,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
) WHERE rn <= 10
""",
        "domain_mix": """
WITH cnt AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
wt AS (SELECT lang, n_docs,
        CAST(round(sqrt(CAST(n_docs AS DOUBLE)), 6) AS DECIMAL(18,6)) AS wv
      FROM cnt),
tot AS (SELECT sum(wv) AS wsum FROM wt),
r AS (SELECT lang,
        CAST(floor(65536.0 * least(
          (200.0 * CAST(wv AS DOUBLE)) / CAST(wsum AS DOUBLE)
            / CAST(n_docs AS DOUBLE),
          1.0)) AS INT) AS thr
      FROM wt, tot)
SELECT d.doc_id, d.lang,
       CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)) AS INT)
         AS bucket,
       r.thr
FROM documents d JOIN r USING (lang)
WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)) AS INT)
      < r.thr
""",
        "contamination": f"""
WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
gr AS (SELECT doc_id,
         CASE WHEN len(t) >= 5 THEN
           list_transform(range(0, len(t)-4),
             i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] || ' ' || t[i+5])
         ELSE CAST([] AS VARCHAR[]) END AS g
       FROM tk),
ug AS (SELECT doc_id, md5(unnest(g)) AS gram_md5 FROM gr),
ev AS (SELECT DISTINCT 'b' || CAST(doc_id % 3 AS VARCHAR) AS bench, gram_md5
       FROM ug WHERE doc_id % 37 = 0),
evs AS (SELECT bench, CAST(count(*) AS BIGINT) AS n_eval_grams
        FROM ev GROUP BY bench),
m AS (SELECT ev.bench,
             count(DISTINCT ug.gram_md5) AS n_hit_grams,
             count(DISTINCT ug.doc_id) AS n_hit_docs
      FROM ug JOIN ev USING (gram_md5) GROUP BY ev.bench),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents)
SELECT evs.bench, evs.n_eval_grams,
       CAST(coalesce(m.n_hit_grams, 0) AS BIGINT) AS n_hit_grams,
       CAST(coalesce(m.n_hit_docs, 0) AS BIGINT) AS n_hit_docs,
       round(CAST(coalesce(m.n_hit_grams, 0) AS DOUBLE)
             / CAST(evs.n_eval_grams AS DOUBLE), 6) AS gram_frac,
       round(CAST(coalesce(m.n_hit_docs, 0) AS DOUBLE) / tot.nd, 6) AS doc_frac
FROM evs LEFT JOIN m USING (bench) CROSS JOIN tot
""",
        "token_entropy": f"""
WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
tok AS (SELECT doc_id, unnest(t) AS token FROM tk),
cnt AS (SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS c
        FROM tok GROUP BY doc_id, token),
agg AS (SELECT doc_id, sum(c) AS n, count(*) AS u,
               sum(c * log2(c)) AS sclc
        FROM cnt GROUP BY doc_id)
SELECT tk.doc_id,
       CAST(coalesce(agg.n, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(agg.u, 0) AS BIGINT) AS n_unique,
       round(log2(agg.n) - agg.sclc / agg.n, 6) AS entropy,
       CASE WHEN agg.u > 1
            THEN round((log2(agg.n) - agg.sclc / agg.n)
                       / log2(CAST(agg.u AS DOUBLE)), 6)
       END AS norm_entropy
FROM tk LEFT JOIN agg USING (doc_id)
""",
        "pack_sequences": f"""
WITH b AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS pick,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
), s AS (
  SELECT doc_id, CAST((('0x'||substr(pick,1,8))::BIGINT % 64) AS INT) AS stream,
         n_tokens, pick FROM b
)
SELECT doc_id, stream, n_tokens,
       CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT) AS start_offset,
       CAST(floor((sum(n_tokens) OVER w - n_tokens) / 2048) AS BIGINT) AS bin
FROM s
WINDOW w AS (PARTITION BY stream ORDER BY pick, doc_id ROWS UNBOUNDED PRECEDING)
""",
        "shuffle_order": """
WITH b AS (
  SELECT doc_id, md5('7:' || CAST(doc_id AS VARCHAR)) AS k FROM documents
), s AS (
  SELECT doc_id, CAST((('0x'||substr(k,1,8))::BIGINT % 64) AS INT) AS shard, k
  FROM b
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) AS BIGINT) AS pos
FROM s
""",
        "pagerank": pagerank_oracle_sql(_LINK_GRAPH_SQL, iters=5),
        "trustrank": trustrank_oracle_sql(
            _LINK_GRAPH_SQL,
            "SELECT doc_id % 101 AS node FROM documents WHERE doc_id % 101 < 3",
            iters=5,
        ),
        # pr_priority = the pagerank oracle wrapped in the same literal
        # threshold tiers the Spark side applies (one point of truth for
        # the underlying ranks)
        "pr_priority": (
            "SELECT node, rank, CAST("
            "  CASE WHEN rank < 0.02 THEN 1 ELSE 0 END"
            "  + CASE WHEN rank < 0.01 THEN 1 ELSE 0 END"
            "  + CASE WHEN rank < 0.005 THEN 1 ELSE 0 END AS INT) AS priority "
            "FROM (\n"
            + pagerank_oracle_sql(
                """SELECT doc_id % 101 AS src, (doc_id * 31 + 7) % 101 AS dst FROM documents
UNION ALL SELECT doc_id % 101, (doc_id * 13 + 3) % 101 FROM documents
UNION ALL SELECT doc_id % 101, 0 FROM documents WHERE doc_id % 5 = 0
UNION ALL SELECT doc_id % 101, doc_id % 5 + 200 FROM documents WHERE doc_id % 11 = 0""",
                iters=5,
            )
            + "\n)"
        ),
        "nfc_dedup": r"""
WITH d AS (
  SELECT doc_id,
    CASE WHEN doc_id % 4 = 1 THEN 'Cafe' || chr(769) || ' menu A' || chr(778) || ' ' || CAST(doc_id % 10 AS VARCHAR)
         WHEN doc_id % 4 = 2 THEN 'Caf' || chr(233) || ' menu ' || chr(197) || ' ' || CAST(doc_id % 10 AS VARCHAR)
         ELSE 'plain ' || CAST(doc_id AS VARCHAR) || ' text' END AS text
  FROM documents),
tk AS (SELECT doc_id,
              md5(list_aggregate(list_filter(
                string_split_regex(lower(nfc_normalize(text)), '\s+'),
                x -> x <> ''), 'string_agg', ' ')) AS content_md5
       FROM d)
SELECT doc_id, content_md5, n_copies FROM (
  SELECT doc_id, content_md5,
         CAST(row_number() OVER (PARTITION BY content_md5 ORDER BY doc_id) AS INT) AS rn,
         CAST(count(*) OVER (PARTITION BY content_md5) AS BIGINT) AS n_copies
  FROM tk
) WHERE rn = 1
""",
        "nb_classify": f"""
WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
grams AS MATERIALIZED (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 512 AS INT) AS b
  FROM (
    SELECT doc_id, unnest(t) AS g FROM tk
    UNION ALL
    SELECT tk.doc_id, t[u.i] || ' ' || t[u.i + 1] AS g
    FROM tk, unnest(range(1, len(t))) AS u(i)
  )
),
lab AS (SELECT doc_id,
               CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'a' WHEN 1 THEN 'b'
                    ELSE 'c' END AS label
        FROM documents),
tr AS (SELECT l.label, g.b FROM grams g JOIN lab l USING (doc_id)
       WHERE l.doc_id % 5 <> 4),
cnt AS MATERIALIZED (SELECT label, b, count(*) AS c FROM tr GROUP BY 1, 2),
tot AS (SELECT label, sum(c) AS total FROM cnt GROUP BY 1),
docs AS (SELECT label, count(*) AS nd FROM lab WHERE doc_id % 5 <> 4 GROUP BY 1),
pri AS MATERIALIZED (
  SELECT label, round(ln(nd / (SELECT CAST(sum(nd) AS DOUBLE) FROM docs)), 6)
         AS logprior
  FROM docs),
model AS MATERIALIZED (
  SELECT s.label, s.b,
         round(ln((coalesce(c.c, 0) + 1)
                  / (coalesce(t.total, 0) + 512.0)), 6) AS logp
  FROM (SELECT p.label, CAST(sp.b AS INT) AS b
        FROM pri p CROSS JOIN range(0, 512) sp(b)) s
  LEFT JOIN cnt c ON c.label = s.label AND c.b = s.b
  LEFT JOIN tot t ON t.label = s.label),
sc AS (SELECT g.doc_id, m.label, count(*) AS n_grams,
              sum(CAST(m.logp AS DECIMAL(18,6))) AS s
       FROM grams g JOIN model m ON m.b = g.b GROUP BY 1, 2),
pairs AS (SELECT d.doc_id, p.label, p.logprior
          FROM documents d CROSS JOIN pri p),
fin AS (SELECT pr.doc_id, pr.label,
                coalesce(sc.n_grams, 0) AS n_grams,
                CAST(coalesce(sc.s, CAST(0 AS DECIMAL(28,6)))
                     + CAST(pr.logprior AS DECIMAL(18,6)) AS DOUBLE) AS score
         FROM pairs pr LEFT JOIN sc USING (doc_id, label))
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams, label AS pred, score
FROM fin
QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, label) = 1
""",
        "shard_stats": """
SELECT CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16 AS INT) AS shard,
       count(*) AS n_rows,
       CAST(sum(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 8)) AS BIGINT)) AS BIGINT) AS checksum
FROM documents
GROUP BY 1
""",
        "hits": hits_oracle_sql(
            """SELECT doc_id % 101 AS src, (doc_id * 31 + 7) % 101 AS dst FROM documents
UNION ALL SELECT doc_id % 101, (doc_id * 13 + 3) % 101 FROM documents
UNION ALL SELECT doc_id % 101, 0 FROM documents WHERE doc_id % 5 = 0
UNION ALL SELECT doc_id % 101, doc_id % 5 + 200 FROM documents WHERE doc_id % 11 = 0""",
            iters=4,
        ),
        "host_graph": """
WITH e AS (
  SELECT doc_id % 20 AS s, (doc_id * 7 + 3) % 20 AS t, doc_id AS p FROM documents
  UNION ALL
  SELECT doc_id % 20, (doc_id * 3 + 5) % 20, doc_id FROM documents
)
SELECT 'host' || CAST(s AS VARCHAR) || '.example' AS src_host,
       'host' || CAST(t AS VARCHAR) || '.example' AS dst_host,
       count(*) AS n_links,
       count(DISTINCT p) AS n_src_pages
FROM e WHERE s <> t
GROUP BY 1, 2
""",
        "connected_components": connected_components_oracle_sql(
            """SELECT doc_id AS a, doc_id + 1 AS b FROM documents WHERE doc_id % 7 <> 6
UNION ALL SELECT doc_id, doc_id + 13 FROM documents WHERE doc_id % 29 = 0"""
        ),
        "cc_star": connected_components_oracle_sql(
            "SELECT doc_id AS a, doc_id + 1 AS b FROM documents WHERE doc_id % 40 <> 39"
        ),
        "score_quantiles": score_quantiles_oracle_sql(
            "SELECT lang, CAST(n_chars AS DOUBLE) AS score FROM documents",
            probs=(0.1, 0.25, 0.5, 0.75, 0.9),
        ),
        "kll_quantiles": kll_quantiles_oracle_sql(
            "SELECT lang, CAST(n_chars AS DOUBLE) AS score FROM documents",
            probs=(0.0, 0.1, 0.5, 0.9, 1.0),
        ),
        "weighted_sample": weighted_sample_oracle_sql(
            "SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS weight"
            " FROM documents",
            8,
            strata=("lang",),
        ),
        "hll_distinct": hll_distinct_oracle_sql(
            """SELECT 'h' || (doc_id % 3) || '.example' AS host,
       'https://p/' || doc_id AS url FROM documents
UNION ALL
SELECT 'd' || (doc_id % 7) || '.example' AS host,
       'https://q/' || (doc_id % 97) AS url FROM documents"""
        ),
        "wet_export": """
WITH pages AS (
  SELECT 'https://w' || (doc_id % 20) || '.example/p/' || doc_id AS url,
         epoch_ms((CAST(1600000000 AS BIGINT) + doc_id * 3600) * 1000) AS warc_ts,
         text
  FROM documents
),
rec AS (
  SELECT url,
    'WARC/1.0' || chr(13) || chr(10)
    || 'WARC-Type: conversion' || chr(13) || chr(10)
    || 'WARC-Target-URI: ' || url || chr(13) || chr(10)
    || 'WARC-Date: ' || strftime(warc_ts, '%Y-%m-%dT%H:%M:%SZ') || chr(13) || chr(10)
    || 'Content-Type: text/plain' || chr(13) || chr(10)
    || 'Content-Length: ' || octet_length(encode(text)) || chr(13) || chr(10)
    || chr(13) || chr(10) || text || chr(13) || chr(10) || chr(13) || chr(10)
    AS record
  FROM pages
  WHERE text IS NOT NULL AND url IS NOT NULL AND warc_ts IS NOT NULL
)
SELECT url, record, CAST(octet_length(encode(record)) AS BIGINT) AS n_bytes
FROM rec
""",
        "wat_links": """
SELECT 'https://w' || (doc_id % 20) || '.example/p/' || doc_id AS src,
       'https://w' || ((doc_id + j) % 20) || '.example/p/' || (doc_id * 13 + j) AS dst,
       substr(text, CAST(j AS INT) * 7 + 1, 12) || chr(10) || '"x' AS anchor
FROM documents, range(1, 4) t(j)
WHERE j <= doc_id % 4
""",
        "cdx_index": _CDX_ORACLE + """
SELECT surt, ts14, line FROM idx
""",
        "cdx_lookup": _CDX_ORACLE + """
SELECT surt, ts14, line FROM idx
WHERE surt LIKE 'com,example,w3)/%'
""",
        "cdx_collapse": _CDX_TYPED_ORACLE + """
SELECT surt, ts14, url, mime, status, digest, length FROM (
  SELECT *, row_number() OVER (
      PARTITION BY surt, substr(ts14, 1, 8)
      ORDER BY ts14, url, mime, status, digest, length) AS rn
  FROM idx) WHERE rn = 1
""",
        "cdx_revisit": _CDX_TYPED_ORACLE + """,
firsts AS (
  SELECT digest, ts14 AS o_ts14, surt AS o_surt, url AS o_url FROM (
    SELECT *, row_number() OVER (
        PARTITION BY digest ORDER BY ts14, surt, url) AS rn
    FROM idx) WHERE rn = 1
)
SELECT i.surt, i.ts14, i.url, i.mime, i.status, i.digest, i.length,
  NOT (i.ts14 = f.o_ts14 AND i.surt = f.o_surt AND i.url = f.o_url)
    AS revisit,
  CASE WHEN i.ts14 = f.o_ts14 AND i.surt = f.o_surt AND i.url = f.o_url
       THEN NULL ELSE f.o_surt END AS orig_surt,
  CASE WHEN i.ts14 = f.o_ts14 AND i.surt = f.o_surt AND i.url = f.o_url
       THEN NULL ELSE f.o_ts14 END AS orig_ts14
FROM idx i JOIN firsts f USING (digest)
""",
        "wat_export": """
WITH pages AS (
  SELECT doc_id,
         'https://w' || (doc_id % 20) || '.example/p/' || doc_id AS url,
         epoch_ms((CAST(1600000000 AS BIGINT) + doc_id * 3600) * 1000) AS warc_ts,
         CASE WHEN doc_id % 3 <> 0 THEN
           'P "' || doc_id || '"' || chr(9) || chr(92) || 'end'
         END AS title,
         CAST(doc_id % 4 AS INT) AS n,
         text
  FROM documents
),
links AS (
  SELECT doc_id,
    CASE WHEN n >= 1 THEN
      array_to_string(
        list_transform(range(1, n + 1), j ->
          '{"url":"' ||
          replace(replace(replace(replace(replace(
            'https://w' || ((doc_id + j) % 20) || '.example/p/' || (doc_id * 13 + j),
            chr(92), chr(92)||chr(92)), '"', chr(92)||'"'),
            chr(13), chr(92)||'r'), chr(10), chr(92)||'n'),
            chr(9), chr(92)||'t')
          || '","text":"' ||
          replace(replace(replace(replace(replace(
            substr(text, CAST(j AS INT) * 7 + 1, 12) || chr(10) || '"x',
            chr(92), chr(92)||chr(92)), '"', chr(92)||'"'),
            chr(13), chr(92)||'r'), chr(10), chr(92)||'n'),
            chr(9), chr(92)||'t')
          || '"}'
        ), ',')
    ELSE '' END AS link_json
  FROM pages
),
pay AS (
  SELECT p.url, p.warc_ts,
    '{"Envelope":{"WARC-Header-Metadata":{"WARC-Target-URI":"' ||
    replace(replace(replace(replace(replace(p.url,
      chr(92), chr(92)||chr(92)), '"', chr(92)||'"'),
      chr(13), chr(92)||'r'), chr(10), chr(92)||'n'),
      chr(9), chr(92)||'t')
    || '","WARC-Date":"' || strftime(p.warc_ts, '%Y-%m-%dT%H:%M:%SZ')
    || '"},"Payload-Metadata":{"HTML-Metadata":{"Head":{'
    || CASE WHEN p.title IS NOT NULL THEN
         '"Title":"' ||
         replace(replace(replace(replace(replace(p.title,
           chr(92), chr(92)||chr(92)), '"', chr(92)||'"'),
           chr(13), chr(92)||'r'), chr(10), chr(92)||'n'),
           chr(9), chr(92)||'t')
         || '"'
       ELSE '' END
    || '},"Links":[' || l.link_json || ']}}}}' AS payload
  FROM pages p JOIN links l USING (doc_id)
),
rec AS (
  SELECT url,
    'WARC/1.0' || chr(13) || chr(10)
    || 'WARC-Type: metadata' || chr(13) || chr(10)
    || 'WARC-Target-URI: ' || url || chr(13) || chr(10)
    || 'WARC-Date: ' || strftime(warc_ts, '%Y-%m-%dT%H:%M:%SZ') || chr(13) || chr(10)
    || 'Content-Type: application/json' || chr(13) || chr(10)
    || 'Content-Length: ' || octet_length(encode(payload)) || chr(13) || chr(10)
    || chr(13) || chr(10) || payload || chr(13) || chr(10) || chr(13) || chr(10)
    AS record
  FROM pay
)
SELECT url, record, CAST(octet_length(encode(record)) AS BIGINT) AS n_bytes
FROM rec
""",
        "sitemap": r"""
WITH x AS (
  SELECT doc_id, 'host' || (doc_id % 20) || '.example' AS host FROM documents
),
pay AS (
  SELECT 'https://' || host || '/sitemap.xml' AS sitemap_url,
         CASE WHEN doc_id % 13 = 0 THEN
           '<sitemapindex><sitemap><loc>https://' || host || '/sitemap-'
           || (doc_id % 7) || '.xml</loc><lastmod>2024-03-05</lastmod></sitemap></sitemapindex>'
         ELSE
           '<urlset><url><loc> https://' || host || '/p/' || doc_id
           || '?a=1&amp;b=2 </loc><lastmod>2024-01-' || (doc_id % 19 + 10)
           || '</lastmod><changefreq>daily</changefreq><priority>0.' || (doc_id % 10)
           || '</priority></url><url><loc>https://' || host || '/q/' || doc_id
           || '</loc></url><url><lastmod>2024-02-01</lastmod></url></urlset>'
         END AS xml
  FROM x
),
b AS (
  SELECT sitemap_url, 'url' AS kind,
         unnest(regexp_extract_all(xml, '(?s)<url>(.*?)</url>', 1)) AS blk
  FROM pay
  UNION ALL
  SELECT sitemap_url, 'sitemap' AS kind,
         unnest(regexp_extract_all(xml, '(?s)<sitemap>(.*?)</sitemap>', 1)) AS blk
  FROM pay
),
f AS (
  SELECT sitemap_url, kind,
    nullif(regexp_extract(blk, '(?s)<loc[^>]*>\s*(.*?)\s*</loc>', 1), '') AS loc,
    nullif(regexp_extract(blk, '(?s)<lastmod[^>]*>\s*(.*?)\s*</lastmod>', 1), '') AS lastmod,
    nullif(regexp_extract(blk, '(?s)<changefreq[^>]*>\s*(.*?)\s*</changefreq>', 1), '') AS changefreq,
    nullif(regexp_extract(blk, '(?s)<priority[^>]*>\s*(.*?)\s*</priority>', 1), '') AS pr
  FROM b
), deco AS (
  -- the Spark side unescapes EVERY field (_tag_text), so the twin must
  -- too, not just loc — a non-loc entity would otherwise diverge
  SELECT sitemap_url, kind,
         replace(replace(replace(replace(replace(loc,
           '&lt;','<'),'&gt;','>'),'&quot;','"'),'&apos;',''''),'&amp;','&') AS loc,
         replace(replace(replace(replace(replace(lastmod,
           '&lt;','<'),'&gt;','>'),'&quot;','"'),'&apos;',''''),'&amp;','&') AS lastmod,
         replace(replace(replace(replace(replace(changefreq,
           '&lt;','<'),'&gt;','>'),'&quot;','"'),'&apos;',''''),'&amp;','&') AS changefreq,
         replace(replace(replace(replace(replace(pr,
           '&lt;','<'),'&gt;','>'),'&quot;','"'),'&apos;',''''),'&amp;','&') AS pr
  FROM f
)
SELECT sitemap_url, kind, loc, lastmod, changefreq,
       CAST(pr AS DOUBLE) AS priority
FROM deco WHERE loc IS NOT NULL
""",
        "metrics_rollup": """
SELECT CAST(floor(epoch(ts) / 10) * 10 AS BIGINT) AS ws,
       CAST(floor(epoch(ts) / 10) * 10 + 10 AS BIGINT) AS we,
       event_type AS error_class,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY 1, 2, 3
""",
        "latest_capture": """
WITH caps AS (
  SELECT 'https://host' || (doc_id % 20) || '.example/p/' || (doc_id % 200) AS url,
         1600000000 + doc_id * 86400 AS warc_ts,
         lang, n_chars
  FROM documents
)
SELECT url,
       CAST(arg_max(warc_ts, warc_ts) AS BIGINT) AS warc_ts,
       arg_max(lang, warc_ts) AS lang,
       CAST(arg_max(n_chars, warc_ts) AS BIGINT) AS n_chars,
       CAST(count(*) AS BIGINT) AS n_captures
FROM caps GROUP BY url
""",
        "anchor_topk": """
WITH v AS (
  SELECT ['click here','read more','home','download','next','previous','details'] AS a
),
l AS (
  SELECT 'https://t' || (doc_id % 50) || '.example/' AS dst,
         (SELECT a FROM v)[(doc_id % 7) + 1] AS anchor FROM documents
  UNION ALL
  SELECT 'https://t' || (doc_id % 50) || '.example/',
         (SELECT a FROM v)[((doc_id + 1) % 7) + 1] FROM documents
  UNION ALL
  SELECT 'https://t' || ((doc_id * 3) % 50) || '.example/',
         (SELECT a FROM v)[((doc_id * 2) % 7) + 1] FROM documents
),
c AS (
  SELECT dst, anchor, CAST(count(*) AS BIGINT) AS n_links
  FROM l GROUP BY dst, anchor
)
SELECT dst, anchor, n_links FROM (
  SELECT *, row_number() OVER (PARTITION BY dst
                               ORDER BY n_links DESC, anchor) AS rn
  FROM c
) WHERE rn <= 3
""",
        "recrawl": """
WITH x AS (
  SELECT 'https://host' || (doc_id % 20) || '.example/p/' || doc_id AS url,
         1700000000 - (doc_id * 9973) % 5000000 AS last_fetch_ts,
         (['always','hourly','daily','weekly','monthly','yearly','never','bogus'])[(doc_id % 8) + 1] AS changefreq
  FROM documents
), f AS (
  SELECT url, last_fetch_ts,
    CASE lower(changefreq)
      WHEN 'always' THEN 60 WHEN 'hourly' THEN 3600 WHEN 'daily' THEN 86400
      WHEN 'weekly' THEN 604800 WHEN 'monthly' THEN 2592000
      WHEN 'yearly' THEN 31536000 END AS interval_s
  FROM x
), g AS (
  SELECT url, last_fetch_ts, interval_s,
    -- NULL gate mirrors the operator exactly: no schedule (interval)
    -- OR never fetched (last_fetch) means NULL, not "maximally fresh"
    CASE WHEN interval_s IS NULL OR last_fetch_ts IS NULL THEN NULL
         ELSE greatest((1700000000 - last_fetch_ts) / CAST(interval_s AS DOUBLE), 0.0)
    END AS overdue
  FROM f
)
SELECT url, CAST(interval_s AS BIGINT) AS interval_s,
       CAST(last_fetch_ts + interval_s AS BIGINT) AS due_ts,
       round(overdue, 6) AS overdue_ratio,
       CASE WHEN overdue IS NULL THEN NULL
            ELSE CAST(least(floor(overdue), 10) AS BIGINT)
       END AS recrawl_priority
FROM g
""",
        "decontaminate": f"""
WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
gr AS (SELECT doc_id,
         CASE WHEN len(t) >= 5 THEN
           list_transform(range(0, len(t)-4),
             i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] || ' ' || t[i+5])
         ELSE CAST([] AS VARCHAR[]) END AS g
       FROM tk),
ug AS (SELECT doc_id, md5(unnest(g)) AS gram_md5 FROM gr),
ev AS (SELECT DISTINCT gram_md5 FROM ug WHERE doc_id % 37 = 0),
hits AS (SELECT doc_id, count(DISTINCT gram_md5) AS n
         FROM ug WHERE gram_md5 IN (SELECT gram_md5 FROM ev) GROUP BY doc_id)
SELECT d.doc_id, COALESCE(h.n, 0) AS n_hit_grams, COALESCE(h.n, 0) = 0 AS keep
FROM documents d LEFT JOIN hits h USING (doc_id)
""",
        "url_filter": """
WITH docs AS (
  SELECT doc_id,
         'http://'
         || CASE WHEN doc_id % 50 = 1 THEN 'x0.x1.x2.x3.x4.x5.x6.x7.x8.x9.x10.'
                 WHEN doc_id % 3 = 0 THEN 'www.'
                 ELSE '' END
         || 'host' || CAST(doc_id % 20 AS VARCHAR)
         || '.example/p/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents),
h AS (SELECT doc_id, url,
        regexp_replace(regexp_extract(lower(url),
          '^[a-z][a-z0-9+.\\-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1),
          '\\.$', '') AS host
      FROM docs),
sfx AS (SELECT doc_id,
          unnest(list_transform(range(1, len(string_split(host, '.')) + 1),
            i -> array_to_string(list_slice(string_split(host, '.'), i,
                                            len(string_split(host, '.'))), '.'))) AS s
        FROM h),
blocked AS (SELECT DISTINCT doc_id FROM sfx
            WHERE s IN ('host1.example', 'host7.example'))
SELECT doc_id, url, host FROM h
WHERE doc_id NOT IN (SELECT doc_id FROM blocked)
""",
        "cosine_topk": f"""
WITH {_COSINE_CTES},
p AS (
  SELECT q.vec_id AS query_id, x.vec_id AS nbr_id,
         round(list_sum(list_transform(range(1, len(q.e)+1), i -> q.e[i]*x.e[i]))
               / (sqrt(q.nn) * sqrt(x.nn)), 6) AS cos
  FROM n q, n x
  WHERE q.vec_id < 8 AND x.vec_id <> q.vec_id
)
SELECT query_id, rank, nbr_id, cos FROM (
  SELECT query_id, nbr_id, cos,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id) AS INT) AS rank
  FROM p
) WHERE rank <= 10
""",
        "ivf_assign": f"""
WITH {_COSINE_CTES},
cents AS (SELECT vec_id AS centroid_id, e AS ce, nn AS cnn FROM n WHERE vec_id % 41 = 0),
scored AS (
  SELECT v.vec_id, c.centroid_id,
         round(list_sum(list_transform(range(1, len(v.e)+1), i -> v.e[i]*c.ce[i]))
               / (sqrt(v.nn) * sqrt(c.cnn)), 6) AS cos
  FROM n v, cents c
)
SELECT vec_id, centroid_id, cos AS centroid_cos FROM (
  SELECT vec_id, centroid_id, cos,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) AS rn
  FROM scored
) WHERE rn = 1
""",
        "ivf_train": f"""
WITH {_COSINE_CTES},
cents AS (SELECT vec_id AS centroid_id, e AS ce, nn AS cnn FROM n WHERE vec_id % 41 = 0),
scored AS (
  SELECT v.vec_id, c.centroid_id,
         round(list_sum(list_transform(range(1, len(v.e)+1), i -> v.e[i]*c.ce[i]))
               / (sqrt(v.nn) * sqrt(c.cnn)), 6) AS cos
  FROM n v, cents c
),
assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) AS rn
    FROM scored
  ) WHERE rn = 1
),
member AS (SELECT a.centroid_id, v.e FROM assign a JOIN v ON v.vec_id = a.vec_id),
exploded AS (
  SELECT centroid_id,
         unnest(range(1, len(e)+1)) AS pos,
         unnest(e) AS val
  FROM member
)
SELECT centroid_id, CAST(pos AS INT) AS pos,
       CAST(count(*) AS BIGINT) AS n_members,
       round(avg(val), 6) AS val
FROM exploded GROUP BY centroid_id, pos
""",
        "ivf_topk": f"""
WITH {_COSINE_CTES},
cents AS (SELECT vec_id AS centroid_id, e AS ce, nn AS cnn FROM n WHERE vec_id % 41 = 0),
assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT v.vec_id, c.centroid_id,
           round(list_sum(list_transform(range(1, len(v.e)+1), i -> v.e[i]*c.ce[i]))
                 / (sqrt(v.nn) * sqrt(c.cnn)), 6) AS cos,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY round(list_sum(list_transform(range(1, len(v.e)+1), i -> v.e[i]*c.ce[i]))
                                             / (sqrt(v.nn) * sqrt(c.cnn)), 6) DESC, c.centroid_id) AS rn
    FROM n v, cents c
  ) WHERE rn = 1
),
probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.vec_id AS query_id, c.centroid_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY round(list_sum(list_transform(range(1, len(q.e)+1), i -> q.e[i]*c.ce[i]))
                                             / (sqrt(q.nn) * sqrt(c.cnn)), 6) DESC, c.centroid_id) AS rn
    FROM n q, cents c WHERE q.vec_id < 8
  ) WHERE rn <= 2
),
scored AS (
  SELECT p.query_id, a.vec_id AS nbr_id,
         max(round(list_sum(list_transform(range(1, len(q.e)+1), i -> q.e[i]*x.e[i]))
                   / (sqrt(q.nn) * sqrt(x.nn)), 6)) AS cos
  FROM probes p
  JOIN assign a ON a.centroid_id = p.centroid_id
  JOIN n q ON q.vec_id = p.query_id
  JOIN n x ON x.vec_id = a.vec_id
  WHERE a.vec_id <> p.query_id
  GROUP BY p.query_id, a.vec_id
)
SELECT query_id, rank, nbr_id, cos FROM (
  SELECT query_id, nbr_id, cos,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id) AS INT) AS rank
  FROM scored
) WHERE rank <= 10
""",
        "ann_recall": f"""
WITH {_COSINE_CTES},
cents AS (SELECT vec_id AS centroid_id, e AS ce, nn AS cnn FROM n WHERE vec_id % 41 = 0),
assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT v.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY round(list_sum(list_transform(range(1, len(v.e)+1), i -> v.e[i]*c.ce[i]))
                                             / (sqrt(v.nn) * sqrt(c.cnn)), 6) DESC, c.centroid_id) AS rn
    FROM n v, cents c
  ) WHERE rn = 1
),
probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.vec_id AS query_id, c.centroid_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY round(list_sum(list_transform(range(1, len(q.e)+1), i -> q.e[i]*c.ce[i]))
                                             / (sqrt(q.nn) * sqrt(c.cnn)), 6) DESC, c.centroid_id) AS rn
    FROM n q, cents c WHERE q.vec_id < 8
  ) WHERE rn <= 2
),
ivf_scored AS (
  SELECT p.query_id, a.vec_id AS nbr_id,
         max(round(list_sum(list_transform(range(1, len(q.e)+1), i -> q.e[i]*x.e[i]))
                   / (sqrt(q.nn) * sqrt(x.nn)), 6)) AS cos
  FROM probes p
  JOIN assign a ON a.centroid_id = p.centroid_id
  JOIN n q ON q.vec_id = p.query_id
  JOIN n x ON x.vec_id = a.vec_id
  WHERE a.vec_id <> p.query_id
  GROUP BY p.query_id, a.vec_id
),
approx AS (
  SELECT query_id, nbr_id FROM (
    SELECT query_id, nbr_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id) AS rank
    FROM ivf_scored
  ) WHERE rank <= 10
),
exact AS (
  SELECT query_id, nbr_id FROM (
    SELECT q.vec_id AS query_id, x.vec_id AS nbr_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY round(list_sum(list_transform(range(1, len(q.e)+1), i -> q.e[i]*x.e[i]))
                                             / (sqrt(q.nn) * sqrt(x.nn)), 6) DESC, x.vec_id) AS rank
    FROM n q, n x WHERE q.vec_id < 8 AND x.vec_id <> q.vec_id
  ) WHERE rank <= 10
)
SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_exact,
  CAST(count(a.nbr_id) AS BIGINT) AS n_hit,
  round(CAST(count(a.nbr_id) AS DOUBLE) / count(*), 6) AS recall
FROM exact e LEFT JOIN approx a USING (query_id, nbr_id)
GROUP BY 1
""",
        "embed_dim_stats": """
WITH exploded AS (
  SELECT CAST(pos AS INT) AS pos, CAST(val AS DOUBLE) AS v FROM (
    SELECT unnest(range(1, len(embedding)+1)) AS pos,
           unnest(embedding) AS val
    FROM embeddings)
),
a AS (
  SELECT pos, CAST(count(*) AS BIGINT) AS n,
    sum(CAST(round(v, 6) AS DECIMAL(18,6))) AS s1,
    sum(CAST(round(v * v, 12) AS DECIMAL(28,12))) AS s2,
    round(min(v), 6) AS vmin, round(max(v), 6) AS vmax
  FROM exploded GROUP BY 1)
SELECT pos, n,
  round(CAST(s1 AS DOUBLE) / n, 6) AS mean,
  round(CAST(s2 AS DOUBLE) / n
        - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 6) AS var,
  vmin, vmax
FROM a
""",
        "multimodal_meta": """
SELECT doc_id AS media_id,
       'application/octet-stream' AS detected_mime,
       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
       CASE WHEN octet_length(CAST(text AS BLOB)) > 0 THEN md5(text) END AS payload_md5
FROM documents
""",
        "embed_neardup": f"""
WITH {_COSINE_CTES},{_NEARDUP_ASSIGN_CTES}
{_NEARDUP_PAIRS_SQL}
""",
        "semdedup": f"""
WITH RECURSIVE {_COSINE_CTES},{_NEARDUP_ASSIGN_CTES},
pairs AS ({_NEARDUP_PAIRS_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(node, lbl) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.lbl
),
comp AS (SELECT node, least(node, min(lbl)) AS cluster_id FROM reach GROUP BY node),
lab AS (
  SELECT v.vec_id, coalesce(c.cluster_id, v.vec_id) AS cluster_id
  FROM v LEFT JOIN comp c ON c.node = v.vec_id
),
sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size FROM lab GROUP BY cluster_id)
SELECT l.vec_id, l.cluster_id, s.cluster_size,
       l.vec_id = l.cluster_id AS is_canonical
FROM lab l JOIN sz s USING (cluster_id)
""",
        "lm_score": f"""
WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
grams AS (
  SELECT doc_id, unnest(t) AS g FROM tk
  UNION ALL
  SELECT tk.doc_id, t[u.i] || ' ' || t[u.i + 1] AS g
  FROM tk, unnest(range(1, len(t))) AS u(i)
),
bk AS (SELECT doc_id,
              CAST(CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 512 AS INT) AS b
       FROM grams),
cnt AS (SELECT b, count(*) AS c FROM bk WHERE doc_id % 5 = 0 GROUP BY b),
tot AS (SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) AS s FROM cnt),
m AS (
  SELECT CAST(sp.b AS INT) AS b,
         round(ln((coalesce(cnt.c, 0) + 1) / (tot.s + 512)), 6) AS logp
  FROM range(0, 512) sp(b)
  CROSS JOIN tot
  LEFT JOIN cnt ON cnt.b = sp.b
)
SELECT d.doc_id,
       CAST(count(bk.b) AS BIGINT) AS n_grams,
       round(-CAST(sum(CAST(m.logp AS DECIMAL(18,6))) AS DOUBLE) / count(bk.b), 6) AS nll
FROM documents d
LEFT JOIN bk ON bk.doc_id = d.doc_id
LEFT JOIN m ON m.b = bk.b
GROUP BY d.doc_id
""",
        "lm_buckets": f"""
WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
grams AS (
  SELECT doc_id, unnest(t) AS g FROM tk
  UNION ALL
  SELECT tk.doc_id, t[u.i] || ' ' || t[u.i + 1] AS g
  FROM tk, unnest(range(1, len(t))) AS u(i)
),
bk AS (SELECT doc_id,
              CAST(CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 512 AS INT) AS b
       FROM grams),
cnt AS (SELECT b, count(*) AS c FROM bk WHERE doc_id % 5 = 0 GROUP BY b),
tot AS (SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) AS s FROM cnt),
m AS (
  SELECT CAST(sp.b AS INT) AS b,
         round(ln((coalesce(cnt.c, 0) + 1) / (tot.s + 512)), 6) AS logp
  FROM range(0, 512) sp(b)
  CROSS JOIN tot
  LEFT JOIN cnt ON cnt.b = sp.b
),
scored AS MATERIALIZED (
  SELECT d.doc_id,
         CAST(count(bk.b) AS BIGINT) AS n_grams,
         round(-CAST(sum(CAST(m.logp AS DECIMAL(18,6))) AS DOUBLE) / count(bk.b), 6) AS nll
  FROM documents d
  LEFT JOIN bk ON bk.doc_id = d.doc_id
  LEFT JOIN m ON m.b = bk.b
  GROUP BY d.doc_id
),
r AS (SELECT nll, row_number() OVER (ORDER BY nll) AS rn, count(*) OVER () AS n
      FROM scored WHERE nll IS NOT NULL),
cut AS (SELECT max(CASE WHEN rn <= ceil(n / 3.0) THEN nll END) AS c1,
               max(CASE WHEN rn <= ceil(2 * n / 3.0) THEN nll END) AS c2
        FROM r)
SELECT doc_id, n_grams, nll,
       CASE WHEN nll IS NULL THEN NULL
            WHEN nll <= cut.c1 THEN 'head'
            WHEN nll <= cut.c2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scored CROSS JOIN cut
""",
        "curate": f"""
WITH rel AS (SELECT doc_id, {_RELINED} AS text FROM documents),
d AS (SELECT doc_id,
        regexp_replace(regexp_replace(regexp_replace(text,
          '{_PII_EMAIL}', '<EMAIL>', 'g'),
          '{_PII_IPV4}', '<IP>', 'g'),
          '{_PII_PHONE}', '<PHONE>', 'g') AS text
      FROM rel),
ctk AS (SELECT doc_id, md5(list_aggregate({_TOKS}, 'string_agg', ' ')) AS content_md5 FROM d),
dedup AS (
  SELECT doc_id, n_copies FROM (
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY content_md5 ORDER BY doc_id) AS INT) AS rn,
           CAST(count(*) OVER (PARTITION BY content_md5) AS BIGINT) AS n_copies
    FROM ctk
  ) WHERE rn = 1
),
ltk AS (SELECT doc_id, list_distinct({_TOKS}) AS t FROM d),
lsc AS (SELECT doc_id, {score_cols} FROM ltk),
lang AS (
  SELECT doc_id,
         CASE WHEN {best} = 0 THEN 'und' {pred_cases_b} END AS lang_pred
  FROM lsc
),
qb AS (SELECT doc_id, text, {_TOKS} AS t FROM d),
qf AS (
  SELECT doc_id,
         CAST(len(t) AS INT) AS n_tokens,
         round(CASE WHEN len(t) > 0
               THEN len(list_filter(t, x -> list_contains(['the','a','of','and','to','in','is','it','on','for'], x))) / len(t)
               ELSE 0.0 END, 6) AS stopword_ratio,
         round(CASE WHEN length(text) > 0
               THEN (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) / length(text)
               ELSE 0.0 END, 6) AS punct_ratio,
         len(t) AS n_tok
  FROM qb
),
quality AS (
  SELECT doc_id, n_tokens,
         round(5 * least(n_tok / 40.0, 1.0)
               + 3 * least(stopword_ratio * 5, 1.0)
               + 2 * (1.0 - least(punct_ratio * 10, 1.0)), 6) AS quality
  FROM qf
),
gb AS (SELECT doc_id, text,
              list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS lines,
              {_TOKS} AS t
       FROM d),
gbase AS (
  SELECT doc_id,
         round(CASE WHEN len(lines) > 0
               THEN 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines)
               ELSE 0.0 END, 6) AS dup_line_frac,
         t
  FROM gb),
ggrams AS (
  SELECT doc_id,
         unnest(CASE WHEN len(t) >= 2
                THEN list_transform(range(0, len(t)-1), i -> t[i+1] || ' ' || t[i+2])
                ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM gbase),
gpg AS (SELECT doc_id, gram, count(*) AS c FROM ggrams GROUP BY doc_id, gram),
gtop AS (SELECT doc_id, max(c) AS tp, sum(c) AS tot FROM gpg GROUP BY doc_id),
gop AS (
  SELECT gbase.doc_id, dup_line_frac,
         round(coalesce(CAST(tp AS DOUBLE) / tot, 0.0), 6) AS top2gram_frac,
         (dup_line_frac <= 0.05
          AND round(coalesce(CAST(tp AS DOUBLE) / tot, 0.0), 6) <= 0.06) AS keep
  FROM gbase LEFT JOIN gtop USING (doc_id)),
surv AS (
  SELECT dd.doc_id, dd.n_copies, l.lang_pred, q.quality,
         g.dup_line_frac, g.top2gram_frac
  FROM dedup dd
  JOIN lang l USING (doc_id)
  JOIN quality q USING (doc_id)
  JOIN gop g USING (doc_id)
  WHERE l.lang_pred IN ('en') AND q.n_tokens >= 30 AND q.quality >= 4.0
        AND g.keep
),
stk AS (SELECT d.doc_id, {_TOKS} AS t FROM d JOIN surv USING (doc_id)),
ttk AS (SELECT doc_id, {_TOKS} AS t FROM rel WHERE doc_id % 7 = 0),
sgr AS (
  SELECT doc_id, unnest(t) AS g FROM stk
  UNION ALL
  SELECT stk.doc_id, t[u.i] || ' ' || t[u.i + 1] AS g
  FROM stk, unnest(range(1, len(t))) AS u(i)
),
tgr AS (
  SELECT doc_id, unnest(t) AS g FROM ttk
  UNION ALL
  SELECT ttk.doc_id, t[u.i] || ' ' || t[u.i + 1] AS g
  FROM ttk, unnest(range(1, len(t))) AS u(i)
),
sbk AS (SELECT doc_id,
               CAST(CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 512 AS INT) AS b
        FROM sgr),
tbk AS (SELECT CAST(CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 512 AS INT) AS b
        FROM tgr),
wct AS (SELECT b, count(*) AS c FROM tbk GROUP BY b),
wcr AS (SELECT b, count(*) AS c FROM sbk GROUP BY b),
wtot AS (SELECT (SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) FROM wct) AS ts,
                (SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) FROM wcr) AS rs),
w AS (
  SELECT CAST(sp.b AS INT) AS b,
         round(ln((coalesce(wct.c, 0) + 1) / (wtot.ts + 512))
               - ln((coalesce(wcr.c, 0) + 1) / (wtot.rs + 512)), 6) AS lr
  FROM range(0, 512) sp(b)
  CROSS JOIN wtot
  LEFT JOIN wct ON wct.b = sp.b
  LEFT JOIN wcr ON wcr.b = sp.b
),
scores AS (
  SELECT s.doc_id,
         CAST(coalesce(sum(CAST(w.lr AS DECIMAL(18,6))), 0) AS DOUBLE) AS score
  FROM surv s
  LEFT JOIN sbk ON sbk.doc_id = s.doc_id
  LEFT JOIN w ON w.b = sbk.b
  GROUP BY s.doc_id
),
sel AS (
  SELECT doc_id, score, sel_rank FROM (
    SELECT doc_id, score,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS sel_rank
    FROM scores
  ) WHERE sel_rank <= 100
),
pb AS (SELECT d.doc_id, md5(CAST(d.doc_id AS VARCHAR)) AS pick,
              CAST(len({_TOKS}) AS BIGINT) AS n_tokens
       FROM d JOIN sel ON sel.doc_id = d.doc_id),
ps AS (SELECT doc_id, CAST((('0x' || substr(pick, 1, 8))::BIGINT % 16) AS INT) AS stream,
              n_tokens, pick
       FROM pb),
packd AS (
  SELECT doc_id, stream, n_tokens,
         CAST(sum(n_tokens) OVER w2 - n_tokens AS BIGINT) AS start_offset,
         CAST(floor((sum(n_tokens) OVER w2 - n_tokens) / 512) AS BIGINT) AS bin
  FROM ps
  WINDOW w2 AS (PARTITION BY stream ORDER BY pick, doc_id ROWS UNBOUNDED PRECEDING)
)
SELECT p.doc_id, p.stream, p.n_tokens, p.start_offset, p.bin,
       s2.n_copies, s2.lang_pred, s2.quality, s2.dup_line_frac, s2.top2gram_frac,
       sel.score, sel.sel_rank
FROM packd p
JOIN surv s2 ON s2.doc_id = p.doc_id
JOIN sel ON sel.doc_id = p.doc_id
""",
        "dsir_score": f"""
WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
grams AS (
  SELECT doc_id, unnest(t) AS g FROM tk
  UNION ALL
  SELECT tk.doc_id, t[u.i] || ' ' || t[u.i + 1] AS g
  FROM tk, unnest(range(1, len(t))) AS u(i)
),
bk AS (SELECT doc_id,
              CAST(CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 512 AS INT) AS b
       FROM grams),
ct AS (SELECT b, count(*) AS c FROM bk WHERE doc_id % 7 = 0 GROUP BY b),
cr AS (SELECT b, count(*) AS c FROM bk GROUP BY b),
tot AS (SELECT (SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) FROM ct) AS ts,
               (SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) FROM cr) AS rs),
w AS (
  SELECT CAST(sp.b AS INT) AS b,
         round(ln((coalesce(ct.c, 0) + 1) / (tot.ts + 512))
               - ln((coalesce(cr.c, 0) + 1) / (tot.rs + 512)), 6) AS lr
  FROM range(0, 512) sp(b)
  CROSS JOIN tot
  LEFT JOIN ct ON ct.b = sp.b
  LEFT JOIN cr ON cr.b = sp.b
)
SELECT d.doc_id,
       CAST(count(bk.b) AS BIGINT) AS n_grams,
       CAST(coalesce(sum(CAST(w.lr AS DECIMAL(18,6))), 0) AS DOUBLE) AS score
FROM documents d
LEFT JOIN bk ON bk.doc_id = d.doc_id
LEFT JOIN w ON w.b = bk.b
GROUP BY d.doc_id
""",
        "signbit_buckets": f"""
WITH {_COSINE_CTES},
planes AS (
  SELECT j, list_transform(range(0, 64), d ->
    CASE WHEN substr(md5(j || '_' || d), 1, 1) BETWEEN '0' AND '7'
         THEN 1.0 ELSE -1.0 END) AS h
  FROM range(0, 16) t(j)
),
bits AS (
  SELECT v.vec_id, p.j,
         CASE WHEN round(list_sum(list_transform(range(1, len(v.e)+1), i -> v.e[i]*p.h[i])), 6) >= 0
              THEN '1' ELSE '0' END AS bit
  FROM v, planes p
)
SELECT vec_id, string_agg(bit, '' ORDER BY j) AS bucket
FROM bits GROUP BY vec_id
""",
        "signbit_neardup": f"""
WITH {_COSINE_CTES},
planes AS (
  SELECT j, list_transform(range(0, 64), d ->
    CASE WHEN substr(md5(j || '_' || d), 1, 1) BETWEEN '0' AND '7'
         THEN 1.0 ELSE -1.0 END) AS h
  FROM range(0, 8) t(j)
),
bits AS (
  SELECT v.vec_id, p.j,
         CASE WHEN round(list_sum(list_transform(range(1, len(v.e)+1), i -> v.e[i]*p.h[i])), 6) >= 0
              THEN '1' ELSE '0' END AS bit
  FROM v, planes p
),
bk AS (SELECT vec_id, string_agg(bit, '' ORDER BY j) AS bucket FROM bits GROUP BY vec_id)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_sum(list_transform(range(1, len(x.e)+1), i -> x.e[i]*y.e[i]))
             / (sqrt(x.nn) * sqrt(y.nn)), 6) AS cos
FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
JOIN n x ON x.vec_id = a.vec_id
JOIN n y ON y.vec_id = b.vec_id
WHERE round(list_sum(list_transform(range(1, len(x.e)+1), i -> x.e[i]*y.e[i]))
            / (sqrt(x.nn) * sqrt(y.nn)), 6) >= 0.25
""",
        # brute-force O(n²) popcount truth for the banded Spark path —
        # the SAME planted-hash derivation (group base ⊕ low-bit mask)
        "image_neardup": """
WITH h AS (
  SELECT doc_id,
         xor(CAST(('0x' || substr(md5(CAST(doc_id // 10 AS VARCHAR)), 1, 15)) AS BIGINT),
             (CAST(1 AS BIGINT) << CAST(doc_id % 10 AS INT)) - 1) AS dh
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.dh, b.dh)) AS INT) AS hamming
FROM h a JOIN h b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.dh, b.dh)) <= 5
""",
        # video_demux: the planted MP4 layout is a pure function of
        # doc_id, so the oracle recomputes the demuxer's expected output
        # (true timestamps + sample-byte md5s) without parsing anything
        "video_demux": """
WITH d AS (
  SELECT doc_id, 4 + doc_id % 5 AS ns FROM documents
), f AS (
  SELECT doc_id, ns, 0 AS frame_idx, 0 AS si FROM d
  UNION ALL SELECT doc_id, ns, 1, (ns - 1) // 2 FROM d
  UNION ALL SELECT doc_id, ns, 2, ns - 1 FROM d
)
SELECT doc_id,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(si * 100 AS BIGINT) AS ts_ms,
       md5('s' || CAST(doc_id AS VARCHAR) || ':' || CAST(si AS VARCHAR) || ';') AS frame_md5,
       CAST(ns AS BIGINT) AS n_samples
FROM f
ORDER BY doc_id, frame_idx
""",
        "url_templates": r"""
WITH d AS (SELECT
  'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example' ||
  CASE WHEN doc_id % 5 = 0 THEN '/product/' || CAST(doc_id AS VARCHAR)
       WHEN doc_id % 5 = 1 THEN '/s/' || md5(CAST(doc_id AS VARCHAR))
       WHEN doc_id % 5 = 2 THEN '/cat/' || CAST(doc_id % 13 AS VARCHAR)
            || '/item' || CAST(doc_id AS VARCHAR)
       WHEN doc_id % 5 = 3 THEN '/about'
       ELSE '/p/' || CAST(doc_id % 97 AS VARCHAR) || '?sid=' || md5(CAST(doc_id AS VARCHAR))
  END AS url
  FROM documents),
u AS (SELECT
  regexp_replace(regexp_extract(lower(url),
    '^[a-z][a-z0-9+.\-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1), '\.$', '') AS host,
  split_part(split_part(regexp_replace(lower(url),
    '^[a-z][a-z0-9+.\-]*://[^/?#]*', ''), '#', 1), '?', 1) AS path
  FROM d),
t AS (SELECT host, path,
  regexp_replace(regexp_replace(regexp_replace(path,
    '\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\b', '{uuid}', 'g'),
    '\b[0-9a-f]{8,}\b', '{hex}', 'g'),
    '[0-9]+', '{n}', 'g') AS template
  FROM u WHERE host <> ''),
g1 AS (SELECT host, template, md5(path) AS pm, count(*) AS cnt,
       min(path) AS ex
       FROM t GROUP BY 1, 2, 3),
g2 AS (SELECT host, template, CAST(sum(cnt) AS BIGINT) AS n_urls,
       CAST(count(*) AS BIGINT) AS n_paths, min(ex) AS example
       FROM g1 GROUP BY 1, 2
       HAVING sum(cnt) >= 2),
r AS (SELECT host, template, n_urls, n_paths, example,
       row_number() OVER (PARTITION BY host ORDER BY n_urls DESC, template) AS rank
       FROM g2)
SELECT host, template, n_urls, n_paths, example, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 5
""",
        "param_stats": r"""
WITH d AS (SELECT
  'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example/p/'
  || CAST(doc_id % 50 AS VARCHAR)
  || '?sid=' || md5(CAST(doc_id AS VARCHAR))
  || '&page=' || CAST(doc_id % 5 AS VARCHAR)
  || CASE WHEN doc_id % 11 = 0 THEN '&flag' ELSE '' END
  || CASE WHEN doc_id % 4 = 0 THEN '&tok=QkE=' ELSE '' END AS url
  FROM documents),
u AS (SELECT
  regexp_replace(regexp_extract(lower(url),
    '^[a-z][a-z0-9+.\-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1), '\.$', '') AS host,
  split_part(regexp_replace(lower(url),
    '^[a-z][a-z0-9+.\-]*://[^/?#]*', ''), '#', 1) AS no_frag
  FROM d),
q AS (SELECT host,
  CASE WHEN position('?' in no_frag) > 0
       THEN substr(no_frag, position('?' in no_frag) + 1) ELSE '' END AS qs
  FROM u WHERE host <> ''),
p AS (SELECT host, unnest(string_split(qs, '&')) AS pair FROM q),
kv AS (SELECT host,
  split_part(pair, '=', 1) AS key,
  CASE WHEN position('=' in pair) > 0
       THEN substr(pair, position('=' in pair) + 1) ELSE '' END AS val
  FROM p WHERE pair <> ''),
g1 AS (SELECT host, key, md5(val) AS vm, count(*) AS cnt
       FROM kv GROUP BY 1, 2, 3),
g2 AS (SELECT host, key, CAST(sum(cnt) AS BIGINT) AS n_occ,
       CAST(count(*) AS BIGINT) AS n_vals,
       CAST(max(cnt) AS BIGINT) AS max_per_val
       FROM g1 GROUP BY 1, 2)
SELECT host, key, n_occ, n_vals, max_per_val,
  round(CAST(n_vals AS DOUBLE) / n_occ, 6) AS distinct_ratio,
  (n_occ >= 5 AND round(CAST(n_vals AS DOUBLE) / n_occ, 6) >= 0.9) AS id_like
FROM g2
""",
        "trap_detect": r"""
WITH d AS (SELECT
  'https://h' || CAST(doc_id % 8 AS VARCHAR) || '.example' ||
  CASE WHEN (doc_id % 8) % 4 = 0 THEN '/cal?day=' || CAST(doc_id AS VARCHAR)
       WHEN (doc_id % 8) % 4 = 1 THEN '/p' || CAST(doc_id AS VARCHAR)
       WHEN (doc_id % 8) % 4 = 2 THEN '/a/b/c/d/e/f/g/h/i/x' || CAST(doc_id AS VARCHAR)
       ELSE '/q/' || CAST(doc_id % 5 AS VARCHAR) || '?s=' || CAST(doc_id AS VARCHAR) END AS url
  FROM documents),
u AS (SELECT
  regexp_replace(regexp_extract(lower(url),
    '^[a-z][a-z0-9+.\-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1), '\.$', '') AS host,
  split_part(regexp_replace(lower(url), '^[a-z][a-z0-9+.\-]*://[^/?#]*', ''),
             '#', 1) AS path_query
  FROM d),
v AS (SELECT host,
  split_part(path_query, '?', 1) AS path,
  CASE WHEN position('?' in path_query) > 0 THEN 1 ELSE 0 END AS has_q
  FROM u),
w AS (SELECT host, md5(path) AS pm, has_q,
  CAST(len(list_filter(string_split(path, '/'), x -> x <> '')) AS BIGINT) AS depth
  FROM v),
g1 AS (SELECT host, pm, count(*) AS cnt, sum(has_q) AS nq, sum(depth) AS sd
       FROM w GROUP BY 1, 2),
g2 AS (SELECT host, CAST(sum(cnt) AS BIGINT) AS n_urls,
       CAST(count(*) AS BIGINT) AS n_paths,
       CAST(max(cnt) AS BIGINT) AS max_per_path,
       sum(nq) AS snq, sum(sd) AS ssd
       FROM g1 GROUP BY 1)
SELECT host, n_urls, n_paths, max_per_path,
  round(snq / n_urls, 6) AS query_frac,
  round(ssd / n_urls, 6) AS mean_depth,
  (n_urls >= 30 AND (max_per_path / n_urls >= 0.5 OR ssd / n_urls >= 8.0)) AS is_trap
FROM g2
""",
        "domain_reputation": rf"""
WITH d AS (SELECT
  'dom' || CAST(doc_id % 12 AS VARCHAR) AS source,
  CASE WHEN doc_id % 12 < 2 THEN 'promo page for domain ' || CAST(doc_id % 12 AS VARCHAR)
         || ' buy cheap widgets now fast free deal today'
       WHEN doc_id % 12 < 4 THEN 'stub '
         || translate(CAST(doc_id AS VARCHAR), '0123456789', 'abcdefghij')
       WHEN doc_id % 12 = 4 THEN
         CASE WHEN doc_id % 24 = 4
              THEN 'same mixed page alpha beta gamma delta epsilon zeta eta'
              ELSE 'varied mixed page '
                || translate(CAST(doc_id AS VARCHAR), '0123456789', 'abcdefghij')
                || ' alpha beta gamma delta epsilon zeta' END
       ELSE 'article ' || translate(CAST(doc_id AS VARCHAR), '0123456789', 'abcdefghij')
         || ' alpha beta gamma delta epsilon zeta eta theta iota' END AS text
  FROM documents),
t AS (SELECT source, {_TOKS} AS tok FROM d),
p AS (SELECT source, md5(list_aggregate(tok, 'string_agg', ' ')) AS cm,
        CAST(len(tok) AS BIGINT) AS n_tok FROM t),
q AS (SELECT source, cm, n_tok,
        CASE WHEN n_tok < 10 THEN 1 ELSE 0 END AS is_short FROM p),
g1 AS (SELECT source, cm, count(*) AS cnt, sum(is_short) AS ns, sum(n_tok) AS st
       FROM q GROUP BY 1, 2),
g2 AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(max(cnt) AS BIGINT) AS max_copies,
       sum(ns) AS n_short, sum(st) AS sum_tok
       FROM g1 GROUP BY 1)
SELECT source, n_docs,
  round(1 - n_distinct / n_docs, 6) AS dup_ratio,
  max_copies,
  round(n_short / n_docs, 6) AS short_frac,
  round(sum_tok / n_docs, 6) AS mean_tokens,
  NOT (n_docs >= 5 AND ((1 - n_distinct / n_docs) >= 0.5
                        OR (n_short / n_docs) >= 0.5)) AS keep
FROM g2
""",
        "ccnet_dedup": r"""
WITH d AS (SELECT doc_id,
  CASE WHEN doc_id % 5 = 1 THEN 'Posted on 2024-01-02: breaking news item '
         || substr('abcdefghij', CAST(doc_id % 10 AS INT) + 1, 1)
       WHEN doc_id % 5 = 2 THEN 'posted on 2025-11-30 breaking news item '
         || substr('abcdefghij', CAST(doc_id % 10 AS INT) + 1, 1)
       WHEN doc_id % 5 = 3 THEN 'Offer ' || substr('pqrstuv', CAST(doc_id % 7 AS INT) + 1, 1)
         || ' price 1,234.99 today!!!'
       WHEN doc_id % 5 = 4 THEN 'offer ' || substr('pqrstuv', CAST(doc_id % 7 AS INT) + 1, 1)
         || ' price 9.876,54 today'
       ELSE 'plain document '
         || translate(CAST(doc_id AS VARCHAR), '0123456789', 'abcdefghij') END AS text
  FROM documents),
n AS (SELECT doc_id,
  -- explicit ws class: Java \s has \x0B, RE2's does not (cross-engine contract)
  md5(trim(regexp_replace(regexp_replace(regexp_replace(
    lower(text), '\p{Nd}', '0', 'g'), '\p{P}', '', 'g'), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS content_md5
  FROM d),
r AS (SELECT doc_id, content_md5,
        row_number() OVER (PARTITION BY content_md5 ORDER BY doc_id) AS rn,
        CAST(count(*) OVER (PARTITION BY content_md5) AS BIGINT) AS n_copies
      FROM n)
SELECT doc_id, content_md5, n_copies FROM r WHERE rn = 1
""",
        "incremental_dedup": rf"""
WITH corpus AS (SELECT DISTINCT md5(list_aggregate({_TOKS}, 'string_agg', ' ')) AS content_md5
                FROM documents),
b AS (SELECT doc_id + 1000000 AS doc_id,
  CASE WHEN doc_id % 4 = 0 THEN text
       WHEN doc_id % 4 = 1 THEN 'fresh shared page ' || CAST(doc_id % 5 AS VARCHAR)
       ELSE 'brand new page '
         || translate(CAST(doc_id AS VARCHAR), '0123456789', 'abcdefghij') END AS text
  FROM documents),
d AS (SELECT doc_id, md5(list_aggregate({_TOKS}, 'string_agg', ' ')) AS content_md5 FROM b),
firsts AS (SELECT content_md5, min(doc_id) AS first_id FROM d GROUP BY 1),
hits AS (SELECT DISTINCT f.content_md5 FROM firsts f JOIN corpus c USING (content_md5))
SELECT d.doc_id, d.content_md5,
  (h.content_md5 IS NULL AND d.doc_id = f.first_id) AS keep,
  CASE WHEN h.content_md5 IS NOT NULL THEN 'corpus_dup'
       WHEN d.doc_id <> f.first_id THEN 'batch_dup' END AS reason
FROM d JOIN firsts f USING (content_md5) LEFT JOIN hits h USING (content_md5)
""",
        # the SHARED pair-graph + closure CTEs (one point of truth with
        # neardup_clusters), then the md5-bucket split on the CLUSTER id
        "leak_split": f"""
WITH RECURSIVE {_MINHASH_CTES},
{_NEARDUP_CC_CTES}
SELECT doc_id, cluster_id,
  CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 4) < '4000'
       THEN 'valid' ELSE 'train' END AS split
FROM lab
""",
        "mirror_hosts": rf"""
WITH d AS (SELECT
  'h' || CAST(doc_id % 12 AS VARCHAR) AS host,
  CASE WHEN doc_id % 12 < 2 THEN 'mirror page '
         || translate(CAST(doc_id // 12 AS VARCHAR), '0123456789', 'abcdefghij')
       WHEN doc_id % 12 = 2 THEN 'semi ' || CAST((doc_id // 12) % 40 AS VARCHAR)
       WHEN doc_id % 12 = 3 THEN 'semi ' || CAST((doc_id // 12) % 40 + 20 AS VARCHAR)
       WHEN doc_id % 12 < 8 THEN 'global footer boilerplate'
       ELSE 'solo ' || translate(CAST(doc_id AS VARCHAR), '0123456789', 'abcdefghij') END AS text
  FROM documents),
hd AS (SELECT DISTINCT host, md5(list_aggregate({_TOKS}, 'string_agg', ' ')) AS digest FROM d),
cold AS (SELECT hd.* FROM hd
         JOIN (SELECT digest FROM hd GROUP BY digest HAVING count(*) <= 3) k
         USING (digest)),
tot AS (SELECT host, CAST(count(*) AS BIGINT) AS n FROM cold GROUP BY host),
p AS (SELECT a.host AS host_a, b.host AS host_b, CAST(count(*) AS BIGINT) AS n_shared
      FROM cold a JOIN cold b ON a.digest = b.digest AND a.host < b.host
      GROUP BY 1, 2)
SELECT host_a, host_b, n_shared, ta.n AS n_a, tb.n AS n_b,
  round(n_shared / (ta.n + tb.n - n_shared), 6) AS jaccard,
  (n_shared / (ta.n + tb.n - n_shared)) >= 0.5 AS is_mirror
FROM p JOIN tot ta ON ta.host = p.host_a JOIN tot tb ON tb.host = p.host_b
""",
        "datasheet": rf"""
WITH tk AS (SELECT lang, source, {_TOKS} AS t,
              CAST(strlen(text) AS BIGINT) AS b FROM documents),
pd AS (SELECT lang, source,
         md5(list_aggregate(t, 'string_agg', ' ')) AS cm,
         CAST(len(t) AS BIGINT) AS nt, b FROM tk),
g1 AS (SELECT lang, source, cm, count(*) AS cnt, sum(nt) AS st,
         sum(b) AS sb,
         sum(CASE WHEN nt < 10 THEN 1 ELSE 0 END) AS ns
       FROM pd GROUP BY 1, 2, 3),
g2 AS (SELECT lang, source,
         CAST(sum(cnt) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(max(cnt) AS BIGINT) AS max_copies,
         CAST(sum(st) AS BIGINT) AS n_tokens,
         CAST(sum(sb) AS BIGINT) AS n_bytes,
         CAST(sum(ns) AS BIGINT) AS n_short
       FROM g1 GROUP BY 1, 2),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS td,
               CAST(sum(n_tokens) AS BIGINT) AS tt FROM g2)
SELECT lang, source, n_docs,
  round(1 - n_distinct / n_docs, 6) AS dup_ratio,
  max_copies, n_tokens, n_bytes,
  round(n_short / n_docs, 6) AS short_frac,
  round(n_tokens / n_docs, 6) AS mean_tokens,
  round(n_docs / td, 6) AS doc_share,
  round(n_tokens / tt, 6) AS token_share
FROM g2, tot
""",
        "epoch_mix": """
WITH spec(lang, n_full, thr) AS (VALUES ('en', 2, '8000'), ('fr', 0, '4000')),
b AS (SELECT doc_id, d.lang,
        substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS bucket,
        coalesce(s.n_full, 1)
          + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                      < coalesce(s.thr, '0000') THEN 1 ELSE 0 END AS copies
      FROM documents d LEFT JOIN spec s ON s.lang = d.lang)
SELECT doc_id, lang, bucket, CAST(unnest(generate_series(1, copies)) AS INT) AS epoch
FROM b WHERE copies >= 1
""",
        "canonical_dedup": r"""
WITH d AS (SELECT doc_id,
    'https://ex.com/u' || CAST(doc_id AS VARCHAR) AS url,
    CASE WHEN doc_id % 10 <= 2 THEN
           '<head><link rel="canonical" href="https://ex.com/c'
             || CAST(doc_id // 7 AS VARCHAR) || '"/></head>'
         WHEN doc_id % 10 = 3 THEN
           '<head><link href=''https://ex.com/c'
             || CAST(doc_id // 7 AS VARCHAR) || ''' REL=''CANONICAL''></head>'
         WHEN doc_id % 10 = 4 THEN '<head><link rel="canonical" href=""></head>'
         ELSE '<head><title>t</title></head>' END AS html
  FROM documents),
k AS (SELECT url, coalesce(
        nullif(regexp_extract(html,
          '(?i)<link[^>]*\brel\s*=\s*["'']canonical["''][^>]*\bhref\s*=\s*["'']([^"'']+)["'']', 1), ''),
        nullif(regexp_extract(html,
          '(?i)<link[^>]*\bhref\s*=\s*["'']([^"'']+)["''][^>]*\brel\s*=\s*["'']canonical["'']', 1), ''),
        url) AS canon_target
      FROM d)
SELECT min(url) AS url, canon_target, CAST(count(*) AS BIGINT) AS n_aliases
FROM k GROUP BY canon_target
""",
        "meta_robots": r"""
WITH d AS (SELECT doc_id,
    'https://ex.com/u' || CAST(doc_id AS VARCHAR) AS url,
    CASE doc_id % 8
      WHEN 0 THEN '<meta name="robots" content="noindex, nofollow">'
      WHEN 1 THEN '<META CONTENT=''NOFOLLOW'' NAME=''ROBOTS''>'
      WHEN 2 THEN '<meta name="robots" content="none">'
      WHEN 3 THEN '<meta name="robots" content="index, follow">'
      WHEN 4 THEN '<head><title>t</title></head>'
      WHEN 5 THEN '<meta name="robots" content="nonestandard,noindexing">'
      WHEN 6 THEN '<meta name="googlebot" content="noindex">'
      ELSE '<meta name=''robots'' content=''noindex''>' END AS html
  FROM documents),
c AS (SELECT url, coalesce(
        nullif(regexp_extract(html,
          '(?i)<meta[^>]*\bname\s*=\s*["'']robots["''][^>]*\bcontent\s*=\s*["'']([^"'']*)["'']', 1), ''),
        nullif(regexp_extract(html,
          '(?i)<meta[^>]*\bcontent\s*=\s*["'']([^"'']*)["''][^>]*\bname\s*=\s*["'']robots["'']', 1), ''),
        '') AS content
      FROM d)
SELECT url,
  (regexp_matches(content, '(?i)(^|[,\s])noindex([,\s]|$)')
   OR regexp_matches(content, '(?i)(^|[,\s])none([,\s]|$)')) AS noindex,
  (regexp_matches(content, '(?i)(^|[,\s])nofollow([,\s]|$)')
   OR regexp_matches(content, '(?i)(^|[,\s])none([,\s]|$)')) AS nofollow
FROM c
""",
        "host_budget": """
WITH h AS (SELECT DISTINCT 'h' || CAST(doc_id % 50 AS VARCHAR) AS host,
                  doc_id % 50 AS m FROM documents),
f AS (SELECT host,
        CASE WHEN m < 10 THEN m < 5 ELSE false END AS is_trap,
        CASE WHEN m >= 10 AND m < 20 THEN m % 2 = 0 ELSE true END AS keep,
        CAST(CASE WHEN m >= 20 AND m < 35 THEN m % 3 ELSE 2 END AS INT) AS priority
      FROM h)
SELECT host, is_trap, keep, priority,
  CAST(CASE WHEN is_trap OR NOT keep THEN 0
            ELSE 100 * (CASE priority WHEN 0 THEN 4 WHEN 1 THEN 2 ELSE 1 END)
       END AS BIGINT) AS budget
FROM f
""",
        "postings": rf"""
WITH tf AS (
  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({_TOKS}) AS term FROM documents)
  GROUP BY 1, 2),
r AS (SELECT term, doc_id, tf,
        row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rank
      FROM tf WHERE tf >= 2)
SELECT term, doc_id, tf, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5
""",
        "hop_distance": rf"""
WITH RECURSIVE e AS (SELECT DISTINCT src, dst FROM ({_EDGES_SQL})),
seeds(node) AS (SELECT CAST(v AS BIGINT) FROM (VALUES (0), (47), (200)) s(v)),
bfs(node, hop) AS (
  SELECT node, 0 AS hop FROM seeds
  UNION
  SELECT e.dst, b.hop + 1 FROM bfs b JOIN e ON e.src = b.node WHERE b.hop < 4
)
SELECT node, CAST(min(hop) AS INT) AS hop FROM bfs GROUP BY node
""",
        "degree_stats": rf"""
WITH e AS (SELECT DISTINCT src, dst FROM ({_EDGES_SQL})),
o AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS out_deg FROM e GROUP BY 1),
i AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS in_deg FROM e GROUP BY 1),
m AS (SELECT node,
        CAST(coalesce(out_deg, 0) AS BIGINT) AS out_deg,
        CAST(coalesce(in_deg, 0) AS BIGINT) AS in_deg
      FROM o FULL OUTER JOIN i USING (node))
SELECT node, out_deg, in_deg,
  CAST(length(bin(out_deg + in_deg)) AS INT) AS deg_bucket
FROM m
""",
        "content_drift": r"""
WITH caps AS (
  SELECT
    'https://host' || CAST((doc_id % 200) % 20 AS VARCHAR)
      || '.example/p/' || CAST(doc_id % 200 AS VARCHAR) AS url,
    CAST(1600000000 + doc_id * 3600 AS BIGINT) AS ts,
    md5('body-' || CAST((doc_id % 200) % 5 AS VARCHAR)
        || CASE WHEN CAST((doc_id - doc_id % 200) / 200 AS BIGINT)
                     >= (doc_id % 200) % 3 + 1
                THEN '-changed' ELSE '' END) AS dg
  FROM documents),
f AS (
  SELECT url, ts,
    CASE WHEN lag(dg) OVER w IS NOT NULL AND dg <> lag(dg) OVER w
         THEN 1 ELSE 0 END AS chg
  FROM caps WINDOW w AS (PARTITION BY url ORDER BY ts)),
a AS (
  SELECT url, CAST(count(*) AS BIGINT) AS n_captures,
         CAST(sum(chg) AS BIGINT) AS n_changes,
         min(ts) AS first_ts, max(ts) AS last_ts
  FROM f GROUP BY 1)
SELECT url, n_captures, n_changes,
  CASE WHEN n_captures > 1
       THEN round(CAST(n_changes AS DOUBLE) / (n_captures - 1), 6) END
    AS change_rate,
  first_ts, last_ts,
  CAST(CASE WHEN n_changes > 0
            THEN floor(CAST(last_ts - first_ts AS DOUBLE) / n_changes) END
       AS BIGINT) AS est_interval_s
FROM a
""",
        "sitemap_gap": r"""
WITH dd AS (
  SELECT DISTINCT
    'host' || CAST((doc_id % 300) % 20 AS VARCHAR) || '.example' AS host,
    'https://host' || CAST((doc_id % 300) % 20 AS VARCHAR)
      || '.example/p/' || CAST(doc_id % 300 AS VARCHAR) AS u
  FROM documents),
cc AS (
  SELECT DISTINCT host, u FROM (
    SELECT 'host' || CAST(doc_id % 20 AS VARCHAR) || '.example' AS host,
           'https://host' || CAST(doc_id % 20 AS VARCHAR)
             || '.example/p/' || CAST(doc_id AS VARCHAR) AS u
    FROM documents WHERE doc_id % 3 <> 0
    UNION ALL
    SELECT 'host' || CAST(doc_id % 20 AS VARCHAR) || '.example',
           'https://host' || CAST(doc_id % 20 AS VARCHAR)
             || '.example/q/' || CAST(doc_id AS VARCHAR)
    FROM documents WHERE doc_id % 7 = 0)),
nd AS (SELECT host, CAST(count(*) AS BIGINT) AS n_declared FROM dd GROUP BY 1),
nc AS (SELECT host, CAST(count(*) AS BIGINT) AS n_crawled FROM cc GROUP BY 1),
nm AS (SELECT dd.host, CAST(count(*) AS BIGINT) AS n_matched
       FROM dd JOIN cc ON dd.u = cc.u GROUP BY 1),
m AS (
  SELECT host,
    CAST(coalesce(n_declared, 0) AS BIGINT) AS n_declared,
    CAST(coalesce(n_crawled, 0) AS BIGINT) AS n_crawled,
    CAST(coalesce(n_matched, 0) AS BIGINT) AS n_matched
  FROM nd FULL OUTER JOIN nc USING (host) FULL OUTER JOIN nm USING (host))
SELECT host, n_declared, n_crawled, n_matched,
  CASE WHEN n_declared > 0
       THEN round(CAST(n_matched AS DOUBLE) / n_declared, 6) END AS coverage,
  CAST(n_crawled - n_matched AS BIGINT) AS n_undeclared
FROM m
""",
        "sessionize": r"""
WITH base AS (SELECT user_id AS entity, epoch_us(ts) AS us FROM events),
f AS (
  SELECT entity, us,
    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
         THEN 1 ELSE 0 END AS nw
  FROM base WINDOW w AS (PARTITION BY entity ORDER BY us)),
s AS (
  SELECT entity, us,
    sum(nw) OVER (PARTITION BY entity ORDER BY us ROWS UNBOUNDED PRECEDING)
      AS session_idx
  FROM f)
SELECT entity, CAST(session_idx AS INT) AS session_idx,
  CAST(count(*) AS BIGINT) AS n_events,
  min(us) AS start_us, max(us) AS end_us,
  max(us) - min(us) AS duration_us
FROM s GROUP BY 1, 2
""",
        "error_streaks": r"""
WITH base AS (
  SELECT user_id AS entity, epoch_us(ts) AS us,
    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS err
  FROM events),
g AS (
  SELECT entity, us, err,
    row_number() OVER (PARTITION BY entity ORDER BY us)
      - row_number() OVER (PARTITION BY entity, err ORDER BY us) AS isl,
    CASE WHEN us = max(us) OVER (PARTITION BY entity) THEN 1 ELSE 0 END AS lastf
  FROM base),
st AS (SELECT entity, isl, CAST(count(*) AS BIGINT) AS len
       FROM g WHERE err = 1 GROUP BY 1, 2),
ag AS (SELECT entity, CAST(count(*) AS BIGINT) AS n_streaks,
              max(len) AS max_streak
       FROM st GROUP BY 1),
tot AS (SELECT entity, CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(err) AS BIGINT) AS n_errors,
               max(CASE WHEN lastf = 1 THEN err END) AS tail
        FROM g GROUP BY 1)
SELECT t.entity, n_events, n_errors,
  CAST(coalesce(n_streaks, 0) AS BIGINT) AS n_streaks,
  CAST(coalesce(max_streak, 0) AS BIGINT) AS max_streak,
  tail = 1 AS ends_in_streak
FROM tot t LEFT JOIN ag USING (entity)
""",
        "redirects": r"""
WITH RECURSIVE redir AS (
  SELECT doc_id % 1000 AS src, doc_id % 1000 - 1 AS dst
  FROM documents WHERE (doc_id % 1000) % 10 <> 0
  UNION ALL
  SELECT 5000 + doc_id % 3, 5000 + (doc_id % 3 + 1) % 3 FROM documents
  UNION ALL
  SELECT CAST(4999 AS BIGINT), CAST(5000 AS BIGINT)
  FROM documents WHERE doc_id % 500 = 0),
r AS (SELECT src AS node, min(dst) AS nxt FROM redir GROUP BY 1),
walk(node, cur, hops) AS (
  SELECT node, nxt, 1 AS hops FROM r
  UNION ALL
  SELECT w.node, r2.nxt, w.hops + 1
  FROM walk w JOIN r r2 ON r2.node = w.cur WHERE w.hops < 16),
term AS (
  SELECT node, cur, hops FROM walk
  WHERE cur NOT IN (SELECT node FROM r))
SELECT r.node AS src, t.cur AS final, CAST(t.hops AS INT) AS hops,
  t.cur IS NOT NULL AS resolved
FROM r LEFT JOIN term t USING (node)
""",
    }
    from crawl_spark.operators.search import bm25_oracle_sql

    sql["bm25"] = bm25_oracle_sql(_BM25_QUERIES, _TOKS, k=10)

    from crawl_spark.operators.graph import neighborhood_function_oracle_sql

    sql["neighborhood_fn"] = neighborhood_function_oracle_sql(
        """SELECT doc_id % 97 AS src, (doc_id * 7 + 3) % 97 AS dst
FROM documents
UNION ALL
SELECT doc_id % 50, (doc_id + 1) % 50 FROM documents""",
        max_t=3,
    )

    from crawl_spark.operators.theta import theta_intersect_oracle_sql

    sql["theta_overlap"] = theta_intersect_oracle_sql(
        "SELECT lang, 'https://p/' || (doc_id % 300) AS url FROM documents",
        "SELECT lang, 'https://p/' || (doc_id % 300 + 200) AS url"
        " FROM documents",
        "url",
        ("lang",),
        4096,
    )

    from crawl_spark.operators.graph import harmonic_centrality_oracle_sql

    sql["harmonic"] = harmonic_centrality_oracle_sql(
        """SELECT doc_id % 97 AS src, (doc_id * 7 + 3) % 97 AS dst
FROM documents
UNION ALL
SELECT doc_id % 50, (doc_id + 1) % 50 FROM documents""",
        max_t=3,
    )

    from crawl_spark.operators.freq import mg_topk_oracle_sql

    sql["mg_hosts"] = mg_topk_oracle_sql(
        "SELECT lang, 'h' || (doc_id % 37) || '.example' AS host"
        " FROM documents",
        "host",
        ("lang",),
    )

    from crawl_spark.operators.urlfilter import robots_verdicts_oracle_sql

    _rw_rules = " UNION ALL ".join(
        f"SELECT '{h}' AS host, '{p}' AS pattern, {a} AS allow"
        for h, p, a in _ROBOTS_WILDCARD_RULES
    )
    sql["robots_wildcard"] = robots_verdicts_oracle_sql(
        """SELECT 'h' || (doc_id % 2) || '.example' AS host,
       '/dir' || (doc_id % 5) || '/page' || (doc_id % 11)
       || CASE WHEN doc_id % 3 = 0 THEN '.php'
               WHEN doc_id % 3 = 1 THEN '/'
               ELSE '' END AS path
FROM documents""",
        _rw_rules,
    )

    from crawl_spark.operators.sessions import host_policy_oracle_sql

    sql["host_policy"] = host_policy_oracle_sql(
        "SELECT * FROM events",
        robots_sql=(
            "SELECT DISTINCT user_id AS entity,"
            " 1500 + user_id * 10 AS robots_delay_ms"
            " FROM events WHERE user_id % 3 = 0"
        ),
    )

    # asset_filter: the extension regex and the kind mapping are IMPORTED
    # from the operator (one source of truth), the CASE generated from it
    from crawl_spark.operators.urlfilter import _EXT_RE, ASSET_KINDS

    _kind_case = "CASE " + " ".join(
        f"WHEN ext IN ({', '.join(repr(e) for e in exts)}) THEN '{k}'"
        for k, exts in ASSET_KINDS.items()
    ) + " ELSE 'page' END"
    sql["asset_filter"] = f"""
WITH u AS (
  SELECT 'https://host' || CAST(doc_id % 20 AS VARCHAR) || '.example/'
    || CASE WHEN doc_id % 13 = 0 THEN 'a.b/c' || CAST(doc_id AS VARCHAR)
            WHEN doc_id % 10 = 8 THEN 'p' || CAST(doc_id AS VARCHAR)
            ELSE 'p' || CAST(doc_id AS VARCHAR) || '.'
                 || list_extract(['html','png','css','js','pdf','zip',
                                  'mp4','woff2','','php'],
                                 CAST(doc_id % 10 + 1 AS INT))
       END
    || CASE WHEN doc_id % 4 = 0 THEN '?a=1&b=2' ELSE '' END AS url
  FROM documents),
e AS (SELECT url, regexp_extract(lower(url), '{_EXT_RE}', 1) AS ext FROM u)
SELECT url, ext, {_kind_case} AS kind,
  ({_kind_case}) = 'page' AS fetch_html
FROM e
"""
    # decontaminate_bloom is exactness-preserving by construction (Bloom
    # negatives are authoritative; positives verify on md5) — its oracle
    # is the broadcast path's oracle verbatim.
    sql["decontaminate_bloom"] = sql["decontaminate"]
    return sql
