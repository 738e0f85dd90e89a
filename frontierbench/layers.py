"""Per-layer probes for the traced run: the pure-Python kernels of
``crawl_spark.functions``, the Python boundary of the two Python stages
(extract ``mapInPandas`` and ``canonicalize_udf``) and
``operators.topk.ranked_topk``. Each is timed from benchmark code around
the layer's public functions."""

from __future__ import annotations

import statistics
import time
from typing import Iterator

import pandas as pd

from crawl_spark.functions.canon_udf import canon_row, canonicalize_udf
from crawl_spark.functions.hashing import murmur3_32, url_hash64
from crawl_spark.functions.htmldom import extract_links, parse_html, sel_text

KERNEL_PAGES = 200  # fetched pages per kernel sample
KERNEL_REPS = 3

EXTRACT_SCHEMA = "url string, text string, links array<string>"


def fetched_urls(golden: dict, pages: dict) -> list[str]:
    """The golden's fetched pages (transcript hits), in crawl order."""
    return [u for batch in golden["transcript"] for u in batch if u in pages]


def kernel_costs(pages: dict, urls: list[str]) -> dict:
    """µs per page of extract and µs per link of canon_row and of its
    hashes, each the median of KERNEL_REPS passes over the same sample."""
    sample = urls[:KERNEL_PAGES]
    extract, canon, hashes = [], [], []
    for _ in range(KERNEL_REPS):
        links = []
        t0 = time.perf_counter()
        for u in sample:
            root = parse_html(pages[u])
            sel_text(root, "body")
            links += extract_links(root, u, "a")
        extract.append((time.perf_counter() - t0) / len(sample))
        t0 = time.perf_counter()
        rows = [canon_row(link) for link in links]
        canon.append((time.perf_counter() - t0) / len(links))
        valid = [(r["url_canon"], r["host"].encode("utf-8")) for r in rows if r["url_canon"]]
        t0 = time.perf_counter()
        for u, host in valid:
            url_hash64(u)
            murmur3_32(host)
        hashes.append((time.perf_counter() - t0) / len(valid))
    return {
        "functions.extract_us_per_page": statistics.median(extract) * 1e6,
        "functions.canon_us_per_link": statistics.median(canon) * 1e6,
        "functions.hash_us_per_link": statistics.median(hashes) * 1e6,
    }


def _identity(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    yield from batches


def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The extract stage's kernel through public htmldom functions."""
    for pdf in batches:
        texts, links = [], []
        for u, h in zip(pdf["url"], pdf["html"]):
            root = parse_html(h)
            texts.append(sel_text(root, "body"))
            links.append(extract_links(root, u, "a"))
        yield pd.DataFrame({"url": pdf["url"], "text": texts, "links": links})


def _noop_s(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def arrow_costs(spark, pages_dir: str, urls: list[str]) -> dict:
    """Seconds for each Python-boundary layer over the fetched pages and
    their links, with a noop sink: identity (Arrow transfer alone) and the
    full stage (transfer + kernel)."""
    from pyspark.sql import functions as F

    fetched = spark.createDataFrame(pd.DataFrame({"url": urls}), "url string")
    rows = (
        spark.read.parquet(pages_dir)
        .join(F.broadcast(fetched), "url")
        .select("url", "html")
        .localCheckpoint(eager=True)
    )
    out = {
        "arrow.extract_identity_s": _noop_s(rows.mapInPandas(_identity, rows.schema)),
        "arrow.extract_stage_s": _noop_s(rows.mapInPandas(_extract, EXTRACT_SCHEMA)),
    }
    links = (
        rows.mapInPandas(_extract, EXTRACT_SCHEMA)
        .select(F.explode("links").alias("link"))
        .localCheckpoint(eager=True)
    )

    @F.pandas_udf("string")
    def identity_udf(s: pd.Series) -> pd.Series:
        return s

    out["arrow.canon_identity_s"] = _noop_s(links.select(identity_udf("link")))
    out["arrow.canon_udf_s"] = _noop_s(
        links.select(canonicalize_udf(F.col("link"), F.lit(None).cast("string")))
    )
    return out


def ranked_topk_s(frontier, k: int) -> float:
    """``ranked_topk`` over a frontier snapshot, taking ``k`` rows."""
    from crawl_spark.operators.topk import ranked_topk
    from crawl_spark.plans.engine import FIFO_KEY

    t0 = time.perf_counter()
    ranked_topk(frontier, FIFO_KEY, k, pos_col="batch_pos").write.format("noop").mode(
        "overwrite"
    ).save()
    return time.perf_counter() - t0
