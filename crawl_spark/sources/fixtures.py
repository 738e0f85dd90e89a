"""Deterministic synthetic Common-Crawl-style fixtures (FIXTURES.md §1-3).

Seed-42, no wall clock: identical tables on every run. The ``pages.text``
column is the GOLDEN extracted text: it is assembled from the grammar's
known word tokens while the HTML is assembled independently with noise
(entities, nested tags, Unicode whitespace runs, malformed hrefs) — so the
engine's extractor is genuinely tested for byte-identity, not compared
against itself.

Grammar coverage (SURVEY.md §2.4 / FIXTURES.md): nested tags, HTML
entities, relative + absolute + malformed links, img/src + data-photo,
forms with checked/selected defaults, numbers with ',' separators,
multi-whitespace and Unicode-whitespace runs. Host sizes are Zipf(1.2)
for deliberate hot-host skew (salting/AQE tests).
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pandas as pd

_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor "
    "whiskey xray yankee zulu amber basalt cobalt dune ember flint garnet "
    "harbor iris jasper krypton lumen meadow nectar onyx prism quartz river "
    "slate topaz umbra vortex willow zenith"
).split()

_LANGS = ["en", "de", "fr", "pl", "ja"]

_BASE_TS = dt.datetime(2026, 1, 1, 0, 0, 0)

# Unicode whitespace runs the normalizer must collapse (all in Go White_Space)
_WS_RUNS = ["  ", "\t\n", "   ", "　", " \r\n\t ", "  "]


def _zipf_hosts(rng: random.Random, n_pages: int, n_hosts: int) -> list[int]:
    weights = [1.0 / (k + 1) ** 1.2 for k in range(n_hosts)]
    return rng.choices(range(n_hosts), weights=weights, k=n_pages)


def host_name(h: int) -> str:
    return "host%d.example" % h


def page_url(h: int, i: int) -> str:
    return "http://%s/p/%d" % (host_name(h), i)


def _link_variants(rng: random.Random, h: int, i: int, target_host: int, j: int):
    """A messy href that canonicalizes to page_url(target_host, j)."""
    if target_host == h:
        kind = rng.randrange(5)
        if kind == 0:
            return "/p/%d" % j
        if kind == 1:
            return "%d" % j  # relative to /p/<i>'s dir -> /p/<j>
        if kind == 2:
            return "../p/%d" % j
        if kind == 3:
            return "/p/%d#frag" % j  # fragment stripped by canonicalization
        return page_url(h, j)
    kind = rng.randrange(3)
    if kind == 0:
        return page_url(target_host, j)
    if kind == 1:
        return "HTTP://%s/p/%d" % (host_name(target_host).upper(), j)
    return "http://%s:80/p/%d" % (host_name(target_host), j)  # default port


def gen_pages(
    n_pages: int,
    n_hosts: int = 50,
    seed: int = 42,
    links_per_page: int = 6,
    filler_paras: int = 0,
) -> pd.DataFrame:
    """Generate the pages table: (url, warc_ts, html, text, lang).

    ``filler_paras`` appends that many extra deterministic paragraphs per
    page (≈500 B each): 0 keeps the compact unit-test pages (~1 KB);
    ~20 produces Common-Crawl-realistic ~12 KB bodies for benchmarks.
    The golden ``text`` column stays consistent with the html.
    """
    rng = random.Random(seed)
    hosts = _zipf_hosts(rng, n_pages, n_hosts)
    by_host: dict[int, list[int]] = {}
    for i, h in enumerate(hosts):
        by_host.setdefault(h, []).append(i)

    urls, tss, htmls, texts, langs = [], [], [], [], []
    for i, h in enumerate(hosts):
        body_html: list[str] = []
        body_words: list[str] = []

        def words(k: int) -> list[str]:
            return [_WORDS[rng.randrange(len(_WORDS))] for _ in range(k)]

        def ws() -> str:
            return _WS_RUNS[rng.randrange(len(_WS_RUNS))]

        # h1 with entity + nested tag: "<h1>w0 & <b>w1</b> w2</h1>"
        w = words(3)
        body_html.append(
            "<h1>%s%s&amp;%s<b>%s</b> %s</h1>" % (w[0], ws(), ws(), w[1], w[2])
        )
        body_words += [w[0], "&", w[1], w[2]]

        # paragraphs with messy whitespace and nesting
        for _ in range(2 + rng.randrange(3)):
            w = words(4)
            body_html.append(
                "<p>%s%s<i>%s</i>%s%s %s</p>" % (w[0], ws(), w[1], ws(), w[2], w[3])
            )
            body_words += w

        # bench realism: long filler paragraphs (real web pages are tens
        # of KB; the compact default exists for fast unit tests)
        for _ in range(filler_paras):
            w = words(60)
            body_html.append(
                "<p>%s <b>%s</b> %s</p>"
                % (" ".join(w[:20]), " ".join(w[20:24]), " ".join(w[24:]))
            )
            body_words += w

        # entity soup paragraph: &lt;tag&gt; -> "<tag>"
        w = words(1)
        body_html.append("<p>&lt;%s&gt; &quot;q&quot;</p>" % w[0])
        body_words += ["<%s>" % w[0], '"q"']

        # numeric fields with ',' separators (ParseUint / ParseFloat targets)
        uint_val = rng.randrange(1000, 9_999_999)
        float_val = "%d,%d" % (rng.randrange(1, 500), rng.randrange(1, 99))
        uint_txt = "{:,}".format(uint_val)
        body_html.append('<span class="num">%s</span>' % uint_txt)
        body_html.append('<span class="price"> %s </span>' % float_val)
        body_words += [uint_txt, float_val]

        # links: intra-host + cross-host + malformed + duplicate
        same = by_host[h]
        lis = []
        for k in range(links_per_page):
            if rng.random() < 0.7 and len(same) > 1:
                j = same[rng.randrange(len(same))]
                href = _link_variants(rng, h, i, h, j)
            else:
                th = hosts[rng.randrange(n_pages)]
                j = by_host[th][rng.randrange(len(by_host[th]))]
                href = _link_variants(rng, h, i, th, j)
            anchor = words(1)[0]
            lis.append('<li><a href="%s">%s</a></li>' % (href, anchor))
            body_words.append(anchor)
            if k == 0 and rng.random() < 0.3:  # duplicate link (dedup test)
                lis.append('<li><a href="%s">%s</a></li>' % (href, anchor))
                body_words.append(anchor)
        if rng.random() < 0.2:  # malformed href: silently skipped
            lis.append('<li><a href="bad\x01url">skipme</a></li>')
            body_words.append("skipme")
        if rng.random() < 0.15:  # dangling link -> fetch miss when followed
            lis.append('<li><a href="/p/missing-%d">ghost</a></li>' % i)
            body_words.append("ghost")
        # newline-join so adjacent anchors don't glue into one text token
        body_html.append('<ul class="nav">\n%s\n</ul>' % "\n".join(lis))

        # media attrs (no text contribution)
        body_html.append('<img src="/img/%d.jpg" data-photo="photo-%d">' % (i, i))

        # form with defaults (checked radio, selected option)
        w = words(2)
        body_html.append(
            '<form action="/submit/%d" id="f">' % i
            + '<input type="text" name="q" value="q%d">' % i
            + '<input type="submit" name="s" value="go">'
            + '<input type="radio" name="r" value="a">'
            + '<input type="radio" name="r" value="b" checked="checked">'
            + '<select name="c"><option value="o1">%s</option>\n' % w[0]
            + '<option value="o2" selected="selected">%s</option></select>' % w[1]
            + "</form>"
        )
        body_words += [w[0], w[1]]

        title = " ".join(words(2))
        html = (
            "<html><head><title>%s%s</title></head>\n<body>\n%s\n</body></html>"
            % (ws(), title, "\n".join(body_html))
        )
        urls.append(page_url(h, i))
        tss.append(_BASE_TS + dt.timedelta(seconds=i))
        htmls.append(html.encode("utf-8"))
        texts.append(" ".join(" ".join(body_words).split()))
        langs.append(_LANGS[rng.randrange(len(_LANGS))])

    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": tss,
            "html": htmls,
            "text": texts,
            "lang": langs,
        }
    )


def gen_seeds(pages: pd.DataFrame, n_seeds: int = 10, seed: int = 43) -> pd.DataFrame:
    """Seed list: messy variants of real page URLs (canonicalization
    exercise), a couple of misses, glob-matching callback names."""
    rng = random.Random(seed)
    urls = list(pages["url"])
    rows = []
    for k in range(n_seeds):
        u = urls[rng.randrange(len(urls))]
        variant = rng.randrange(4)
        if variant == 1:
            u = u.replace("http://", "HTTP://").replace("host", "HOST", 1)
        elif variant == 2:
            u = u + "#top"
        elif variant == 3:
            u = u.replace(".example/", ".example:80/")
        rows.append(
            {
                "url": u,
                "method": None,
                "referer": None,
                "form": None,
                "query": None,
                "cookies": None,
                "header": None,
                "raw": False,
                "callbacks": ["page", "list"] if k % 3 == 0 else ["page"],
                "priority": int(k % 3),
            }
        )
    for k in range(2):  # fetch-miss seeds
        rows.append(
            {
                "url": "http://nowhere%d.example/x" % k,
                "method": None,
                "referer": None,
                "form": None,
                "query": None,
                "cookies": None,
                "header": None,
                "raw": False,
                "callbacks": ["page"],
                "priority": 0,
            }
        )
    return pd.DataFrame(rows)


def gen_robots(n_hosts: int = 50, seed: int = 44) -> pd.DataFrame:
    """Politeness fixture: crawl-delay + disallow prefixes per host.

    delay semantics (pinned in SURVEY.md §2.2): 0 => unlimited;
    0<d<=1 => floor-ish budget per 1.0s round; d>1 => one fetch every d
    rounds. host0 (the hottest) gets a real delay so skew interacts with
    politeness in tests.
    """
    rng = random.Random(seed)
    rows = []
    for h in range(n_hosts):
        r = rng.random()
        if r < 0.3:
            delay = 0.0
        elif r < 0.6:
            delay = rng.choice([0.2, 0.25, 0.5])
        elif r < 0.85:
            delay = rng.choice([1.0, 2.0])
        else:
            delay = rng.choice([3.0, 5.0])
        disallow = []
        if rng.random() < 0.25:
            disallow = ["/submit/", "/p/%d" % rng.randrange(200)]
        rows.append(
            {"host": host_name(h), "disallow": disallow, "crawl_delay": delay}
        )
    return pd.DataFrame(rows)


SCALES = {"tiny": 500, "small": 20_000, "bench": 2_000_000}


def write_fixture(out_dir: str, scale: str = "tiny", n_hosts: int = 50) -> dict:
    """Write pages/seeds/robots parquet under out_dir; returns paths."""
    os.makedirs(out_dir, exist_ok=True)
    n = SCALES[scale]
    pages = gen_pages(n, n_hosts=n_hosts)
    seeds = gen_seeds(pages, n_seeds=10 if scale != "bench" else 100)
    robots = gen_robots(n_hosts=n_hosts)
    paths = {}
    for name, df in (("pages", pages), ("seeds", seeds), ("robots", robots)):
        p = os.path.join(out_dir, "%s.parquet" % name)
        # µs timestamps: Spark's reader rejects TIMESTAMP(NANOS)
        df.to_parquet(p, index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
        paths[name] = p
    return paths


def gen_embeddings(n: int, dim: int = 32, seed: int = 42) -> pd.DataFrame:
    """Deterministic embeddings for similarity-search tests."""
    rs = np.random.RandomState(seed)
    vecs = rs.normal(size=(n, dim)).astype(np.float32)
    return pd.DataFrame(
        {"vec_id": np.arange(n), "embedding": list(vecs), "label": rs.randint(0, 10, n)}
    )


# hive-partition column of the bucketed pages layout; the engine prunes
# its pages scan on it when EngineConfig.pages_buckets is set
PAGES_BUCKET_COL = "pb"


def write_bucketed_pages(pages_df, out_dir: str, buckets: int, col: str = PAGES_BUCKET_COL):
    """Write the pages table in the engine's bucketed fetch layout:
    hive-partitioned by ``col = pmod(hash(url), buckets)`` (Spark murmur3,
    the same expression ``EngineConfig.pages_buckets`` prunes on). On a
    real deployment the Iceberg table spec declares
    ``bucket(buckets, url)``; over plain parquet the hive partition column
    carries the identical pruning semantics. Returns ``out_dir``."""
    from pyspark.sql import functions as F

    (
        pages_df.withColumn(col, F.pmod(F.hash("url"), F.lit(buckets)).cast("int"))
        .repartition(col)
        .write.mode("overwrite")
        .partitionBy(col)
        .parquet(out_dir)
    )
    return out_dir
