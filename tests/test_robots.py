"""robots.txt parsing → engine politeness table (REP group selection,
prefix rules, crawl-delay) and end-to-end enforcement equivalence."""

from __future__ import annotations

import pandas as pd

from crawl_spark.functions.robots import parse_robots_txt, robots_table

SAMPLE = """
# comment line
User-agent: googlebot
Disallow: /google-only/

User-agent: crawl-spark
User-agent: otherbot
Disallow: /private/
Disallow: /tmp
Crawl-delay: 2.5

User-agent: *
Disallow: /all-blocked/
Crawl-delay: 9
"""


def test_group_selection_most_specific_wins():
    got = parse_robots_txt(SAMPLE, agent="crawl-spark")
    assert got["disallow"] == ["/private/", "/tmp"]
    assert got["crawl_delay"] == 2.5
    # unknown agent falls back to the * group
    star = parse_robots_txt(SAMPLE, agent="nobody")
    assert star["disallow"] == ["/all-blocked/"]
    assert star["crawl_delay"] == 9.0
    # longest UA token wins over *
    goog = parse_robots_txt(SAMPLE, agent="Googlebot/2.1")
    assert goog["disallow"] == ["/google-only/"]


def test_parse_edge_cases():
    assert parse_robots_txt(None) == {
        "disallow": [], "allow": [], "crawl_delay": 0.0, "sitemaps": [],
    }
    assert parse_robots_txt("") == {
        "disallow": [], "allow": [], "crawl_delay": 0.0, "sitemaps": [],
    }
    # bytes bodies, BOM, case-insensitive fields, empty Disallow = allow
    body = b"\xef\xbb\xbfUSER-AGENT: *\nDISALLOW:\ndisallow: /x\nCRAWL-DELAY: zzz\n"
    got = parse_robots_txt(body)
    assert got["disallow"] == ["/x"]
    assert got["crawl_delay"] == 0.0  # malformed delay ignored
    # rules before any UA line are ignored (no active group)
    assert parse_robots_txt("Disallow: /early\nUser-agent: *\nDisallow: /ok\n")[
        "disallow"
    ] == ["/ok"]


def test_robots_table_feeds_engine(spark, tiny_fixture, tmp_path_factory):
    """Parsing raw robots.txt bodies must enforce identically to the
    pre-parsed robots fixture table."""
    from crawl_spark.plans.engine import CrawlEngine, EngineConfig
    from crawl_spark.plans.handlers import Handler, HandlerRegistry

    fixture = pd.read_parquet(tiny_fixture["robots"])
    bodies = []
    for r in fixture.to_dict("records"):
        lines = ["User-agent: *"]
        lines += ["Disallow: %s" % p for p in r["disallow"]]
        if r["crawl_delay"]:
            lines.append("Crawl-delay: %s" % r["crawl_delay"])
        bodies.append({"host": r["host"], "body": "\n".join(lines)})
    parsed = robots_table(spark.createDataFrame(pd.DataFrame(bodies)))

    reg = HandlerRegistry()
    reg.register("page", Handler(name="page", text_selector="body", link_selector="a"))
    mk = lambda robots_df, wd: CrawlEngine(  # noqa: E731
        spark,
        spark.read.parquet(tiny_fixture["pages"]),
        reg,
        robots_df=robots_df,
        config=EngineConfig(batch_cap=40, max_rounds=3, workdir=wd),
    )
    seeds = pd.read_parquet(tiny_fixture["seeds"])
    base = mk(
        spark.read.parquet(tiny_fixture["robots"]),
        str(tmp_path_factory.mktemp("rb_base")),
    ).run(seeds)
    via_txt = mk(parsed, str(tmp_path_factory.mktemp("rb_txt"))).run(seeds)
    assert via_txt.read_transcript(spark) == base.read_transcript(spark)
    assert via_txt.counters == base.counters


def test_resume_rejects_changed_robots(spark, tiny_fixture, tmp_path_factory):
    """The manifest pins a fingerprint of the politeness inputs: resuming
    a workdir under DIFFERENT robots rules must fail loudly (the frontier
    log's predicate-deletes would silently reconstruct a different
    frontier), while resuming with the SAME rules works."""
    import pytest

    from crawl_spark.plans.engine import CrawlEngine, EngineConfig
    from crawl_spark.plans.handlers import Handler, HandlerRegistry

    reg = HandlerRegistry()
    reg.register("page", Handler(name="page", text_selector="body", link_selector="a"))
    wd = str(tmp_path_factory.mktemp("rb_fp"))
    mk = lambda robots_df: CrawlEngine(  # noqa: E731
        spark,
        spark.read.parquet(tiny_fixture["pages"]),
        reg,
        robots_df=robots_df,
        config=EngineConfig(batch_cap=40, max_rounds=4, workdir=wd),
    )
    robots = spark.read.parquet(tiny_fixture["robots"])
    seeds = pd.read_parquet(tiny_fixture["seeds"])
    mk(robots).run(seeds, max_rounds=2)
    # same robots -> resume OK
    mk(robots).run(seeds, max_rounds=3, resume=True)
    # different rules -> refused (resume AND frontier read)
    other = robots.limit(1)
    with pytest.raises(ValueError, match="robots"):
        mk(other).run(seeds, max_rounds=4, resume=True)
    with pytest.raises(ValueError, match="robots"):
        mk(other).read_table("frontier")


def test_sitemap_lines_are_global(spark):
    """REP: Sitemap lines are collected from anywhere in the file,
    independent of user-agent groups; empty values are skipped."""
    from crawl_spark.functions.robots import parse_robots_txt, sitemap_urls_table

    body = """
Sitemap: https://a.example/sitemap.xml
User-agent: googlebot
Disallow: /private
Sitemap: https://a.example/sitemap-news.xml
User-agent: *
Disallow: /tmp
Sitemap:
sitemap: https://a.example/sitemap-2.xml.gz
"""
    p = parse_robots_txt(body, agent="crawl-spark")
    assert p["sitemaps"] == [
        "https://a.example/sitemap.xml",
        "https://a.example/sitemap-news.xml",
        "https://a.example/sitemap-2.xml.gz",
    ]
    # group selection is unaffected: * group applies to us
    assert p["disallow"] == ["/tmp"]

    # Google-parser semantics: a Sitemap line between UA lines does NOT
    # split the group — both agents share the rules that follow
    merged = parse_robots_txt(
        "User-agent: crawl-spark\nSitemap: https://x/s.xml\n"
        "User-agent: other\nDisallow: /private\n",
        agent="crawl-spark",
    )
    assert merged["disallow"] == ["/private"]
    assert merged["sitemaps"] == ["https://x/s.xml"]

    df = spark.createDataFrame(
        [("a.example", body), ("b.example", "User-agent: *\nDisallow:"),
         ("c.example", "Sitemap: https://c.example/s.xml")],
        "host string, body string",
    )
    rows = sorted(
        (r["host"], r["sitemap_url"]) for r in sitemap_urls_table(df).collect()
    )
    assert rows == [
        ("a.example", "https://a.example/sitemap-2.xml.gz"),
        ("a.example", "https://a.example/sitemap-news.xml"),
        ("a.example", "https://a.example/sitemap.xml"),
        ("c.example", "https://c.example/s.xml"),
    ]


def test_robots_rules_table_explodes_allow_and_disallow(spark):
    from crawl_spark.functions.robots import robots_rules_table

    body = (
        "User-agent: crawl-spark\n"
        "Disallow: /private/\n"
        "Allow: /private/public*\n"
        "Disallow: /*.php$\n"
        "Allow:\n"  # empty Allow = no-op, dropped
        "\nUser-agent: *\nDisallow: /everything\n"
    )
    df = spark.createDataFrame([("h.example", body)], "host string, body string")
    got = sorted(
        (r["host"], r["pattern"], r["allow"])
        for r in robots_rules_table(df).collect()
    )
    assert got == [
        ("h.example", "/*.php$", 0),
        ("h.example", "/private/", 0),
        ("h.example", "/private/public*", 1),
    ]


def test_robots_verdicts_rfc9309_precedence(spark):
    """The googlebot/robots.cc matching contract end to end: * spans
    octets, trailing $ anchors, longest pattern wins, Allow beats
    Disallow on equal length, LIKE metachars (% _) in patterns and
    paths stay literal, no-rule hosts and no-match paths are allowed."""
    from crawl_spark.functions.robots import robots_rules_table
    from crawl_spark.operators.urlfilter import robots_verdicts

    body = (
        "User-agent: *\n"
        "Disallow: /fish\n"
        "Allow: /fish/salmon\n"
        "Disallow: /*.php\n"
        "Disallow: /page$\n"
        "Disallow: /p_t%x\n"
        "Disallow: /a*b$\n"
        "Allow: /dup\n"
        "Disallow: /dup\n"  # equal length: Allow wins
    )
    rules = robots_rules_table(
        spark.createDataFrame([("a.example", body)], "host string, body string")
    )
    cases = {
        "/fish/cod": (False, "/fish"),
        "/fish/salmon/x": (True, "/fish/salmon"),
        "/dir/x.php": (False, "/*.php"),
        "/dir/x.phpX": (False, "/*.php"),  # unanchored rule = prefix
        "/page": (False, "/page$"),
        "/pageX": (True, None),  # anchored rule must not prefix-match
        "/p_t%x-more": (False, "/p_t%x"),  # literal _ and %
        "/pXt%x": (True, None),  # '_' must NOT wildcard-match 'X'
        "/aZZZb": (False, "/a*b$"),
        "/aZZZbX": (True, None),
        "/dup/x": (True, "/dup"),
        "/other": (True, None),
    }
    urls = spark.createDataFrame(
        [("a.example", p) for p in cases] + [("norules.example", "/x")],
        "host string, path string",
    )
    got = {
        (r["host"], r["path"]): (r["allowed"], r["matched_pattern"])
        for r in robots_verdicts(urls, rules).collect()
    }
    for path, want in cases.items():
        assert got[("a.example", path)] == want, (path, got[("a.example", path)])
    assert got[("norules.example", "/x")] == (True, None)


def test_robots_verdicts_matches_python_reference(spark):
    """Randomized parity vs a pure-Python RFC 9309 matcher (fnmatch-free
    — explicit greedy '*' walk), over generated patterns/paths."""
    import random

    from crawl_spark.operators.urlfilter import robots_verdicts

    def match(path, pat):
        anchored = pat.endswith("$")
        if anchored:
            pat = pat[:-1]
        segs = pat.split("*")
        pos, start = 0, True
        for i, seg in enumerate(segs):
            if start:
                if not path.startswith(seg):
                    return False
                pos = len(seg)
                start = False
            else:
                j = path.find(seg, pos)
                if j < 0:
                    return False
                pos = j + len(seg)
        if anchored:
            # last segment must reach the end (greedy tail)
            return path.endswith(segs[-1]) and (
                len(segs) == 1 and pos == len(path) or len(segs) > 1
            )
        return True

    rng = random.Random(42)
    alphabet = "ab/.%_"
    pats = []
    for i in range(40):
        core = "/" + "".join(rng.choice(alphabet + "*") for _ in range(rng.randint(1, 6)))
        if rng.random() < 0.3:
            core += "$"
        pats.append((core, rng.randint(0, 1)))
    paths = list(
        {
            "/" + "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 8)))
            for _ in range(120)
        }
    )

    def verdict(path):
        best = None
        for pat, allow in pats:
            if match(path, pat):
                key = (len(pat), allow, [-ord(c) for c in pat])
                if best is None or key > best[0]:
                    best = (key, allow, pat)
        if best is None:
            return (True, None)
        return (best[1] == 1, best[2])

    rules = spark.createDataFrame(
        [("h", p, a) for p, a in pats], "host string, pattern string, allow int"
    )
    urls = spark.createDataFrame([("h", p) for p in paths], "host string, path string")
    got = {
        r["path"]: (r["allowed"], r["matched_pattern"])
        for r in robots_verdicts(urls, rules).collect()
    }
    for p in paths:
        assert got[p] == verdict(p), (p, got[p], verdict(p))
