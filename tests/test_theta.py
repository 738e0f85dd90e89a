"""KMV/theta sketch: exact-regime intersection equals the true
overlap, saturated-regime error bounds, merge ≡ whole, DuckDB oracle
parity in both regimes (per stratum and for one global stratum),
disjoint/missing-stratum semantics, guards."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from crawl_spark.operators.theta import (
    theta_estimate,
    theta_intersect,
    theta_intersect_oracle_sql,
    theta_merge,
    theta_sketch,
)


def _campaigns():
    A = [("en" if i % 2 else "de", f"https://p/{i}") for i in range(3000)]
    B = [
        ("en" if i % 2 else "de", f"https://p/{i + 1500}") for i in range(3000)
    ]
    true = {
        lang: len(
            {u for l, u in A if l == lang} & {u for l, u in B if l == lang}
        )
        for lang in ("en", "de")
    }
    return A, B, true


def test_exact_regime_intersection_is_exact(spark):
    A, B, true = _campaigns()
    ka = theta_sketch(
        spark.createDataFrame(A, "lang string, url string"), "url", ("lang",), 4096
    )
    kb = theta_sketch(
        spark.createDataFrame(B, "lang string, url string"), "url", ("lang",), 4096
    )
    got = {
        r["lang"]: (r["n_common_sample"], r["overlap_est"])
        for r in theta_intersect(ka, kb, ("lang",), 4096).collect()
    }
    for lang, t in true.items():
        assert got[lang] == (t, float(t)), lang  # θ=1: exact count


def test_saturated_regime_bounds_and_oracle_parity(spark):
    """k=256 on 1500-distinct strata: cardinality within 5·(1/√(k−2)),
    intersection within a looser 4× of that (intersection variance is
    amplified by the overlap fraction), and BOTH regimes hash-match
    the DuckDB oracle."""
    A, B, true = _campaigns()
    dfa = spark.createDataFrame(A, "lang string, url string")
    dfb = spark.createDataFrame(B, "lang string, url string")
    con = duckdb.connect()
    con.register("sa", pd.DataFrame(A, columns=["lang", "url"]))
    con.register("sb", pd.DataFrame(B, columns=["lang", "url"]))
    for k in (4096, 256):
        ka = theta_sketch(dfa, "url", ("lang",), k)
        kb = theta_sketch(dfb, "url", ("lang",), k)
        got = sorted(
            tuple(r) for r in theta_intersect(ka, kb, ("lang",), k).collect()
        )
        want = sorted(
            tuple(r)
            for r in con.execute(
                theta_intersect_oracle_sql(
                    "SELECT lang, url FROM sa",
                    "SELECT lang, url FROM sb",
                    "url",
                    ("lang",),
                    k,
                )
            ).fetchall()
        )
        assert got == want, k
    sigma = 1.0 / (254**0.5)
    card = {
        r["lang"]: r["n_distinct_est"]
        for r in theta_estimate(
            theta_sketch(dfa, "url", ("lang",), 256), ("lang",), 256
        ).collect()
    }
    for lang in ("en", "de"):
        assert abs(card[lang] - 1500) / 1500 <= 5 * sigma, card
    over = {
        r["lang"]: r["overlap_est"]
        for r in theta_intersect(
            theta_sketch(dfa, "url", ("lang",), 256),
            theta_sketch(dfb, "url", ("lang",), 256),
            ("lang",),
            256,
        ).collect()
    }
    for lang, t in true.items():
        assert abs(over[lang] - t) / t <= 20 * sigma, (lang, over)


def test_merge_equals_whole_and_disjoint_zero(spark):
    A, _, _ = _campaigns()
    dfa = spark.createDataFrame(A, "lang string, url string")
    h1 = dfa.where(F.crc32("url") % 2 == 0)
    h2 = dfa.subtract(h1)
    m = theta_merge(
        theta_sketch(h1, "url", ("lang",), 256),
        theta_sketch(h2, "url", ("lang",), 256),
        strata=("lang",),
        k=256,
    )
    key = lambda d: sorted((r["lang"], r["hv"]) for r in d.collect())
    assert key(m) == key(theta_sketch(dfa, "url", ("lang",), 256))

    # disjoint sets: 0-overlap row (a statement, not an absent row);
    # a stratum present on one side only emits NO row
    other = spark.createDataFrame(
        [("en", "https://q/%d" % i) for i in range(500)]
        + [("fr", "https://q/x")],
        "lang string, url string",
    )
    out = {
        r["lang"]: (r["n_common_sample"], r["overlap_est"])
        for r in theta_intersect(
            theta_sketch(dfa, "url", ("lang",), 256),
            theta_sketch(other, "url", ("lang",), 256),
            ("lang",),
            256,
        ).collect()
    }
    assert out["en"] == (0, 0.0)
    assert "fr" not in out and "de" not in out


def test_global_stratum_matches_oracle(spark):
    """strata=(): one global stratum — sketch, merge and intersection
    take their no-strata paths (ranked_topk, cross joins) and still
    hash-match the DuckDB oracle in both regimes; a disjoint pair gives
    the one 0-overlap row."""
    A, B, _ = _campaigns()
    dfa = spark.createDataFrame(A, "lang string, url string")
    dfb = spark.createDataFrame(B, "lang string, url string")
    con = duckdb.connect()
    con.register("sa", pd.DataFrame(A, columns=["lang", "url"]))
    con.register("sb", pd.DataFrame(B, columns=["lang", "url"]))
    true = len({u for _, u in A} & {u for _, u in B})
    for k in (4096, 256):
        ka = theta_sketch(dfa, "url", (), k)
        kb = theta_sketch(dfb, "url", (), k)
        got = [tuple(r) for r in theta_intersect(ka, kb, (), k).collect()]
        want = con.execute(
            theta_intersect_oracle_sql(
                "SELECT url FROM sa", "SELECT url FROM sb", "url", (), k
            )
        ).fetchall()
        assert got == [tuple(r) for r in want], k
        if k == 4096:
            assert got == [(true, float(true))]  # θ=1: exact count
    h1 = dfa.where(F.crc32("url") % 2 == 0)
    m = theta_merge(
        theta_sketch(h1, "url", (), 256),
        theta_sketch(dfa.subtract(h1), "url", (), 256),
        strata=(),
        k=256,
    )
    key = lambda d: sorted(r["hv"] for r in d.collect())
    assert key(m) == key(theta_sketch(dfa, "url", (), 256))
    other = spark.createDataFrame([("en", "https://q/x")], "lang string, url string")
    out = theta_intersect(
        theta_sketch(dfa, "url", (), 256), theta_sketch(other, "url", (), 256), (), 256
    ).collect()
    assert [tuple(r) for r in out] == [(0, 0.0)]


def test_guards(spark):
    df = spark.createDataFrame([("en", "u")], "lang string, url string")
    with pytest.raises(ValueError, match="k must be"):
        theta_sketch(df, "url", ("lang",), k=1)
    with pytest.raises(ValueError, match="strata"):
        theta_sketch(df, "url", ("nope",))
    # NULL values dropped
    dfn = spark.createDataFrame(
        [("en", "u"), ("en", None)], "lang string, url string"
    )
    assert theta_sketch(dfn, "url", ("lang",), 16).count() == 1
