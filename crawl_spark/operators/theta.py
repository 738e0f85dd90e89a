"""Mergeable KMV/theta sketch (Beyer et al. SIGMOD'07 k-minimum
values; Dasgupta et al.'s theta-sketch framing) — the SET-OPERATION
arm of the sketch family.

Why it exists: HLL registers answer "how many distinct?" per set, and
their MAX-merge answers unions — but an INTERSECTION has no HLL merge
(inclusion-exclusion over HLL estimates explodes the error when the
overlap is small). The crawl questions that need intersections are
real: how many urls did campaigns A and B both fetch? how much of this
seed list did last epoch already cover? The KMV sketch answers them
with the bottom-k hash values per stratum: below θ (the k-th smallest
hash, as a fraction of hash space) BOTH sketches retain EVERY member,
so the intersection of the retained samples below min(θ_A, θ_B) is an
exact sample of A ∩ B, scaled by 1/θ.

Design (the repo's cross-engine determinism discipline):

* hash = the module-standard md5 split: hv = first 13 hex chars as a
  52-bit integer (`operators/hll.py` contract) — exact integers on
  Spark, DuckDB and Python alike; the sketch is literally "the k
  smallest hv per stratum after distinct", which is
  `operators/topk.grouped_topk` — bottom-k without a hot-stratum
  window, the same machinery the crawl batch selection uses.
* a sketch with FEWER than k rows is UNSATURATED: it holds every
  distinct value's hash, θ = 1 (full knowledge), and every estimate
  degrades to an EXACT count — the KLL/MG exact-regime trick, giving
  the contract query a hash-matching plain-SQL oracle while the
  saturated regime's error bounds (σ ≈ 1/√(k−2) relative) are
  pytest-pinned.
* estimators are single-rounded float expressions over exact
  integers — ((k−1)·2^52)/hv_k for cardinality, n_common·(2^52/θ)
  for intersections — identical left-associated arithmetic on both
  engines, rounded once at 6 dp (the repo float rule).
* merge = union ∪ distinct ∪ bottom-k again: idempotent, commutative,
  order-free; sketch(A) ⊕ sketch(B) ≡ sketch(A ∪ B) EXACTLY (the
  bottom-k of a union is the bottom-k of the union of bottom-ks).

Plan shape at 100 TB: one codegen md5 projection + one distinct +
grouped_topk's partition-local prune — the value column crosses the
wire only as ≤ P·k candidate integers per stratum; every downstream
set operation is a join between ≤ k-row-per-stratum frames
(dimension-sized, broadcast).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "theta_sketch",
    "theta_merge",
    "theta_estimate",
    "theta_intersect",
    "theta_intersect_oracle_sql",
]

_HSPACE = float(1 << 52)


def _strata_cols(df: DataFrame, strata: tuple[str, ...]) -> list[str]:
    missing = set(strata) - {f.name for f in df.schema.fields}
    if missing:
        raise ValueError(f"theta: strata not in df: {sorted(missing)}")
    return list(strata)


def _hv(col) -> "F.Column":
    h = F.md5(col.cast("string").cast("binary"))
    return F.conv(F.substring(h, 1, 13), 16, 10).cast("bigint")


def _join_strata(
    left: DataFrame, right: DataFrame, sc: list[str], how: str
) -> DataFrame:
    """Join on the strata columns. With ``strata=()`` each side holds
    one global stratum, so the rows pair up by an explicit cross join
    (a left join keeps its unmatched rows through an always-true
    condition instead)."""
    if sc:
        return left.join(right, sc, how)
    if how == "inner":
        return left.crossJoin(right)
    return left.join(right, F.lit(True), how)


def theta_sketch(
    df: DataFrame,
    value_col: str = "url",
    strata: tuple[str, ...] = ("host",),
    k: int = 1024,
) -> DataFrame:
    """Bottom-k distinct hash values of ``value_col`` per stratum:
    ``(*strata, hv)``, ≤ k rows per stratum. NULL values dropped.
    The mergeable artifact — persist per round/campaign and
    :func:`theta_merge` across any number of them."""
    if k < 2:
        raise ValueError("theta_sketch: k must be >= 2")
    sc = _strata_cols(df, strata)
    from .topk import grouped_topk, ranked_topk

    hv = (
        df.where(F.col(value_col).isNotNull())
        .select(*sc, _hv(F.col(value_col)).alias("hv"))
        .distinct()
    )
    if sc:
        return grouped_topk(hv, sc, ["hv"], k)
    return ranked_topk(hv, ["hv"], k, pos_col="__pos").drop("__pos")


def theta_merge(
    first: DataFrame,
    *rest: DataFrame,
    strata: tuple[str, ...] = ("host",),
    k: int = 1024,
) -> DataFrame:
    """Merge sketches (same strata, same k): union + distinct +
    bottom-k. Exact: merge(sk(A), sk(B)) ≡ sk(A ∪ B) bit for bit."""
    sc = _strata_cols(first, strata)
    from .topk import grouped_topk, ranked_topk

    out = first.select(*sc, "hv")
    for r in rest:
        out = out.unionByName(r.select(*sc, "hv"))
    out = out.distinct()
    if sc:
        return grouped_topk(out, sc, ["hv"], k)
    return ranked_topk(out, ["hv"], k, pos_col="__pos").drop("__pos")


def _agg_theta(sk: DataFrame, sc: list[str], k: int) -> DataFrame:
    """Per stratum: (n_rows, theta_hv) — θ as the k-th smallest hash
    when saturated, 2^52 ("every member retained") when not."""
    return sk.groupBy(*sc).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max("hv").alias("__maxhv"),
    ).select(
        *sc,
        "n_rows",
        F.when(F.col("n_rows") >= k, F.col("__maxhv"))
        .otherwise(F.lit(1 << 52))
        .alias("theta_hv"),
    )


def theta_estimate(
    sk: DataFrame,
    strata: tuple[str, ...] = ("host",),
    k: int = 1024,
) -> DataFrame:
    """Cardinality per stratum from a sketch: exact row count when
    unsaturated, else the KMV estimator (k−1)·2^52 / hv_k; 6 dp."""
    sc = _strata_cols(sk, strata)
    agg = _agg_theta(sk, sc, k)
    est = F.when(
        F.col("n_rows") < k,
        F.col("n_rows").cast("double"),
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(_HSPACE) / F.col("theta_hv").cast("double")
    )
    return agg.select(
        *sc,
        F.col("n_rows"),
        F.round(est, 6).alias("n_distinct_est"),
    )


def theta_intersect(
    a: DataFrame,
    b: DataFrame,
    strata: tuple[str, ...] = ("host",),
    k: int = 1024,
) -> DataFrame:
    """Intersection cardinality per stratum from two sketches:
    ``(*strata, n_common_sample, overlap_est)``. Below
    θ = min(θ_A, θ_B) both sketches retain every member, so the common
    hashes under θ are an exact sample of A ∩ B scaled by 1/θ; with
    both sides unsaturated (θ = 1) the estimate IS the exact overlap.
    Strata present in only one input emit no row (no evidence about
    the other set there). All frames are ≤ k rows per stratum —
    dimension-sized joins."""
    sc = _strata_cols(a, strata)
    ta = _agg_theta(a, sc, k).select(*sc, F.col("theta_hv").alias("__ta"))
    tb = _agg_theta(b, sc, k).select(*sc, F.col("theta_hv").alias("__tb"))
    theta = _join_strata(ta, tb, sc, "inner").select(
        *sc, F.least("__ta", "__tb").alias("__theta")
    )
    pairs = a.select(*sc, "hv").join(b.select(*sc, "hv"), [*sc, "hv"], "inner")
    common = (
        _join_strata(pairs, theta, sc, "inner")
        .where(F.col("hv") < F.col("__theta"))
        .groupBy(*sc, "__theta")
        .agg(F.count(F.lit(1)).alias("n_common_sample"))
    )
    # strata with no common hash below theta still get a 0 row (the
    # estimate "no observed overlap" is a statement, not absence)
    base = _join_strata(
        theta, common.select(*sc, "n_common_sample"), sc, "left"
    ).select(
        *sc,
        F.coalesce("n_common_sample", F.lit(0)).alias("n_common_sample"),
        "__theta",
    )
    est = F.col("n_common_sample").cast("double") * (
        F.lit(_HSPACE) / F.col("__theta").cast("double")
    )
    return base.select(
        *sc,
        F.col("n_common_sample").cast("long").alias("n_common_sample"),
        F.round(est, 6).alias("overlap_est"),
    )


def theta_intersect_oracle_sql(
    inner_a: str,
    inner_b: str,
    value_col: str = "url",
    strata: tuple[str, ...] = ("host",),
    k: int = 1024,
) -> str:
    """DuckDB twin of ``theta_intersect(theta_sketch(A),
    theta_sketch(B))``: identical md5 hv, bottom-k via row_number,
    identical θ rule and single-rounded estimator arithmetic."""
    sc = ", ".join(strata)
    scp = (sc + ",") if strata else ""
    part = f"PARTITION BY {sc}" if strata else ""
    on = " AND ".join([f"a.{c} = b.{c}" for c in strata] + ["a.hv = b.hv"])
    t_on = (
        " AND ".join(f"ta.{c} = tb.{c}" for c in strata) if strata else "1=1"
    )
    c_on = (
        " AND ".join(f"c.{c} = t.{c}" for c in strata) if strata else "1=1"
    )
    asel = ", ".join(f"a.{c}" for c in strata)
    tsel = ", ".join(f"ta.{c}" for c in strata)
    tsel2 = ", ".join(f"t.{c}" for c in strata)
    return f"""
WITH xa AS ({inner_a}),
xb AS ({inner_b}),
ha AS (
  SELECT DISTINCT {scp} CAST('0x' ||
    substr(md5(CAST({value_col} AS VARCHAR)), 1, 13) AS BIGINT) AS hv
  FROM xa WHERE {value_col} IS NOT NULL
),
hb AS (
  SELECT DISTINCT {scp} CAST('0x' ||
    substr(md5(CAST({value_col} AS VARCHAR)), 1, 13) AS BIGINT) AS hv
  FROM xb WHERE {value_col} IS NOT NULL
),
ska AS (
  SELECT * FROM (
    SELECT *, row_number() OVER ({part} ORDER BY hv) AS rn FROM ha
  ) WHERE rn <= {k}
),
skb AS (
  SELECT * FROM (
    SELECT *, row_number() OVER ({part} ORDER BY hv) AS rn FROM hb
  ) WHERE rn <= {k}
),
ta AS (
  SELECT {scp} COUNT(*) AS n_rows,
    CASE WHEN COUNT(*) >= {k} THEN MAX(hv)
         ELSE CAST(4503599627370496 AS BIGINT) END AS theta_hv
  FROM ska {('GROUP BY ' + sc) if strata else ''}
),
tb AS (
  SELECT {scp} COUNT(*) AS n_rows,
    CASE WHEN COUNT(*) >= {k} THEN MAX(hv)
         ELSE CAST(4503599627370496 AS BIGINT) END AS theta_hv
  FROM skb {('GROUP BY ' + sc) if strata else ''}
),
th AS (
  SELECT {tsel}{',' if strata else ''}
         LEAST(ta.theta_hv, tb.theta_hv) AS theta
  FROM ta JOIN tb ON {t_on}
),
com AS (
  SELECT {asel}{',' if strata else ''} a.hv
  FROM ska a JOIN skb b ON {on}
),
cnt AS (
  SELECT {tsel2}{',' if strata else ''} t.theta,
         COUNT(c.hv) AS n_common_sample
  FROM th t LEFT JOIN com c
    ON {c_on} AND c.hv < t.theta
  GROUP BY {(', '.join(f't.{c}' for c in strata) + ', ') if strata else ''}t.theta
)
SELECT {scp} CAST(n_common_sample AS BIGINT) AS n_common_sample,
       round(CAST(n_common_sample AS DOUBLE) *
             (4503599627370496.0 / CAST(theta AS DOUBLE)), 6)
         AS overlap_est
FROM cnt
"""
