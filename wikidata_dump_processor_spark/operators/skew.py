"""Explicit skew handling: key salting for aggregation and head-domain caps.

The reference acknowledges key skew with its cardinality-adaptive index
layout (list vs bitmap at use_cnt >= 800_000, cntprops.pl:16, 68-77).  In
Spark, AQE's skew-join split covers sort-merge joins (hot keys are split
at run time, not salted by hand), and ``session.bounded_broadcast`` keeps
small build sides off the shuffle; these helpers cover the remaining
cases the north_rule calls out (head domains, mega-entities):

* ``two_phase_count``: partial aggregation on (key, salt) then re-aggregate
  on key — bounded partition size for hot keys even without AQE.
* ``domain_quota_sample``: cap the documents of any one url domain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, num_salts: int, col_name: str = "_salt") -> DataFrame:
    """Attach a salt in ``[0, num_salts)`` used to split hot keys: a
    partition-local ``pmod(spark_partition_id(), n)``, which never
    touches row content (a fact table carrying a wide ``text`` column
    pays nothing) and is RETRY-STABLE: a recomputed task re-reads the
    same input split, so rows keep their salt across task retries.  (A
    ``monotonically_increasing_id`` round-robin is not: a retried map
    task re-salts rows differently while already-finished reducers keep
    the old routing — the SPARK-23207 lost/duplicated-rows class.  A
    shuffle keyed on the salt must never use a nondeterministic salt.)
    All rows of one upstream partition share a salt, which costs nothing
    for ``two_phase_count``: its map-side partial agg reduces to one row
    per (key, partition) anyway."""
    return df.withColumn(col_name, F.pmod(F.spark_partition_id(), F.lit(num_salts)))


def domain_quota_sample(
    docs: DataFrame,
    cap: int,
    url_col: str = "url",
    seed: int = 0,
    exact: bool = True,
    domain_col: str = "domain",
) -> DataFrame:
    """Head-domain downsampling: keep at most ``cap`` documents per url
    domain — the corpus-side answer to the north rule's "skew from head
    domains" (a handful of hosts dominate a web crawl; an uncapped
    corpus trains on their voice).  Deterministic: selection priority is
    ``xxhash64(url, seed)``, no rand(), so the same input always yields
    the same sample and re-runs are resumable.

    ``exact=True``: per-domain ``row_number`` over hash order — exactly
    ``cap`` rows per over-cap domain.  One shuffle on domain; a
    mega-domain serializes through one window partition, so this is the
    moderate-skew path (AQE splits help the join/agg around it, not the
    window itself).

    ``exact=False`` (the 100-TB path): per-domain keep-rate
    ``min(1, cap/count)`` applied as a hash-Bernoulli filter — cap holds
    in expectation, NO per-domain sort; counts come from
    ``two_phase_count`` so even a domain holding half the corpus bounds
    every partition, and the rate table (one row per domain) joins back
    without a hint (the planner broadcasts it while it fits).

    Malformed URLs: ``try_parse_url`` (ANSI-safe — plain ``parse_url``
    would abort the whole job on one bad row) yields NULL, coalesced to
    the sentinel domain ``""`` so BOTH paths treat all unparseable URLs
    as one domain capped at ``cap`` — no silent null-key drop on the
    inexact path's join+filter, no unbounded keep on the exact one.
    """
    dom = F.coalesce(
        F.try_parse_url(F.col(url_col), F.lit("HOST")), F.lit("")
    )
    d = docs.withColumn(domain_col, dom)
    pri = F.xxhash64(F.col(url_col), F.lit(seed))
    if exact:
        from pyspark.sql import Window as W

        rn = F.row_number().over(
            W.partitionBy(domain_col).orderBy(pri.asc(), F.col(url_col).asc())
        )
        return d.withColumn("_rn", rn).filter(F.col("_rn") <= cap).drop("_rn")
    counts = two_phase_count(
        d.select(F.col(domain_col)), [domain_col]
    ).withColumnRenamed("count", "_n")
    rated = d.join(counts, domain_col, "left")
    # keep iff hash-uniform(url) < cap/n; pmod to [0, 2^32) for a stable
    # uniform variate from the signed 64-bit hash
    u = F.pmod(pri, F.lit(1 << 32)).cast("double") / float(1 << 32)
    return rated.filter(
        (F.col("_n") <= cap) | (u < cap / F.col("_n").cast("double"))
    ).drop("_n")


def two_phase_count(df: DataFrame, key_cols: list[str], num_salts: int = 16) -> DataFrame:
    """groupBy(key).count() with bounded per-partition key width: partial
    count on (key, salt), final sum on key.  (Spark's hash aggregate
    already does map-side partials; the explicit salt additionally bounds
    the *reduce*-side partition for mega-keys when AQE is off.)"""
    salted = with_salt(df, num_salts)
    partial = salted.groupBy(*key_cols, "_salt").agg(F.count(F.lit(1)).alias("_partial"))
    return partial.groupBy(*key_cols).agg(F.sum("_partial").alias("count"))
