"""Entity linking: mention candidates via broadcast alias join, scored and
resolved to the best catalog entity.

Model: the reference's exact-key hash joins between derived tables
(geonames.pl:12-15, 54-85 build/probe; wdq2.pl:143-164 filter-driven fetch
join), generalized to surface-form -> entity candidates with scoring.
Duplicate-key semantics in the reference are last-wins on hash overwrite
(geonames.pl:73); here resolution is an explicit deterministic
``max_by``-style pick (SURVEY.md §7.3 hard part 4).

Scale: the per-surface winners are resolved on the alias (dimension)
side and joined to the mention stream through ``session.bounded_broadcast``:
broadcast while the winners fit the gate, so head-domain/mega-entity skew
never concentrates a shuffle partition; above it the planner sort-merges
and AQE's skew-join split breaks up hot surfaces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import bounded_broadcast


def score_candidates(cand: DataFrame, catalog: DataFrame | None = None) -> DataFrame:
    """Score = primary-alias bonus + catalog popularity prior (if given).
    Deterministic tie-break on qid.

    The catalog join carries no broadcast hint: the catalog is unbounded
    (10^8 entities is a multi-GB table), so Spark's size rule picks the
    strategy.  A driver-built catalog plans as a small ``LocalTableScan``
    and still broadcasts; a large parquet catalog sort-merges."""
    c = cand.withColumn("score", F.when(F.col("is_primary"), 2.0).otherwise(0.0))
    if catalog is not None:
        pri = catalog.select(F.col("id").alias("qid"), F.col("prior"))
        c = c.join(pri, "qid", "left").withColumn(
            "score", F.col("score") + F.coalesce(F.log1p("prior"), F.lit(0.0))
        )
    return c


def resolve_surfaces(
    aliases: DataFrame, catalog: DataFrame | None = None
) -> DataFrame:
    """Per-surface best candidate: (surface, qid, score, n_candidates).

    The candidate score is a pure function of the alias row and the
    catalog prior — NOT of the individual mention — so the top-1 pick is
    resolved once on the (tiny) dimension side with ``max_by``; ties break
    to the smallest qid (deterministic, unlike the reference's hash-order
    last-wins, geonames.pl:73)."""
    al = aliases.select(
        F.lower("alias").alias("surface"),
        F.col("id").alias("qid"),
        F.col("is_primary"),
    )
    scored = score_candidates(al, catalog)
    pick = F.struct(
        F.col("score"),
        # invert qid ordering so max_by prefers the SMALLEST qid on ties
        (-F.regexp_extract("qid", r"(\d+)", 1).try_cast("long")).alias("qid_rank"),
        F.col("qid"),
    )
    return scored.groupBy("surface").agg(
        F.max_by("qid", pick).alias("qid"),
        F.max("score").alias("score"),
        F.countDistinct("qid").alias("n_candidates"),
    )


def link_mentions(
    mentions: DataFrame,
    aliases: DataFrame,
    catalog: DataFrame | None = None,
) -> DataFrame:
    """(url, surface, begin, end) -> one best (qid, score) per mention.

    Scale design: the per-surface winner is pre-resolved on the dimension
    side (``resolve_surfaces``), so the mention stream — the 10^12-row
    side — is never shuffled while the winners fit the broadcast gate: one
    map-side join and done.  Head-surface skew (a mega-entity alias in 20%
    of pages) cannot concentrate a partition because there is no exchange
    on surface; over the gate AQE splits the skewed sort-merge partitions.

    Contract: multiplicity-preserving — one output row per input mention
    row, duplicates included (duplicate page urls in the input produce
    duplicate mention triples downstream).  Callers needing
    one-row-per-mention semantics dedup the mention stream first."""
    best = resolve_surfaces(aliases, catalog)
    return mentions.join(bounded_broadcast(best), "surface")


def unlinked_mentions(mentions: DataFrame, aliases: DataFrame) -> DataFrame:
    """Anti-join: mentions with no catalog candidate (model: the
    reference's no_P31 list, cntprops.pl:41,54-79 and the not-found branch
    of point lookups, wdq2.pl:396-401)."""
    al = aliases.select(F.lower("alias").alias("surface")).distinct()
    return mentions.join(bounded_broadcast(al), "surface", "left_anti")


def mention_triples(linked: DataFrame, pred: str = "Pmention") -> DataFrame:
    """Linked mentions as (page-url-subject, Pmention, qid) triples feeding
    graph materialization."""
    return linked.select(
        F.col("url").alias("subj"),
        F.lit(pred).alias("pred"),
        F.col("qid").alias("obj"),
        F.col("url").alias("src_url"),
    )
