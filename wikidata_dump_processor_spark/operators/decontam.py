"""Benchmark decontamination: flag / drop training documents that
contain an evaluation benchmark's text.

Standard LLM-corpus hygiene (the 13-gram overlap rule): a document is
contaminated when any run of ``n`` consecutive normalized tokens also
appears in a benchmark item.  Re-expressed Spark-first:

* token normalization + n-gram windows + hashing are pure JVM HOFs
  (``split`` / ``sequence`` / ``transform`` / ``slice`` / ``xxhash64``)
  inside whole-stage codegen — no Python in the row path;
* the benchmark side (small by construction — eval suites are MBs) is
  reduced to a DISTINCT n-gram-hash table and **broadcast** while it
  fits ``session.bounded_broadcast``'s gate; the document side explodes
  its n-gram hashes (narrow — no shuffle) into a broadcast LEFT SEMI
  join, so the 100 TB side is never shuffled to find matches;
* only MATCHED (doc_id, hash) rows survive the semi-join; the closing
  per-doc aggregate therefore shuffles the contaminated sliver, not the
  corpus.

Benchmark items shorter than ``n`` tokens contribute no n-grams and are
skipped (the standard rule); pick a smaller ``n`` to cover short items.

Hash collisions: xxhash64 over the joined token string — at 2^64 the
collision probability across even trillions of distinct grams is
negligible, and a collision only ever OVER-flags (safe direction for
decontamination).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import bounded_broadcast

DEFAULT_NGRAM = 13


def _norm_tokens(text: Column) -> Column:
    """Lowercase, strip non-alphanumerics, split on whitespace — the
    normalization both sides must share for overlap to be meaningful."""
    cleaned = F.regexp_replace(F.lower(text), r"[^a-z0-9\s]", " ")
    return F.filter(F.split(cleaned, r"\s+"), lambda t: t != "")


def _grams_of(toks: Column, n: int) -> Column:
    """array<bigint> of xxhash64 over each n-token window; empty when the
    token array is shorter than ``n``."""
    starts = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    grams = F.transform(
        starts, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i, n)))
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<bigint>")
    )


def _gram_rows(
    df: DataFrame, keep_cols: list[str], text_col: str, n: int
) -> DataFrame:
    """(*keep_cols, gram_hash) — one row per n-gram window.  Tokenizes
    ONCE per document (separate projection materializes the token
    array before the gram transform + explode reference it): the
    tokenizer inlined into ``_grams_of`` re-tokenizes the document per
    reference (codegen CSE does not span the generate node), measured
    7x slower at sf0.1."""
    toks = df.select(*keep_cols, _norm_tokens(F.col(text_col)).alias("_toks"))
    return toks.select(
        *keep_cols, F.explode(_grams_of(F.col("_toks"), n)).alias("gram_hash")
    )


def benchmark_ngram_table(
    benchmark: DataFrame, text_col: str = "text", n: int = DEFAULT_NGRAM
) -> DataFrame:
    """DISTINCT n-gram hashes of the benchmark — the broadcast side."""
    return _gram_rows(benchmark, [], text_col, n).distinct()


def contamination_counts(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
) -> DataFrame:
    """(id, contaminated_grams) for every document with at least one
    n-gram hit in the benchmark.  Docs absent from the result are clean."""
    bench = benchmark_ngram_table(benchmark, text_col, n)
    doc_grams = _gram_rows(docs, [id_col], text_col, n)
    hits = doc_grams.join(bounded_broadcast(bench), "gram_hash", "left_semi")
    return hits.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("contaminated_grams")
    )


def contamination_report(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str | None = None,
    n: int = DEFAULT_NGRAM,
) -> DataFrame:
    """Per benchmark item: how many documents leak it and how hard —
    ``(bench_id, leaked_docs, gram_hits)``, rows only for items with at
    least one hit.  The eval-suite owner's view of the same join:
    grams are tagged with their item id (``bench_id_col``, defaulting
    to ``xxhash64(text)``), the corpus explodes narrowly into a
    broadcast INNER join, and the bounded hit stream aggregates per
    item.  A gram shared by several items credits each (hits are
    per-(item, doc-gram) pairs)."""
    bid = (
        F.col(bench_id_col) if bench_id_col else F.xxhash64(F.col(text_col))
    ).alias("bench_id")
    bench = _gram_rows(
        benchmark.select(bid, text_col), ["bench_id"], text_col, n
    ).distinct()
    doc_grams = _gram_rows(docs, [id_col], text_col, n)
    hits = doc_grams.join(bounded_broadcast(bench), "gram_hash")
    return hits.groupBy("bench_id").agg(
        F.countDistinct(id_col).alias("leaked_docs"),
        F.count(F.lit(1)).alias("gram_hits"),
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
) -> DataFrame:
    """docs minus every document sharing >= 1 normalized n-gram with the
    benchmark — the drop policy standard decontamination applies.  The
    anti-join keys on the bounded contaminated-id set (broadcast-able
    whenever contamination is rare, which AQE detects at runtime)."""
    dirty = contamination_counts(docs, benchmark, id_col, text_col, n).select(id_col)
    return docs.join(dirty, id_col, "left_anti")
