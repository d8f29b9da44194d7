"""Cross-catalog operators: person table (wdq3) and the GeoNames x GND
join (geonames.pl) + the per-property inverted index (cntprops.pl).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..session import bounded_broadcast

# wdq3.pl:21-23: authctrl.tsv column properties
PERSON_PROPS = ["P213", "P214", "P227", "P244", "P496", "P19", "P20", "P21", "P31"]
PERSON_LABEL_LANGS = ["en", "de", "fr", "it"]


def person_table(authctrl: DataFrame, labels: DataFrame | None = None) -> DataFrame:
    """wdq3.pl:102-205: humans (P31 == Q5) from the authority records,
    one column per authority property, language-projected labels, and
    P569x/P570x = the raw time string parsed out of the JSON-encoded time
    struct (get_time, wdq3.pl:185-204)."""
    df = authctrl.filter(F.col("p31") == "Q5")
    m = F.coalesce(F.col("authctrl_props"), F.create_map())
    cols = [F.col("id"), F.col("p31").alias("P31")]
    for p in PERSON_PROPS:
        if p == "P31":
            continue
        cols.append(F.element_at(m, p).alias(p))
    cols.append(F.get_json_object(F.element_at(m, "P569"), "$.time").alias("P569x"))
    cols.append(F.get_json_object(F.element_at(m, "P570"), "$.time").alias("P570x"))
    out = df.select(*cols)
    if labels is not None:
        lab = labels.select(
            "id", *[F.col(f"label_{lang}").alias(f"tlt_{lang}") for lang in PERSON_LABEL_LANGS]
        )
        out = out.join(lab, "id", "left")
    return out


def parse_wikidata_time(time_col) -> tuple:
    """Wikidata time strings allow +/- years and precision-truncated
    parts ('+1952-03-11T00:00:00Z', precision 11) — year-0 and month-0
    oddities mean they don't always parse as timestamps (SURVEY.md §2.8).
    Returns (year:long, parsed_ts nullable timestamp)."""
    year = F.regexp_extract(time_col, r"^([+-]\d+)-", 1).try_cast("long")
    # parsed timestamp only for CE years: Spark's proleptic calendar holds
    # year -44, but Python datetime cannot represent it at collect time —
    # BCE dates stay available through the signed `year` column
    ts = F.when(
        year >= 1,
        F.try_to_timestamp(
            F.regexp_replace(time_col, r"^\+", ""), F.lit("yyyy-MM-dd'T'HH:mm:ssX")
        ),
    )
    return year, ts


def geonames_gnd_join(triples: DataFrame, items: DataFrame) -> DataFrame:
    """geonames.pl:12-15,54-85: inner join of GeoNames ids (P1566) with GND
    ids (P227) on the item id, projecting the item's preferred (lang,
    label).  The reference's duplicate handling is hash-overwrite
    last-wins (geonames.pl:73) — here an explicit deterministic pick of
    the max obj per (subj, pred) (SURVEY.md §7.3 hard part 4).

    DELIBERATE DIVERGENCE: max-value, NOT file order — when a subject's
    later-in-file row carries a lexicographically smaller value the
    reference keeps that smaller value and this engine keeps the max.
    File order is not reproducible under parallel scan, so the tie-break
    must be value-based; the golden oracle mirrors the same rule."""

    def side(pred: str) -> DataFrame:
        d = triples.filter(F.col("pred") == pred).select("subj", "obj")
        # deterministic last-wins: keep max obj per subject
        return d.groupBy("subj").agg(F.max("obj").alias(f"{pred}_val"))

    lab = items.select(
        F.col("id").alias("subj"),
        F.col("lang").alias("pref_lang"),
        F.col("label").alias("pref_label"),
    )
    p1566, p227 = side("P1566"), side("P227")
    return (
        p1566.join(p227, "subj")  # inner: emit requires both (geonames.pl:40,71)
        .join(lab, "subj", "left")
        .select(
            F.col("subj").alias("id"),
            F.col("pref_lang").alias("P1566_lang"),
            F.col("pref_label").alias("P1566_label"),
            "P1566_val",
            F.col("pref_lang").alias("P227_lang"),
            F.col("pref_label").alias("P227_label"),
            "P227_val",
        )
    )


def inverted_index_entries(triples: DataFrame) -> DataFrame:
    """The per-property subject index itself as flat (pred, subj) rows —
    the representation that survives 100 TB.  The reference streams hot
    properties to per-property files (cntprops.pl:96-134); here the
    downstream write is ``.write.partitionBy('pred')``, so a mega-predicate
    (10^8+ subjects) is spread across that predicate's partition files and
    NO task ever materializes one predicate's full subject set (the
    round-1 collect_set design did, and was flagged as the scale killer)."""
    return triples.select("pred", "subj").distinct()


def inverted_index_stats(
    triples: DataFrame, props: DataFrame, hot_threshold: int = 800_000
) -> DataFrame:
    """cntprops.pl:16,54-134: per-property cardinality + the
    cardinality-adaptive layout decision (use_cnt >= 800k -> 'bitmap',
    else 'list') surfaced as a routing column.  Pure hash aggregation —
    no per-predicate array is ever built."""
    per_pred = inverted_index_entries(triples).groupBy("pred").agg(
        F.count(F.lit(1)).alias("n")
    )
    use = props.select(F.col("prop").alias("pred"), "use_cnt")
    return per_pred.join(bounded_broadcast(use), "pred", "left").select(
        "pred",
        "n",
        F.when(F.coalesce("use_cnt", F.col("n")) >= hot_threshold, "bitmap")
        .otherwise("list")
        .alias("layout"),
    )


def write_inverted_index(
    triples: DataFrame, path: str, sort_subjects: bool = True
) -> None:
    """Materialize the index partitioned by predicate (the reference's
    props/P#### per-property files, cntprops.pl:96-134).  Repartition on
    pred first so each predicate's rows land in a bounded number of
    writer tasks instead of tasks x preds small files."""
    df = inverted_index_entries(triples).repartition(F.col("pred"))
    if sort_subjects:
        df = df.sortWithinPartitions("subj")
    df.write.mode("overwrite").partitionBy("pred").parquet(path)


def bitmap_index(triples: DataFrame) -> DataFrame:
    """A9 (cntprops.pl:125-132): the reference converts a mega-property's
    subject list to a ``Bitfield`` bitmap.  Spark-native equivalent: the
    built-in bitmap aggregates — subjects' numeric ids grouped into
    fixed-width buckets, one compact bitmap per (pred, bucket).  Pure JVM
    hash aggregation; a 10^8-subject predicate becomes ~3k bucket rows of
    4 KB bitmaps instead of one 10^8-element array.

    Output: (pred, bucket, bitmap: binary, n_bits)."""
    ids = (
        triples.select(
            "pred",
            F.regexp_extract("subj", r"^[QL](\d+)$", 1).try_cast("long").alias("id_num"),
        )
        .filter(F.col("id_num").isNotNull())
        .distinct()
    )
    return (
        ids.groupBy("pred", F.bitmap_bucket_number("id_num").alias("bucket"))
        .agg(F.bitmap_construct_agg(F.bitmap_bit_position("id_num")).alias("bitmap"))
        .withColumn("n_bits", F.bitmap_count("bitmap"))
    )


def inverted_index(
    triples: DataFrame,
    props: DataFrame,
    hot_threshold: int = 800_000,
    array_cap: int = 100_000,
) -> DataFrame:
    """Array-materialized view of the index for COLD predicates only
    (n < array_cap): (pred, n, layout, subjects).  Hot/mega predicates get
    ``subjects = NULL`` — their listing lives in the partitioned
    ``inverted_index_entries`` output, never in one row.  This keeps the
    reference's list-vs-bitmap duality (cntprops.pl:68-77) without the
    one-task-holds-a-mega-array failure mode."""
    stats = inverted_index_stats(triples, props, hot_threshold)
    cold = stats.filter(F.col("n") < array_cap).select("pred")
    arrays = (
        inverted_index_entries(triples)
        .join(bounded_broadcast(cold), "pred", "left_semi")
        .groupBy("pred")
        .agg(F.array_sort(F.collect_set("subj")).alias("subjects"))
    )
    return stats.join(arrays, "pred", "left").select("pred", "n", "layout", "subjects")
