"""Entity parsing + triple extraction — fully JVM-side (Catalyst/codegen).

Reproduces the reference's fused scan (wdq1.pl:468-784) as a declarative
DataFrame DAG.  The polymorphic ``datavalue.value`` (Filter.pm:76-108) is a
Spark 4 VARIANT, so scalar/struct dispatch, entity-ref rewriting and the
JSON-encode fallback are all codegen'd expressions — no Python in this path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import (
    AUTHCTRL_PRED,
    AUTHCTRL_PROPS,
    ENTITY_DDL,
    FILTER_BANK,
    LANGS,
    RAW_MENTION_PATTERNS,
)
from ..session import local_df

# ---------------------------------------------------------------------------
# raw JSON line normalization (wdq1.pl:484-492): skip array brackets, strip
# one trailing comma.
# ---------------------------------------------------------------------------


def normalize_raw_json(raw: Column) -> Column:
    t = F.trim(raw)
    return F.when(t.isin("[", "]") | (t == ""), F.lit(None)).otherwise(
        F.regexp_replace(t, ",$", "")
    )


def parse_entities(
    extracted: DataFrame, payload_col: str = "text", extra_cols: tuple = ()
) -> DataFrame:
    """extracted pages -> parsed entity records.

    The entity payload is the first line of the extracted page body (the
    reference reads one JSON record per input line, wdq1.pl:466-496).
    Output keeps ``raw`` (serialized record — needed for the raw-record
    mention scan, wdq1.pl:636-653) and a ``diag`` column for the
    skip-and-log path (wdq1.pl:497-503).  ``extra_cols`` pass through
    untouched (e.g. the fused scan's ``mentions`` array).
    """
    raw = normalize_raw_json(F.substring_index(F.col(payload_col), "\n", 1))
    df = extracted.withColumn("raw", raw).withColumn(
        "e", F.from_json("raw", ENTITY_DDL)
    )
    # id classify (wdq1.pl:505-526): P -> property record; Q/L -> numeric id;
    # anything else -> invalid (skipped downstream with a diag).
    return df.select(
        "url",
        "warc_ts",
        "lang",
        "text",
        "raw",
        *extra_cols,
        F.col("e.*"),
        F.regexp_extract("e.id", r"^[QL](\d+)$", 1).try_cast("long").alias("id_num"),
        F.when(F.col("raw").isNull(), F.coalesce("diag", F.lit("empty payload")))
        .when(F.col("e").isNull() | F.col("e.id").isNull(), F.lit("json parse error"))
        .when(
            ~F.col("e.id").rlike(r"^[PQL]\d+$"), F.concat(F.lit("bad id: "), F.col("e.id"))
        )
        .otherwise(F.lit(None))
        .alias("ent_diag"),
    )


def item_entities(parsed: DataFrame) -> DataFrame:
    """Type gate (wdq1.pl:538-544): keep item|lexeme with a valid Q/L id."""
    return parsed.filter(
        F.col("ent_diag").isNull()
        & F.col("type").isin("item", "lexeme")
        & F.col("id_num").isNotNull()
    )


def property_entities(parsed: DataFrame) -> DataFrame:
    """Property-definition records routed aside (wdq1.pl:530-536)."""
    return parsed.filter(
        F.col("ent_diag").isNull() & (F.col("type") == "property") & F.col("id").rlike(r"^P\d+$")
    )


# ---------------------------------------------------------------------------
# claim explosion + value extraction
# ---------------------------------------------------------------------------


def _is_object(v: Column) -> Column:
    return F.schema_of_variant(v).startswith("OBJECT")


def extract_value(value: Column, transform: Column) -> Column:
    """Filter.pm:76-108 ``_extract``:

    * transform=1 and struct: entity-ref -> 'Q'/'P' + numeric-id (NO lexeme
      branch in the reference -> null, Filter.pm:91-97)
    * struct: JSON-encode (canonical sorted keys — variant binary sorts
      object keys, matching a sort_keys json.dumps; Filter.pm:98-101)
    * scalar: pass through (Filter.pm:102-105)
    """
    et = F.try_variant_get(value, "$['entity-type']", "string")
    prefix = F.when(et == "item", F.lit("Q")).when(et == "property", F.lit("P"))
    num = F.try_variant_get(value, "$['numeric-id']", "string")
    is_obj = _is_object(value)
    return (
        F.when((transform == 1) & is_obj, F.concat(prefix, num))
        .when(is_obj, F.to_json(value))
        .otherwise(F.try_variant_get(value, "$", "string"))
    )


def exploded_first_snaks(items: DataFrame) -> DataFrame:
    """One row per (entity, claim property), first statement only
    (wdq1.pl:676 — ``$p->[0]{mainsnak}``), property-format gate
    (wdq1.pl:658-667), snaktype gate (wdq1.pl:683-689), defined-value gate
    (wdq1.pl:693-705).
    """
    c = items.select(
        "url",
        "id",
        "type",
        F.explode("claims").alias("pred", "snaks"),
    ).withColumn("snak", F.try_element_at("snaks", F.lit(1)))
    c = c.filter(F.col("pred").rlike(r"^P\d+$"))  # warn+skip (wdq1.pl:662-667)
    c = c.select(
        "url",
        "id",
        "type",
        "pred",
        F.try_variant_get("snak", "$.mainsnak.snaktype", "string").alias("snaktype"),
        F.try_variant_get("snak", "$.mainsnak.datatype", "string").alias("datatype"),
        F.try_variant_get("snak", "$.mainsnak.datavalue.value", "variant").alias("value"),
    )
    return c.filter((F.col("snaktype") == "value") & F.col("value").isNotNull())


def filter_bank_df(spark):
    """The property filter bank as a DataFrame (wdq1.pl:344-409 via
    schemas.FILTER_BANK): an Arrow ``LocalTableScan`` whose true size
    Spark sees, so its joins broadcast with no hint."""
    rows = [(p, lbl, tr) for p, (lbl, tr) in FILTER_BANK.items()]
    return local_df(spark, rows, "pred string, pred_label string, transform int")


def claim_triples(items: DataFrame) -> DataFrame:
    """(subj, pred, obj, src_url) for filter-bank properties — the P####.tsv
    rows of the reference (wdq1.pl:708-726)."""
    snaks = exploded_first_snaks(items)
    bank = filter_bank_df(items.sparkSession)
    # ~40-entry local table: Spark broadcasts it by size — no shuffle of
    # the claim stream.
    j = snaks.join(bank, "pred")
    return j.select(
        F.col("id").alias("subj"),
        "pred",
        extract_value(F.col("value"), F.col("transform")).alias("obj"),
        F.col("url").alias("src_url"),
    )


def mention_regex_triples(items: DataFrame) -> DataFrame:
    """Raw-record regex mention scan, generalized from the reference's
    hard-coded 'Punivie' (wdq1.pl:391, 636-653): case-insensitive capture
    over the serialized record, backslashes stripped (wdq1.pl:640)."""
    outs = []
    for pred, pat in RAW_MENTION_PATTERNS.items():
        y = F.regexp_extract(F.col("raw"), "(?i)" + pat, 1)
        outs.append(
            items.select(
                F.col("id").alias("subj"),
                F.lit(pred).alias("pred"),
                F.regexp_replace(y, r"\\", "").alias("obj"),
                F.col("url").alias("src_url"),
            ).filter(y != "")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def extract_triples(parsed: DataFrame) -> DataFrame:
    """Full triple set: filter-bank claim triples + raw mention triples."""
    items = item_entities(parsed)
    return claim_triples(items).unionByName(mention_regex_triples(items))


def authctrl_claim_triples(parsed: DataFrame, preds: list[str] | None = None) -> DataFrame:
    """The authority-control slice of ``extract_triples`` via direct map
    lookups (``claims[pred]`` for the 6 known predicates) — ONE scan of
    the parsed snapshot, no claim explode, no raw-record regex scan.

    Row-for-row equal to ``extract_triples(parsed).filter(pred.isin(preds))``
    (asserted by a pytest): the mention branch only emits non-authctrl
    predicates, and every authctrl predicate is a transform=0 filter-bank
    entry, so this reproduces ``claim_triples``' first-snak projection,
    snaktype/value gates, and ``extract_value`` path exactly.  Built for
    the pipeline's CC loop, which otherwise waits on the full triples
    snapshot (or re-runs the whole claim explode) just to read 6
    predicates' first snaks."""
    preds = preds or AUTHCTRL_PRED
    items = item_entities(parsed)
    per_pred = F.array(*[
        F.struct(
            F.lit(pred).alias("pred"),
            F.try_element_at(F.col("claims").getItem(pred), F.lit(1)).alias("snak"),
            F.lit(FILTER_BANK[pred][1]).alias("transform"),
        )
        for pred in preds
    ])
    c = items.select("url", "id", F.explode(per_pred).alias("s")).select(
        "url",
        "id",
        F.col("s.pred").alias("pred"),
        F.try_variant_get("s.snak", "$.mainsnak.snaktype", "string").alias("snaktype"),
        F.try_variant_get("s.snak", "$.mainsnak.datavalue.value", "variant").alias("value"),
        F.col("s.transform").alias("transform"),
    )
    c = c.filter((F.col("snaktype") == "value") & F.col("value").isNotNull())
    return c.select(
        F.col("id").alias("subj"),
        "pred",
        extract_value(F.col("value"), F.col("transform")).alias("obj"),
        F.col("url").alias("src_url"),
    )


def all_snak_values(items: DataFrame, pred: str) -> DataFrame:
    """All-statement value export for one property (wdq2.pl:522-552
    ``get_snak_values``): every snak of the claim array; snaktype!=value
    contributes the snaktype string itself (wdq2.pl:544-546)."""
    c = (
        items.select("url", "id", F.col("claims").getItem(pred).alias("snaks"))
        .filter(F.col("snaks").isNotNull())
        .select("url", "id", F.posexplode("snaks").alias("snak_pos", "snak"))
    )
    snaktype = F.try_variant_get(F.col("snak"), "$.mainsnak.snaktype", "string")
    value = F.try_variant_get(F.col("snak"), "$.mainsnak.datavalue.value", "variant")
    tr = F.lit(1) if FILTER_BANK.get(pred, ("", 0))[1] == 1 else F.lit(0)
    return c.select(
        F.col("id").alias("subj"),
        F.lit(pred).alias("pred"),
        F.col("snak_pos"),
        F.when(snaktype == "value", extract_value(value, tr))
        .otherwise(snaktype)
        .alias("obj"),
        F.col("url").alias("src_url"),
    )


def property_filter_export(
    items: DataFrame,
    pred: str,
    out_dir: str | None = None,
    show_langs: tuple = ("en", "de", "fr", "it"),
    mv_sep: str = " ",
):
    """wdq2.pl --filter P### export (wdq2.pl:143-151, 457-481, 178-182,
    436): entities claiming the property, exported as

    * a TSV-shaped frame: id, one label column per ``show_langs``
      (wdq2.pl:38,479), lastrevid, ``values`` = all snak values joined by
      ``mv_sep`` (wdq2.pl:42) in statement order, and
    * the raw serialized records (the reference's ndjson side,
      wdq2.pl:436).

    The id-driven fetch is J5's filter-driven join: the value rows are the
    driving side, the label projection rides the same row — no separate
    fetch.  Returns (tsv_df, ndjson_df); writes both when ``out_dir``.
    """
    v = all_snak_values(items, pred)
    vals = v.groupBy("subj").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("snak_pos", "obj"))),
                lambda s: s.getField("obj"),
            ),
            mv_sep,
        ).alias("values")
    )
    lab_cols = [
        F.element_at("labels", lang).getField("value").alias(lang)
        for lang in show_langs
    ]
    tsv_df = (
        items.select("id", "raw", "lastrevid", *lab_cols)
        .join(vals, F.col("id") == F.col("subj"))
        .select("id", *show_langs, "lastrevid", "values", "raw")
    )
    ndjson_df = tsv_df.select("raw")
    tsv_df = tsv_df.drop("raw")
    if out_dir is not None:
        from ..sources.readers import write_tsv

        write_tsv(tsv_df, f"{out_dir}/{pred}.tsv")
        ndjson_df.write.mode("overwrite").text(f"{out_dir}/{pred}.ndjson")
    return tsv_df, ndjson_df


# ---------------------------------------------------------------------------
# language-preference label (P8, wdq1.pl:565-588)
# ---------------------------------------------------------------------------


def with_preferred_label(items: DataFrame) -> DataFrame:
    """First defined label over the ordered language list wins
    (wdq1.pl:38, 576-588); lexemes read lemmas and extend the list with the
    lemma's own languages; if nothing matches, lang = last tried language
    and label = null (exact reference behavior incl. the undef/last-lang
    quirk)."""
    langs_arr = F.array(*[F.lit(x) for x in LANGS])
    x_langs = F.when(
        F.col("lemmas").isNotNull(), F.concat(langs_arr, F.map_keys("lemmas"))
    ).otherwise(langs_arr)
    src = F.when(F.col("lemmas").isNotNull(), F.col("lemmas")).otherwise(F.col("labels"))
    cand = F.filter(
        F.transform(
            x_langs, lambda lang: F.struct(lang.alias("lang"), F.element_at(src, lang).getField("value").alias("label"))
        ),
        lambda s: s.getField("label").isNotNull(),
    )
    first = F.try_element_at(cand, F.lit(1))
    return items.withColumn(
        "label", first.getField("label")
    ).withColumn(
        "label_lang",
        F.coalesce(first.getField("lang"), F.try_element_at(x_langs, F.lit(-1))),
    )


# ---------------------------------------------------------------------------
# authority-control predicate (P9, wdq1.pl:599-633)
# ---------------------------------------------------------------------------


def with_authctrl(items: DataFrame) -> DataFrame:
    """Adds ``p31`` (first-snak P31 target id, read from the entity-ref's
    ``id`` field — wdq1.pl:617) and ``is_authctrl`` (any authority prop
    claimed, or P31 == Q5; items only — wdq1.pl:599-633)."""
    p31 = F.try_variant_get(
        F.try_element_at(F.col("claims").getItem("P31"), F.lit(1)),
        "$.mainsnak.datavalue.value.id",
        "string",
    )
    claimed = F.arrays_overlap(
        F.map_keys(F.coalesce(F.col("claims"), F.create_map())),
        F.array(*[F.lit(p) for p in AUTHCTRL_PRED]),
    )
    return items.withColumn("p31", p31).withColumn(
        "is_authctrl",
        # eqNullSafe: a missing P31 means "not human", not SQL-NULL — the
        # reference's `exists` checks are two-valued (wdq1.pl:607,615)
        (F.col("type") == "item") & (claimed | F.col("p31").eqNullSafe("Q5")),
    )


def authctrl_table(items: DataFrame) -> DataFrame:
    """Authority records (wdq1.pl:599-633, 759-768): qualifying items with
    the collected authority properties (first-snak extracted values for
    props in AUTHCTRL_PROPS, wdq1.pl:732-739)."""
    base = with_authctrl(items).filter(F.col("is_authctrl"))
    snaks = exploded_first_snaks(base).filter(F.col("pred").isin(AUTHCTRL_PROPS))
    bank = filter_bank_df(items.sparkSession).select("pred", "transform")
    vals = snaks.join(bank, "pred", "left").select(
        "id",
        "pred",
        extract_value(F.col("value"), F.coalesce("transform", F.lit(0))).alias("val"),
    )
    agg = vals.groupBy("id").agg(
        F.map_from_entries(F.collect_list(F.struct("pred", "val"))).alias("authctrl_props")
    )
    return base.select("id", "p31", "label", "label_lang").join(agg, "id", "left")


# ---------------------------------------------------------------------------
# catalogs (A1/A2/A4/A11)
# ---------------------------------------------------------------------------


def items_table(parsed: DataFrame) -> DataFrame:
    """The node catalog (items_unsorted.tsv, wdq1.pl:167-168, 745-753):
    per-entity counters (map key counts, wdq1.pl:890-898), preferred label,
    claimed + filtered property lists, with source lineage (url stands in
    for the reference's line/pos/fo_* columns)."""
    items = with_authctrl(with_preferred_label(item_entities(parsed)))
    cnt = lambda c: F.size(F.map_keys(F.coalesce(F.col(c), F.create_map())))
    bank_preds = F.array(*[F.lit(p) for p in FILTER_BANK])
    all_props = F.array_sort(F.map_keys(F.coalesce(F.col("claims"), F.create_map())))
    return items.select(
        "url",
        "id",
        "id_num",
        "type",
        F.col("lastrevid").alias("revid"),
        cnt("labels").alias("cnt_label"),
        cnt("descriptions").alias("cnt_desc"),
        cnt("aliases").alias("cnt_aliases"),
        cnt("claims").alias("cnt_claims"),
        cnt("sitelinks").alias("cnt_sitelink"),
        cnt("lemmas").alias("cnt_lemmas"),
        F.col("label_lang").alias("lang"),
        "label",
        F.array_intersect(all_props, F.array_sort(bank_preds)).alias("filtered_props"),
        all_props.alias("claims_list"),
        "p31",
        "is_authctrl",
    )


def props_catalog(parsed: DataFrame) -> DataFrame:
    """props.tsv (wdq1.pl:793-820): per property def_cnt (definitions seen;
    'exactly once' invariant -> dup_def flag, wdq1.pl:804-813), use_cnt
    (# entities claiming it, counter() over claim keys wdq1.pl:890-898),
    datatype + en label/description from the first definition."""
    defs = property_entities(parsed).select(
        "id",
        "datatype",
        F.element_at(F.col("labels"), "en").getField("value").alias("label_en"),
        F.element_at(F.col("descriptions"), "en").getField("value").alias("descr_en"),
    )
    def_agg = defs.groupBy("id").agg(
        F.count(F.lit(1)).alias("def_cnt"),
        F.first("datatype").alias("datatype"),
        F.first("label_en").alias("label_en"),
        F.first("descr_en").alias("descr_en"),
    )
    use = (
        item_entities(parsed)
        .select(F.explode(F.map_keys("claims")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("use_cnt"))
    )
    out = def_agg.join(use, "id", "full_outer").select(
        F.col("id").alias("prop"),
        F.coalesce("def_cnt", F.lit(0)).alias("def_cnt"),
        F.coalesce("use_cnt", F.lit(0)).alias("use_cnt"),
        "datatype",
        "label_en",
        "descr_en",
        (F.coalesce("def_cnt", F.lit(0)) > 1).alias("dup_def"),
    )
    return out


def labels_table(items_with_label: DataFrame) -> DataFrame:
    """labels_unsorted.tsv (wdq1.pl:171-174, 770-780): one wide row per
    entity that has any label: id, P31, one column per reference language."""
    df = items_with_label.filter(F.size(F.map_keys(F.coalesce("labels", F.create_map()))) > 0)
    cols = [F.col("id"), F.col("p31").alias("P31")]
    for lang in LANGS:
        cols.append(F.element_at("labels", lang).getField("value").alias(f"label_{lang}"))
    return df.select(*cols)


def stats_tables(parsed: DataFrame) -> dict[str, DataFrame]:
    """conversion-stats.log counters (wdq1.pl:830-850) as DataFrames:
    type histogram, attribute histogram, per-language label counts,
    snaktype histogram, max-id watermarks."""
    items = item_entities(parsed)
    snaks = (
        items.select(F.explode("claims").alias("pred", "snaks"))
        .filter(F.col("pred").rlike(r"^P\d+$"))
        .select(
            F.try_variant_get(F.try_element_at("snaks", F.lit(1)), "$.mainsnak.snaktype", "string").alias(
                "snaktype"
            )
        )
    )
    return {
        "types": parsed.filter(F.col("ent_diag").isNull()).groupBy("type").count(),
        "lang_labels": items.select(F.explode(F.map_keys("labels")).alias("lang"))
        .groupBy("lang")
        .count(),
        "prop_claims": items.select(F.explode(F.map_keys("claims")).alias("pred"))
        .groupBy("pred")
        .count(),
        "snaktypes": snaks.groupBy("snaktype").count(),
        "watermarks": items.agg(
            F.max("id_num").alias("max_id"), F.count(F.lit(1)).alias("n_items")
        ),
        "diag": parsed.filter(F.col("ent_diag").isNotNull()).groupBy("ent_diag").count(),
    }


def predicate_stats(
    triples: DataFrame, exact: bool = False, rsd: float = 0.02
) -> DataFrame:
    """Per-predicate table statistics → (pred, n_triples, n_subj,
    n_obj) — the planner-facing cardinality report for the
    pred-partitioned triples layout (which partition is a mega-relation,
    which predicate is functional (n_subj == n_triples), how selective a
    constant-object probe is).  The reference keeps exactly this per-
    property bookkeeping in its cardinality-adaptive index decision
    (cntprops.pl:16,68-77: list vs bitmap at use_cnt); this emits the
    whole report in ONE aggregate pass.

    ``exact=False`` (the 100 TB default): distinct counts via
    ``approx_count_distinct`` (HyperLogLog++, relative error ``rsd``) —
    the sketch merges map-side, so the pass is one partial-aggregated
    shuffle of sketch buffers, never a per-(pred, subj) expansion.
    ``exact=True``: real COUNT(DISTINCT) — two expand-aggregates, the
    small-scale oracle path (a12)."""
    if exact:
        agg = [
            F.count(F.lit(1)).cast("long").alias("n_triples"),
            F.countDistinct("subj").cast("long").alias("n_subj"),
            F.countDistinct("obj").cast("long").alias("n_obj"),
        ]
    else:
        agg = [
            F.count(F.lit(1)).cast("long").alias("n_triples"),
            F.approx_count_distinct("subj", rsd).cast("long").alias("n_subj"),
            F.approx_count_distinct("obj", rsd).cast("long").alias("n_obj"),
        ]
    return triples.groupBy("pred").agg(*agg)
