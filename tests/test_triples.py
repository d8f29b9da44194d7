"""Triple extraction P/R gate vs the golden (reference-semantics) oracle,
plus unit checks of the value-transform rules (Filter.pm:76-108)."""

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from wikidata_dump_processor_spark import datagen
from wikidata_dump_processor_spark.operators import triples as TR
from wikidata_dump_processor_spark.operators.text_extract import extract_text
from wikidata_dump_processor_spark.reference_semantics import golden_triples_for_pages
from wikidata_dump_processor_spark.schemas import ALIASES_SCHEMA


def _norm(obj):
    """Compare JSON-encoded struct objects by parse, not bytes (SURVEY.md
    §7.3 hard part 2): 40 vs 40.0 etc. are equal as parsed values."""
    if obj is None:
        return None
    if isinstance(obj, str) and obj.startswith("{"):
        try:
            parsed = json.loads(obj, parse_int=float)  # 42 == 42.0
            return json.dumps(parsed, sort_keys=True, separators=(",", ":"))
        except ValueError:
            return obj
    return obj


def _normset(triples):
    return {(s, p, _norm(o)) for s, p, o in triples}


@pytest.fixture(scope="module")
def engine_triples(spark):
    n = 300
    parsed = TR.parse_entities(extract_text(datagen.gen_pages(spark, n)))
    got = {(r.subj, r.pred, r.obj) for r in TR.extract_triples(parsed).collect()}
    want = golden_triples_for_pages(n)
    return _normset(got), _normset(want)


def test_triple_precision_recall(engine_triples):
    got, want = engine_triples
    tp = len(got & want)
    precision = tp / max(len(got), 1)
    recall = tp / max(len(want), 1)
    # north_rule gate: P/R >= 0.95; at fixture scale we demand exactness
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)
    assert got == want  # exact at fixture scale


def test_entity_ref_transform(engine_triples):
    got, _ = engine_triples
    p31 = {o for s, p, o in got if p == "P31"}
    assert all(o.startswith("Q") for o in p31 if o is not None)


def test_novalue_somevalue_skipped(engine_triples):
    # snaktype != value -> no triple (wdq1.pl:683-689); P570 claims in the
    # fixture are all novalue/somevalue
    got, _ = engine_triples
    assert not {t for t in got if t[1] == "P570"}


def test_unfiltered_props_emit_no_triples(engine_triples):
    got, _ = engine_triples
    assert not {t for t in got if t[1] in ("P9999", "Pxx")}


def test_mention_regex_scan(engine_triples):
    # Punivie generalization (wdq1.pl:636-653): quoted strings containing
    # univie.ac.at in the raw record
    got, _ = engine_triples
    univie = {o for s, p, o in got if p == "Punivie"}
    assert univie and all("univie.ac.at" in o for o in univie)
    assert all("\\" not in o for o in univie)  # backslashes stripped


def test_diag_and_catalogs(spark):
    n = 300
    parsed = TR.parse_entities(extract_text(datagen.gen_pages(spark, n)))
    stats = TR.stats_tables(parsed)
    diag = {r.ent_diag: r["count"] for r in stats["diag"].collect()}
    assert any("parse error" in k for k in diag)  # malformed rows diagnosed
    types = {r.type: r["count"] for r in stats["types"].collect()}
    assert types.get("item", 0) > 0 and types.get("property", 0) > 0

    props = TR.props_catalog(parsed).collect()
    by_id = {r.prop: r for r in props}
    # P31 defined (datagen defines it) and heavily used
    assert by_id["P31"].def_cnt >= 1 and by_id["P31"].use_cnt > 100
    assert by_id["P31"].datatype == "wikibase-item"
    # used-but-never-defined props appear with def_cnt = 0
    assert by_id["P214"].def_cnt == 0 and by_id["P214"].use_cnt > 0

    items = TR.items_table(parsed)
    rows = items.collect()
    assert all(r.id.startswith(("Q", "L")) for r in rows)
    some = [r for r in rows if r.cnt_claims > 0]
    assert some and all(isinstance(r.claims_list, list) for r in some)


def test_preferred_label_first_lang_wins(spark):
    raw = json.dumps(
        {
            "id": "Q7",
            "type": "item",
            "labels": {
                "de": {"language": "de", "value": "DE"},
                "fr": {"language": "fr", "value": "FR"},
            },
            "claims": {},
        }
    )
    from pyspark.sql import functions as F

    df = (
        spark.createDataFrame([(raw,)], "text string")
        .withColumn("url", F.lit("u"))
        .withColumn("warc_ts", F.lit(None).cast("timestamp"))
        .withColumn("lang", F.lit("en"))
        .withColumn("diag", F.lit(None).cast("string"))
    )
    parsed = TR.parse_entities(df)
    r = TR.with_preferred_label(TR.item_entities(parsed)).select("label", "label_lang").first()
    # order en de ja it fr ... -> de wins over fr (wdq1.pl:38, 576-588)
    assert r.label == "DE" and r.label_lang == "de"


def test_no_label_lang_is_last_tried(spark):
    raw = json.dumps({"id": "Q8", "type": "item", "labels": {}, "claims": {}})
    from pyspark.sql import functions as F

    df = (
        spark.createDataFrame([(raw,)], "text string")
        .withColumn("url", F.lit("u"))
        .withColumn("warc_ts", F.lit(None).cast("timestamp"))
        .withColumn("lang", F.lit("en"))
        .withColumn("diag", F.lit(None).cast("string"))
    )
    r = TR.with_preferred_label(TR.item_entities(TR.parse_entities(df))).select("label", "label_lang").first()
    assert r.label is None and r.label_lang == "mul"  # last lang in list


def test_property_filter_export(spark, tmp_path):
    """wdq2.pl --filter P### export path: TSV frame + ndjson raws written
    and readable back."""
    from wikidata_dump_processor_spark import datagen
    from wikidata_dump_processor_spark.operators.text_extract import extract_text
    from wikidata_dump_processor_spark.operators.triples import (
        item_entities,
        parse_entities,
        property_filter_export,
    )

    items = item_entities(parse_entities(extract_text(datagen.gen_pages(spark, 200))))
    out = str(tmp_path / "exp")
    tsv_df, nd_df = property_filter_export(items, "P31", out_dir=out)
    n = tsv_df.count()
    assert n > 0 and nd_df.count() == n
    # multi-snak entities join all statement values in order (i%13==4
    # pages have a second Q999 snak)
    multi = tsv_df.filter(F.col("values").contains(" ")).collect()
    assert multi and all(v.values.split(" ")[1] == "Q999" for v in multi)
    back = spark.read.option("sep", "\t").option("header", True).csv(f"{out}/P31.tsv")
    assert back.count() == n
    raws = spark.read.text(f"{out}/P31.ndjson")
    assert raws.count() == n


def test_xxh64_matches_spark(spark):
    """The oracle-side pure-Python XXH64 must equal Spark's xxhash64
    bit-for-bit, including multi-arg seed chaining — it underwrites the
    kg8/kg9 golden oracles."""
    import random

    from wikidata_dump_processor_spark.xxh64 import spark_xxhash64

    rng = random.Random(7)
    vals = [""] + [
        "".join(rng.choice("abc XYZ09_é") for _ in range(rng.randrange(0, 120)))
        for _ in range(60)
    ]
    df = spark.createDataFrame([(v, i % 64) for i, v in enumerate(vals)], "s string, seed int")
    rows = df.select(
        "s", "seed",
        F.xxhash64("s").alias("h1"),
        F.xxhash64("s", "seed").alias("h2"),
        F.xxhash64("s", F.col("seed").cast("long")).alias("h3"),
    ).collect()
    for r in rows:
        assert spark_xxhash64(r.s) == r.h1
        assert spark_xxhash64(r.s, ("int", r.seed)) == r.h2
        assert spark_xxhash64(r.s, ("long", r.seed)) == r.h3


def test_predicate_stats_sketch_within_rsd(spark):
    """HLL++ sketch counts stay within a conservative multiple of the
    configured relative standard deviation of the exact counts."""
    from wikidata_dump_processor_spark.operators.triples import (
        extract_triples,
        predicate_stats,
    )

    parsed = TR.parse_entities(extract_text(datagen.gen_pages(spark, 300)))
    tr = extract_triples(parsed).localCheckpoint(eager=True)
    exact = {
        r.pred: (r.n_triples, r.n_subj, r.n_obj)
        for r in predicate_stats(tr, exact=True).collect()
    }
    approx = {
        r.pred: (r.n_triples, r.n_subj, r.n_obj)
        for r in predicate_stats(tr, rsd=0.02).collect()
    }
    assert set(exact) == set(approx) and exact
    for pred, (n, s, o) in exact.items():
        an, asbj, aobj = approx[pred]
        assert an == n  # plain count is never approximated
        # 5 sigma of the configured rsd — loose enough to be stable,
        # tight enough that a broken sketch (e.g. constant) fails
        assert abs(asbj - s) <= max(2, 0.10 * s), (pred, s, asbj)
        assert abs(aobj - o) <= max(2, 0.10 * o), (pred, o, aobj)


def test_authctrl_claim_triples_equals_filtered_extract(spark):
    """The CC loop's map-lookup slice (r7) must be row-for-row equal to
    the full explode filtered to the authctrl predicates — including
    duplicate multiplicity (identifier_edges dedups later, but the
    contract here is the triple multiset)."""
    from wikidata_dump_processor_spark.schemas import AUTHCTRL_PRED

    parsed = TR.parse_entities(extract_text(datagen.gen_pages(spark, 400)))
    full = sorted(
        tuple(r) for r in TR.extract_triples(parsed)
        .filter(F.col("pred").isin(AUTHCTRL_PRED)).collect()
    )
    fast = sorted(tuple(r) for r in TR.authctrl_claim_triples(parsed).collect())
    assert fast == full and len(fast) > 0


def _empty_delta(spark):
    """``snapshots.read_delta`` with nothing committed since the snapshot."""
    from wikidata_dump_processor_spark.plans.snapshots import open_catalog, read_delta

    with tempfile.TemporaryDirectory() as root:
        stage = os.path.join(root, "s")
        spark.range(3).withColumn("v", F.col("id") * 2).write.parquet(stage)
        cat = open_catalog(root)
        return read_delta(spark, cat, "s", cat.commit("s", stage))


def _ivf_cells(spark):
    from wikidata_dump_processor_spark.operators.similarity import cells_df

    return cells_df(spark, [(0, [1.0, 0.5]), (1, [0.0, 2.0])])


def _long_point_lookup(spark):
    from wikidata_dump_processor_spark.session import local_df
    from wikidata_dump_processor_spark.sources.readers import point_lookup

    table = local_df(spark, [(i,) for i in range(300)], "id long")
    return point_lookup(table, list(range(0, 202, 2)))  # 101 ids: the join


@pytest.mark.parametrize("make, schema", [
    (datagen.gen_aliases, ALIASES_SCHEMA),
    (datagen.gen_entity_catalog, "id string, id_num long, type string, "
     "lang string, label string, P31 string, prior double"),
    (TR.filter_bank_df, "pred string, pred_label string, transform int"),
    (_empty_delta, "id long, v long"),
    (_ivf_cells, "cell int, centroid array<double>"),
    (_long_point_lookup, "id long"),
])
def test_small_inputs_plan_as_local_table_scan(spark, make, schema):
    """The driver-built inputs are Arrow tables: their scan is a JVM-side
    LocalTableScan, not a Python-RDD ``Scan ExistingRDD`` that every
    reading job would run through a Python worker.  The schema,
    nullability included, is the declared one."""
    df = make(spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    assert df.schema == schema
    # an empty delta has no rows; every other input has some
    assert (df.count() == 0) if make is _empty_delta else (df.count() > 0)
