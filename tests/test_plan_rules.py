"""Package-wide plan rules: one bounded-broadcast gate decides every
broadcast hint, and no operator leaves a cache behind its call."""

import ast
import pathlib
from collections import Counter

import pytest
from pyspark.sql import functions as F

from wikidata_dump_processor_spark import datagen, session
from wikidata_dump_processor_spark.functions.ids import id_num
from wikidata_dump_processor_spark.operators import canonicalize as CA
from wikidata_dump_processor_spark.operators import crosswalk as CW
from wikidata_dump_processor_spark.operators import decontam as DC
from wikidata_dump_processor_spark.operators import graph as G
from wikidata_dump_processor_spark.operators import linking as LI
from wikidata_dump_processor_spark.operators import triples as TR
from wikidata_dump_processor_spark.operators.mentions import detect_mentions
from wikidata_dump_processor_spark.operators.text_extract import (
    extract_text,
    ns_usage,
)
from wikidata_dump_processor_spark.plans.bgp import attach_labels

PACKAGE = pathlib.Path(session.__file__).parent

# (source text, the only (module, function) pairs allowed to hold it)
RULES = {
    "F.broadcast(": {("session.py", "bounded_broadcast")},
    ".cache()": set(),
    ".persist(": {
        ("operators/mentions.py", "detect_mentions"),
        ("operators/graph.py", "pagerank"),
    },
}


def _enclosing_function(tree, line):
    best = None
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if node.lineno <= line <= node.end_lineno:
                if best is None or node.lineno > best.lineno:
                    best = node
    return best.name if best else None


def test_package_source_obeys_plan_rules():
    """``F.broadcast(`` only inside ``session.bounded_broadcast``, no
    ``.cache()``, and ``.persist(`` only where the persist is released
    before the call returns: ``detect_mentions`` (the shard dictionary)
    and ``pagerank`` (the frames every iteration joins; a local
    checkpoint would drop their hash partitioning under AQE)."""
    found = {text: set() for text in RULES}
    for path in sorted(PACKAGE.rglob("*.py")):
        src = path.read_text()
        tree = ast.parse(src)
        rel = path.relative_to(PACKAGE).as_posix()
        for i, line in enumerate(src.splitlines(), 1):
            for text in RULES:
                if text in line:
                    found[text].add((rel, _enclosing_function(tree, i)))
    for text, allowed in RULES.items():
        assert found[text] <= allowed, (text, found[text] - allowed)
    assert found["F.broadcast("] == RULES["F.broadcast("]


@pytest.fixture(scope="module")
def kg(spark):
    pages = datagen.gen_pages(spark, 120)
    ext = extract_text(pages).localCheckpoint(eager=True)
    parsed = TR.parse_entities(ext)
    triples = TR.extract_triples(parsed).localCheckpoint(eager=True)
    aliases = datagen.gen_aliases(spark)
    edges = G.entity_edges(triples)
    seeds = sorted({r.src for r in edges.collect()})[:3]
    return {
        "spark": spark,
        "ext": ext,
        "triples": triples,
        "props": TR.props_catalog(parsed).localCheckpoint(eager=True),
        "aliases": aliases,
        "catalog": datagen.gen_entity_catalog(spark),
        "mentions": detect_mentions(ext, aliases).localCheckpoint(eager=True),
        "edges": edges,
        "seeds": seeds,
    }


def _remap_case(spark):
    triples = spark.createDataFrame(
        [("q2", "P31", "q2", "u"), ("q3", "P279", "q9", "u")],
        "subj string, pred string, obj string, src_url string",
    )
    cmap = spark.createDataFrame(
        [("q2", "q1"), ("q3", "q3"), ("q9", "q1")], "id string, canonical_id string"
    )
    return triples, cmap


def _rewrite(kg, **kw):
    triples, cmap = _remap_case(kg["spark"])
    return CA.rewrite_triples(triples, cmap, **kw)


def _docs(kg):
    return kg["ext"].select(F.col("url").alias("doc_id"), "text")


def _bench(kg):
    return _docs(kg).filter(F.col("text").isNotNull()).orderBy("doc_id").limit(3)


def _unlinked(kg):
    unknown = kg["mentions"].orderBy("url", "begin").limit(1).withColumn(
        "surface", F.lit("no such surface")
    )
    return LI.unlinked_mentions(
        kg["mentions"].unionByName(unknown), kg["aliases"]
    )


def _labels(kg):
    t = kg["triples"]
    nodes = t.select(F.col("subj").alias("id")).distinct().select(
        id_num(F.col("id")).alias("id_num"), "id",
        F.concat(F.lit("label of "), "id").alias("label"),
    )
    return attach_labels(t.select("subj", "obj"), nodes)


SITES = {
    "link_mentions": lambda kg: LI.link_mentions(
        kg["mentions"], kg["aliases"], kg["catalog"]
    ),
    "unlinked_mentions": _unlinked,
    "rewrite_triples": _rewrite,
    "rewrite_triples_known_count": lambda kg: _rewrite(kg, remap_count=2),
    "k_hop_subgraph": lambda kg: G.k_hop_subgraph(
        kg["triples"], kg["seeds"], k=2, checkpoint=False
    ),
    "transitive_closure_from": lambda kg: G.transitive_closure_from(
        kg["edges"], kg["seeds"], checkpoint=False
    ),
    "transitive_closure_pairs_from": lambda kg: G.transitive_closure_pairs_from(
        kg["edges"], kg["seeds"], checkpoint=False
    ),
    "contamination_counts": lambda kg: DC.contamination_counts(
        _docs(kg), _bench(kg), n=8
    ),
    "contamination_report": lambda kg: DC.contamination_report(
        _docs(kg), _bench(kg), n=8
    ),
    "inverted_index_stats": lambda kg: CW.inverted_index_stats(
        kg["triples"], kg["props"], hot_threshold=50
    ),
    "inverted_index": lambda kg: CW.inverted_index(
        kg["triples"], kg["props"], hot_threshold=50
    ),
    "ns_usage": lambda kg: ns_usage(kg["ext"]),
    "attach_labels": _labels,
}


@pytest.fixture
def no_auto_broadcast(spark):
    """Spark's own size rule off, so only a hint can broadcast."""
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    yield
    for k, v in saved.items():
        spark.conf.unset(k) if v is None else spark.conf.set(k, v)


@pytest.mark.parametrize("site", sorted(SITES))
def test_bounded_broadcast_both_sides(kg, site, no_auto_broadcast, monkeypatch):
    """Under the gate the build side is broadcast; over it (the gate
    patched to 0) the join plans with no broadcast, and the rows are
    the same either way."""

    def run():
        df = SITES[site](kg)
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan, Counter(repr(tuple(r)) for r in df.collect())

    plan_small, rows_small = run()
    monkeypatch.setattr(session, "BROADCAST_MAX_ROWS", 0)
    plan_big, rows_big = run()
    assert "BroadcastHashJoin" in plan_small, plan_small[:3000]
    assert "Broadcast" not in plan_big, plan_big[:3000]
    assert rows_small == rows_big and sum(rows_small.values()) > 0
    if site.startswith("rewrite_triples"):
        assert rows_small == Counter(map(repr, [
            ("q1", "P31", "q1", "u"), ("q3", "P279", "q1", "u"),
        ]))


def test_no_cache_outlives_the_call(spark, kg):
    """The dedup operators, PageRank and a curate run leave no entry in
    Spark's CacheManager, so a later call over the same plan cannot read
    this call's data."""
    from wikidata_dump_processor_spark.operators import dedup as D
    from wikidata_dump_processor_spark.operators.curate import curate_documents

    spark.catalog.clearCache()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    docs = kg["ext"].select(
        F.col("url").alias("doc_id"), "text", F.lit("s").alias("source")
    ).filter(F.col("text").isNotNull())
    for df in (
        D.ngram_jaccard_pairs(docs),
        D.minhash_lsh_pairs(docs),
        D.wordset_similarity_join(docs, threshold=0.5),
        D.simhash_near_pairs(docs),
        G.pagerank(kg["edges"], max_iter=3),
        curate_documents(
            kg["ext"].select("url", "warc_ts", "lang", "text").filter(
                F.col("text").isNotNull()
            ),
            para_dedup=True,
        ),
    ):
        df.count()
    assert cache_manager.isEmpty()
