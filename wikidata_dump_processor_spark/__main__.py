"""Console entry: run the KG-construction pipeline end to end, and
query its output.

    python -m wikidata_dump_processor_spark PAGES_DIR OUT_DIR \
        --aliases ALIASES_DIR [--catalog CATALOG_DIR] [options]

    python -m wikidata_dump_processor_spark query OUT_DIR Q42
    python -m wikidata_dump_processor_spark query OUT_DIR \
        "?x P31 Q5 . ?x P19 ?place"       # BGP over canonical triples

The reference is runnable as ``./wdq0b.pl`` (wdq0b.pl:105-124 — the
orchestrator script IS the deployment unit); this module is the Spark
equivalent.  Local run: the session factory picks ``local[$SPARK_GRAFT_CPUS]``.
Cluster run (north_rule: ``spark-submit --py-files`` at two cluster sizes):

    spark-submit --master <cluster> --py-files wdp_spark.zip \
        -m wikidata_dump_processor_spark  PAGES OUT --aliases ...    # or:
    SPARK_MASTER= spark-submit ... $(python -c 'import wikidata_dump_processor_spark as m, os; print(os.path.dirname(m.__file__))')/__main__.py PAGES OUT ...

(with ``SPARK_MASTER`` empty the builder leaves the master to
spark-submit).

Inputs
  PAGES_DIR    parquet of Common-Crawl-style pages
               (url:string, warc_ts:timestamp, html:binary,
               text:string, lang:string) — the BASELINE.json input_hint
               shape; pass ``--demo-pages N`` instead of a real dir to
               run the deterministic synthetic corpus.
  --aliases    parquet alias dictionary (surface -> candidate entity)
  --catalog    optional parquet entity catalog for linking priors

The run is resumable: re-invoking with the same OUT_DIR + fingerprint
skips committed stages (snapshot manifest).  Default fingerprint is the
input's byte size, so a changed input re-runs.
"""

from __future__ import annotations

import json
import sys


def _query_main(argv: list[str]) -> int:
    """``query`` subcommand — the reference's wdq2.pl invocation shape
    (``wdq2.pl Q42`` prints the entity's triples, wdq2.pl:347-406)
    generalized to BGP pattern queries over a pipeline output dir:

        python -m wikidata_dump_processor_spark query OUT_DIR Q42
        python -m wikidata_dump_processor_spark query OUT_DIR \
            "?x P31 Q5 . ?x P19 ?place" --filter "place rlike '^Q'"

    Constant-predicate patterns prune the pred-partitioned
    canonical_triples layout to single directories.  A constant
    predicate may carry a SPARQL path modifier (``P279+`` / ``P279*``,
    fixpoint closure); ``--optional`` adds left-joined groups and
    ``--union`` extra branches.
    """
    import argparse
    import os

    p = argparse.ArgumentParser(
        prog="python -m wikidata_dump_processor_spark query",
        description="BGP pattern query over a pipeline output",
    )
    p.add_argument("out", help="pipeline output dir (OUT_DIR of a run)")
    p.add_argument("bgp", help="BGP string, or a bare entity id for the "
                               "wdq2-style point query")
    p.add_argument("--filter", action="append", default=[],
                   help="SQL boolean over the variables (repeatable)")
    p.add_argument("--optional", action="append", default=[],
                   help="OPTIONAL pattern group (BGP string, repeatable): "
                        "left-joined on shared variables, NULL where "
                        "unmatched")
    p.add_argument("--minus", action="append", default=[],
                   help="MINUS pattern group (BGP string, repeatable): "
                        "bindings with a matching solution on the shared "
                        "variables are removed (SPARQL negation — the "
                        "reference's no_P31 report shape)")
    p.add_argument("--union", action="append", default=[],
                   help="additional UNION branch (BGP string, repeatable): "
                        "branches align by variable name, missing "
                        "variables surface NULL")
    p.add_argument("--stats", action="store_true",
                   help="order patterns by estimated cardinality instead "
                        "of the static heuristic: reads the pipeline's "
                        "materialized predicate_stats stage when present "
                        "(--table-stats at pipeline time), else computes "
                        "the report on the fly")
    p.add_argument("--labels", action="store_true",
                   help="wdq2 'labels' render mode: entity bindings are "
                        "printed as 'Q42 (label)' via the pipeline's "
                        "bucketed nodes table (exchange-free on the "
                        "nodes side)")
    p.add_argument("--limit", type=int, default=None)
    p.add_argument("--bag", action="store_true",
                   help="keep duplicate bindings (default: distinct)")
    p.add_argument("--table", default="canonical_triples",
                   choices=["canonical_triples", "triples", "rdf_ntriples"],
                   help="which triples snapshot to query; rdf_ntriples "
                        "parses the N-Triples export (or any foreign "
                        ".nt dump placed at OUT_DIR/rdf_ntriples)")
    p.add_argument("--allow-product", action="store_true",
                   help="permit disconnected pattern groups")
    p.add_argument("--json", action="store_true",
                   help="ndjson output instead of TSV")
    p.add_argument("--cpus", type=int, default=None)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    args = p.parse_args(argv)

    from .plans.bgp import match_patterns, match_union, parse_bgp
    from .session import get_spark

    if " " in args.bgp.strip():
        patterns = parse_bgp(args.bgp)
    else:  # bare id: all triples of this entity (wdq2.pl point query)
        patterns = [(args.bgp.strip(), "?pred", "?obj")]
    if args.union and args.optional:
        p.error("--union and --optional cannot combine in one query")

    spark = get_spark(
        "wdp-query", cpus=args.cpus,
        shuffle_partitions=args.shuffle_partitions,
    )
    if args.table == "rdf_ntriples":
        from .functions.rdf import read_ntriples

        triples = read_ntriples(spark, os.path.join(args.out, args.table))
    else:
        triples = spark.read.parquet(os.path.join(args.out, args.table))
    stats = None
    if args.stats:
        stats_dir = os.path.join(args.out, "predicate_stats")
        if os.path.isdir(stats_dir):  # materialized by --table-stats
            stats = spark.read.parquet(stats_dir).select(
                "pred", "n_triples", "n_subj", "n_obj"
            )
        else:
            from .operators.triples import predicate_stats

            stats = predicate_stats(triples, exact=False)
    if args.union:
        if args.minus:
            p.error("--union and --minus cannot combine in one query")
        res = match_union(
            triples, [patterns, *args.union], filters=args.filter,
            distinct=not args.bag, allow_product=args.allow_product,
            limit=args.limit, stats=stats,
        )
    else:
        res = match_patterns(
            triples, patterns, filters=args.filter,
            distinct=not args.bag, allow_product=args.allow_product,
            limit=args.limit, optional=args.optional, minus=args.minus,
            stats=stats,
        )
    base_cols = list(res.columns)
    if args.labels:
        from .plans.bgp import attach_labels
        from .plans.pipeline import StageManifest, _ensure_bucketed_table

        man = StageManifest(args.out)
        ninfo = man.stages.get("nodes", {})
        npath = ninfo.get("path", os.path.join(args.out, "nodes"))
        nmet = ninfo.get("metrics", {})
        if nmet.get("table"):
            # re-attach the bucketed layout so the lookup joins plan
            # with no Exchange on the nodes side
            _ensure_bucketed_table(
                spark, nmet["table"], dict(ninfo, path=npath),
                nmet.get("buckets", 64), "id_num",
            )
            nodes = spark.table(nmet["table"])
        else:
            nodes = spark.read.parquet(npath)
        res = attach_labels(res, nodes, columns=base_cols)
    cols = res.columns
    rows = res.toLocalIterator()
    if args.json:
        for r in rows:
            print(json.dumps(dict(zip(cols, r)), ensure_ascii=False))
    else:
        print("\t".join(base_cols))
        for r in rows:
            d = dict(zip(cols, r))
            cells = []
            for c in base_cols:
                v = d[c]
                lab = d.get(f"{c}_label")
                if v is None:
                    cells.append("")
                elif lab is not None:
                    cells.append(f"{v} ({lab})")
                else:
                    cells.append(str(v))
            print("\t".join(cells))
    spark.stop()
    return 0


def main(argv: list[str] | None = None) -> int:
    import argparse

    from .plans.snapshots import BACKENDS

    if argv is None:
        argv = sys.argv[1:]
    if argv and argv[0] == "query":
        return _query_main(argv[1:])

    p = argparse.ArgumentParser(
        prog="python -m wikidata_dump_processor_spark",
        description="PySpark-native KG-construction pipeline",
    )
    p.add_argument("pages", help="pages parquet dir ('-' with --demo-pages)")
    p.add_argument("out", help="output directory (snapshots + manifest)")
    p.add_argument("--aliases", help="alias-dictionary parquet dir")
    p.add_argument("--catalog", help="entity-catalog parquet dir")
    p.add_argument("--fingerprint", default="", help="resume fingerprint (default: input byte size)")
    p.add_argument("--cpus", type=int, default=None, help="local-mode cores")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--node-buckets", type=int, default=64)
    p.add_argument("--pre-split", action="store_true",
                   help="input rows are raw multi-page dump streams")
    p.add_argument("--curate", action="store_true",
                   help="add the docs_curated training-data stage")
    p.add_argument("--domain-cap", type=int, default=None,
                   help="head-domain quota for --curate")
    p.add_argument("--benchmark", default=None,
                   help="parquet dir of benchmark texts: --curate drops "
                        "documents sharing a normalized n-gram with them")
    p.add_argument("--decontam-ngram", type=int, default=13,
                   help="n-gram size for --benchmark decontamination")
    p.add_argument("--pii-redact", action="store_true",
                   help="--curate also carries a text_redacted column "
                        "(typed PII placeholders)")
    p.add_argument("--para-dedup", action="store_true",
                   help="--curate strips corpus-wide duplicated "
                        "paragraphs (boilerplate) before the filters")
    p.add_argument("--near-dup-policy", choices=["pairs", "clusters"],
                   default="pairs",
                   help="--curate near-dup drop policy: greedy pairwise "
                        "min-keeper (default) or the transitive closure "
                        "(connected components over the pair stream)")
    p.add_argument("--triples-by-subj", action="store_true",
                   help="add the subject-bucketed triples layout")
    p.add_argument("--graph-stats", action="store_true",
                   help="add the graph_degrees + graph_pagerank stages")
    p.add_argument("--table-stats", action="store_true",
                   help="add the predicate_stats stage (per-predicate "
                        "cardinalities; the query subcommand's --stats "
                        "planner reads it instead of re-scanning)")
    p.add_argument("--export-rdf", action="store_true",
                   help="add the rdf_ntriples stage: canonical triples "
                        "as gzip W3C N-Triples (Wikidata IRI scheme)")
    p.add_argument("--pagerank-iters", type=int, default=10)
    p.add_argument("--demo-pages", type=int, default=None,
                   help="generate N deterministic synthetic pages instead of reading PAGES")
    p.add_argument("--snapshot-backend", default=None,
                   choices=BACKENDS,
                   help="mirror every stage commit into a snapshot "
                        "catalog (plans/snapshots.py; json: a JSON "
                        "snapshot log in OUT); manifest entries gain "
                        "snapshot_id")
    args = p.parse_args(argv)

    from .plans.pipeline import preflight_input_gate, run_pipeline
    from .session import get_spark

    spark = get_spark(
        "wdp-pipeline", cpus=args.cpus,
        shuffle_partitions=args.shuffle_partitions,
    )
    from . import datagen

    if args.demo_pages:
        pages = datagen.gen_pages(spark, args.demo_pages)
        fp = args.fingerprint or f"demo={args.demo_pages}"
    else:
        n_bytes = preflight_input_gate(spark, args.pages)
        pages = spark.read.parquet(args.pages)
        fp = args.fingerprint or f"bytes={n_bytes}"
    if args.aliases:
        aliases = spark.read.parquet(args.aliases)
    elif args.demo_pages:
        aliases = datagen.gen_aliases(spark)
    else:
        p.error("--aliases is required unless --demo-pages is used")
    catalog = spark.read.parquet(args.catalog) if args.catalog else None

    curate_opts = {}
    if args.domain_cap is not None:
        curate_opts["domain_cap"] = args.domain_cap
    if args.benchmark:
        curate_opts["benchmark"] = spark.read.parquet(args.benchmark)
        curate_opts["decontam_ngram"] = args.decontam_ngram
    if args.pii_redact:
        curate_opts["pii_redact"] = True
    if args.para_dedup:
        curate_opts["para_dedup"] = True
    if args.near_dup_policy == "clusters":
        curate_opts["near_dup"] = "clusters"
    curate_opts = curate_opts or None
    res = run_pipeline(
        spark, pages, aliases, args.out, catalog,
        fingerprint=fp,
        pre_split=args.pre_split,
        node_buckets=args.node_buckets,
        curate=args.curate,
        curate_opts=curate_opts,
        triples_by_subj=args.triples_by_subj,
        graph_stats=args.graph_stats,
        table_stats=args.table_stats,
        pagerank_iters=args.pagerank_iters,
        export_rdf=args.export_rdf,
        snapshot_backend=args.snapshot_backend,
    )
    man = res["manifest"]
    summary = {
        "out": args.out,
        "fingerprint": fp,
        "stages": {
            s: {
                "rows": e.get("metrics", {}).get("rows"),
                "bytes": e.get("metrics", {}).get("bytes"),
            }
            for s, e in sorted(man.stages.items())
            if e.get("state", "committed") == "committed"
        },
    }
    if args.curate:
        summary["curate_filters"] = man.stages["curate"]["metrics"]["filters"]
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
