"""k-hop neighborhood extraction (operators/graph.py) — golden-checked
against an independent Python BFS over the same triple set, on the
deterministic pipeline-derived triples (the reference's point-query
generalization, wdq2.pl:347-406)."""

import re

import pytest
from pyspark.sql import functions as F

from wikidata_dump_processor_spark import datagen
from wikidata_dump_processor_spark.operators import triples as TR
from wikidata_dump_processor_spark.operators.graph import (
    ENTITY_RE,
    k_hop_subgraph,
    neighborhood_sizes,
)
from wikidata_dump_processor_spark.operators.text_extract import extract_text


@pytest.fixture(scope="module")
def triple_rows(spark):
    pages = datagen.gen_pages(spark, 300)
    tr = TR.extract_triples(TR.parse_entities(extract_text(pages))).select(
        "subj", "pred", "obj"
    ).distinct().localCheckpoint(eager=True)
    return tr, [(r.subj, r.pred, r.obj) for r in tr.collect()]


def _py_k_hop(rows, seeds, k, directed=True):
    """Independent oracle: plain-Python BFS, hop 1 = seeds' own triples."""
    ent = re.compile(r"^[QL]\d+$")
    out_adj: dict = {}
    in_adj: dict = {}
    for s, p, o in rows:
        if not ent.match(s):
            continue
        out_adj.setdefault(s, []).append((s, p, o))
        if ent.match(o):
            in_adj.setdefault(o, []).append((s, p, o))
    sub, visited, frontier = set(), set(seeds), set(seeds)
    for _ in range(k):
        nxt = set()
        hop = set()
        for f in frontier:
            hop.update(out_adj.get(f, []))
            if not directed:
                hop.update(in_adj.get(f, []))
        sub.update(hop)
        for s, p, o in hop:
            if ent.match(o):
                nxt.add(o)
            if not directed:
                nxt.add(s)
        frontier = nxt - visited
        visited |= frontier
        if not frontier:
            break
    return sub


@pytest.mark.parametrize("k,directed", [(1, True), (2, True), (3, True), (2, False)])
def test_k_hop_golden(spark, triple_rows, k, directed):
    tr, rows = triple_rows
    seeds = ["Q10", "Q23"]
    got = {
        (r.subj, r.pred, r.obj)
        for r in k_hop_subgraph(tr, seeds, k=k, directed=directed).collect()
    }
    exp = _py_k_hop(rows, seeds, k, directed)
    assert got == exp and exp
    # k=1 directed is exactly the seeds' own triples (the point query)
    if k == 1 and directed:
        assert {s for s, _, _ in got} <= set(seeds)


def test_k_hop_edge_cases(spark, triple_rows):
    tr, rows = triple_rows
    # unknown seed: empty subgraph, no crash
    assert k_hop_subgraph(tr, ["Q999999999"], k=3).count() == 0
    # DataFrame seeds accepted
    seeds_df = spark.createDataFrame([("Q10",)], "id string")
    a = {tuple(r) for r in k_hop_subgraph(tr, seeds_df, k=2).collect()}
    b = _py_k_hop(rows, ["Q10"], 2)
    assert a == b
    # frontier gate fails loudly
    with pytest.raises(ValueError, match="max_frontier"):
        k_hop_subgraph(tr, ["Q10"], k=4, max_frontier=1)
    # sizes helper matches the subgraph
    sizes = neighborhood_sizes(tr, ["Q10"], k=2)
    sub = _py_k_hop(rows, ["Q10"], 2)
    ents = {s for s, _, _ in sub} | {
        o for _, _, o in sub if re.match(r"^[QL]\d+$", o)
    }
    assert sizes == {"triples": len(sub), "entities": len(ents)}


# ---------------------------------------------------------------------------
# degree stats + PageRank
# ---------------------------------------------------------------------------

from collections import Counter, defaultdict

from wikidata_dump_processor_spark.operators.graph import (  # noqa: E402
    degree_stats,
    entity_edges,
    pagerank,
)

EDGES = [
    ("Q1", "Q2"), ("Q1", "Q3"), ("Q2", "Q3"), ("Q3", "Q1"),
    ("Q4", "Q3"),  # Q5 below is a dangling sink
    ("Q1", "Q5"),
]


def _py_pagerank(edges, alpha, iters):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    out = Counter(s for s, _ in edges)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        dangling = sum(r[v] for v in nodes if out[v] == 0)
        contrib = defaultdict(float)
        for s, d in edges:
            contrib[d] += r[s] / out[s]
        r = {
            v: (1 - alpha) / n + alpha * (contrib[v] + dangling / n)
            for v in nodes
        }
    return r


@pytest.fixture(scope="module")
def edges_df(spark):
    return spark.createDataFrame(EDGES, "src string, dst string")


def test_degree_stats_hand_computed(spark):
    tr = spark.createDataFrame(
        [
            ("Q1", "P31", "Q2"),
            ("Q1", "P279", "Q2"),   # parallel edge: deduped
            ("Q1", "P569", "1901"),  # literal obj: not an edge
            ("Q2", "P31", "Q3"),
        ],
        "subj string, pred string, obj string",
    )
    got = {r.id: (r.out_deg, r.in_deg) for r in degree_stats(tr).collect()}
    assert got == {"Q1": (1, 0), "Q2": (1, 1), "Q3": (0, 1)}
    assert entity_edges(tr).count() == 2


def test_pagerank_matches_power_iteration(spark, edges_df):
    want = _py_pagerank(EDGES, alpha=0.85, iters=15)
    got = {
        r.id: r.rank
        for r in pagerank(edges_df, alpha=0.85, max_iter=15, tol=None).collect()
    }
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9, v
    assert abs(sum(got.values()) - 1.0) < 1e-9  # dangling mass conserved


def test_pagerank_tol_early_stop(spark, edges_df):
    # loose tolerance stops early yet stays normalized
    got = pagerank(edges_df, alpha=0.85, max_iter=50, tol=1e-3)
    s = got.agg(F.sum("rank")).first()[0]
    assert abs(s - 1.0) < 1e-9


def test_pagerank_star_graph_ranks_center_highest(spark):
    star = spark.createDataFrame(
        [(f"Q{i}", "Q0") for i in range(1, 8)], "src string, dst string"
    )
    r = {x.id: x.rank for x in pagerank(star, max_iter=10, tol=None).collect()}
    assert r["Q0"] == max(r.values())


def test_pagerank_empty(spark):
    e = spark.createDataFrame([], "src string, dst string")
    assert pagerank(e).count() == 0


# ---------------------------------------------------------------------------
# transitive closure — golden-checked against an independent Python
# closure over the SAME pipeline-derived P279 edge set
# ---------------------------------------------------------------------------


def _py_closure(edges):
    """Warshall-free oracle: per-node BFS over the adjacency list."""
    adj: dict = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    pairs = set()
    for start in adj:
        seen, stack = set(), list(adj[start])
        while stack:
            n = stack.pop()
            if n in seen:
                continue
            seen.add(n)
            stack.extend(adj.get(n, ()))
        pairs.update((start, n) for n in seen)
    return pairs


def _entity_edges_py(rows):
    ent = re.compile(r"^[QL]\d+$")
    return sorted(
        {(s, o) for s, _p, o in rows if ent.match(s) and o and ent.match(o)}
    )


def test_transitive_closure_pairs_golden(spark, triple_rows):
    # the full entity graph, not one predicate: datagen's P31 chains give
    # it real depth AND cycles (human -> Q5 -> Q105 <-> Q155), so this
    # exercises the fixpoint loop, not just the edge copy
    from wikidata_dump_processor_spark.operators.graph import (
        entity_edges,
        transitive_closure_pairs,
    )

    tr, rows = triple_rows
    edges = _entity_edges_py(rows)
    assert len(edges) > 100
    want = _py_closure(edges)
    got = {
        (r.src, r.dst)
        for r in transitive_closure_pairs(entity_edges(tr)).collect()
    }
    assert got == want
    # depth: the graph must chain (closure strictly bigger than edges)
    assert len(want) > len(edges)


def test_transitive_closure_from_golden(spark, triple_rows):
    from wikidata_dump_processor_spark.operators.graph import (
        entity_edges,
        transitive_closure_from,
    )

    tr, rows = triple_rows
    edges = _entity_edges_py(rows)
    want_all = _py_closure(edges)
    seeds = sorted({s for s, _ in edges})[:5]
    want = {d for s, d in want_all if s in seeds}
    got = {
        r.id for r in transitive_closure_from(entity_edges(tr), seeds).collect()
    }
    assert got == want


def test_transitive_closure_from_seed_list_is_local_table_scan(spark):
    """A seed list plans as an Arrow ``LocalTableScan``: the closure's
    plan holds no Python-RDD ``Scan ExistingRDD``, so no hop's job runs
    through a Python worker."""
    from wikidata_dump_processor_spark.operators.graph import (
        transitive_closure_from,
    )

    chain = spark.range(6).select(
        F.concat(F.lit("Q"), F.col("id").cast("string")).alias("src"),
        F.concat(F.lit("Q"), (F.col("id") + 1).cast("string")).alias("dst"),
    )
    cl = transitive_closure_from(chain, ["Q0", "Q3"], checkpoint=False)
    assert {r.id for r in cl.collect()} == {f"Q{i}" for i in range(1, 7)}
    plan = cl._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "Scan ExistingRDD" not in plan, plan


def test_transitive_closure_empty_and_fixpoint_gate(spark):
    from wikidata_dump_processor_spark.operators.graph import (
        transitive_closure_from,
    )

    e = spark.createDataFrame([], "src string, dst string")
    assert transitive_closure_from(e, ["Q1"]).count() == 0
    chain = spark.createDataFrame(
        [(f"Q{i}", f"Q{i+1}") for i in range(10)], "src string, dst string"
    )
    with pytest.raises(ValueError, match="fixpoint"):
        transitive_closure_from(chain, ["Q0"], max_iters=3)


def _py_triangles(edges):
    """Independent oracle: brute-force over the undirected simple graph."""
    und = set()
    for s, d in edges:
        if s != d:
            und.add((min(s, d), max(s, d)))
    adj: dict = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    counts: dict = {}
    seen = set()
    for a, b in und:
        for c in adj[a] & adj[b]:
            t = tuple(sorted((a, b, c)))
            if t in seen:
                continue
            seen.add(t)
            for n in t:
                counts[n] = counts.get(n, 0) + 1
    return counts


def _augment_with_closing_edges(rows):
    """The datagen graph is layered (sources -> targets, no lateral
    edges) and therefore triangle-FREE; close wedges on small hubs
    (in-degree 2..8) deterministically so the triangle machinery has
    real work.  Mirrored by the g4 oracle SQL in queries_catalog."""
    edges = _entity_edges_py(rows)
    indeg: dict = {}
    for _a, b in edges:
        indeg[b] = indeg.get(b, 0) + 1
    hubs = {b for b, d in indeg.items() if 2 <= d <= 8}
    by_hub: dict = {}
    for a, b in edges:
        if b in hubs:
            by_hub.setdefault(b, []).append(a)
    closing = sorted(
        {
            (x, y)
            for srcs in by_hub.values()
            for x in srcs
            for y in srcs
            if x < y
        }
    )
    assert closing, "augmentation produced no closing edges"
    return closing


def test_triangle_counts_golden(spark, triple_rows):
    from wikidata_dump_processor_spark.operators.graph import triangle_counts

    tr, rows = triple_rows
    closing = _augment_with_closing_edges(rows)
    aug = tr.unionByName(
        spark.createDataFrame(
            [(a, "Pclose", b) for a, b in closing],
            "subj string, pred string, obj string",
        )
    )
    want = _py_triangles(_entity_edges_py(rows) + closing)
    assert want, "augmented graph must contain triangles"
    got = {r.id: r.triangles for r in triangle_counts(aug).collect()}
    assert got == want


def test_triangle_counts_hand_graph(spark):
    from wikidata_dump_processor_spark.operators.graph import triangle_counts

    # K4 on Q1..Q4 (4 triangles, 3 per node) + a pendant + a self-loop
    edges = [
        ("Q1", "Q2"), ("Q1", "Q3"), ("Q1", "Q4"),
        ("Q2", "Q3"), ("Q2", "Q4"), ("Q3", "Q4"),
        ("Q4", "Q5"),            # pendant: no triangle
        ("Q6", "Q6"),            # self-loop: ignored
        ("Q2", "Q1"),            # reverse duplicate: same undirected edge
    ]
    t = spark.createDataFrame(
        [(a, "P0", b) for a, b in edges], "subj string, pred string, obj string"
    )
    got = {r.id: r.triangles for r in triangle_counts(t).collect()}
    assert got == {"Q1": 3, "Q2": 3, "Q3": 3, "Q4": 3}


def test_clustering_coefficients_hand_graph(spark):
    from wikidata_dump_processor_spark.operators.graph import (
        clustering_coefficients,
    )

    # triangle Q1-Q2-Q3 plus pendant Q3-Q4
    edges = [("Q1", "Q2"), ("Q2", "Q3"), ("Q1", "Q3"), ("Q3", "Q4")]
    t = spark.createDataFrame(
        [(a, "P0", b) for a, b in edges], "subj string, pred string, obj string"
    )
    got = {
        r.id: (r.und_deg, r.triangles, round(r.coeff, 6))
        for r in clustering_coefficients(t).collect()
    }
    assert got == {
        "Q1": (2, 1, 1.0),
        "Q2": (2, 1, 1.0),
        "Q3": (3, 1, round(1 / 3, 6)),
        "Q4": (1, 0, 0.0),
    }


def test_clustering_coefficients_golden(spark, triple_rows):
    from wikidata_dump_processor_spark.operators.graph import (
        clustering_coefficients,
    )

    tr, rows = triple_rows
    closing = _augment_with_closing_edges(rows)
    aug = tr.unionByName(
        spark.createDataFrame(
            [(a, "Pclose", b) for a, b in closing],
            "subj string, pred string, obj string",
        )
    )
    edges = _entity_edges_py(rows) + closing
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    deg: dict = {}
    for a, b in und:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    tris = _py_triangles(edges)
    got = {
        r.id: (r.und_deg, r.triangles, round(r.coeff, 9))
        for r in clustering_coefficients(aug).collect()
    }
    want = {
        n: (
            d,
            tris.get(n, 0),
            round(2 * tris.get(n, 0) / (d * (d - 1)), 9) if d >= 2 else 0.0,
        )
        for n, d in deg.items()
    }
    assert got == want


def test_personalized_pagerank_matches_power_iteration(spark, edges_df):
    from wikidata_dump_processor_spark.operators.graph import pagerank

    edges = edges_df
    rows = [(r.src, r.dst) for r in edges.select("src", "dst").collect()]
    seeds = sorted({s for s, _ in rows})[:2]
    got = {
        r.id: r.rank
        for r in pagerank(
            edges, alpha=0.85, max_iter=30, tol=None, reset=seeds
        ).collect()
    }

    # independent Python PPR power iteration
    nodes = sorted({n for e in rows for n in e})
    out_adj: dict = {}
    for s, d in rows:
        out_adj.setdefault(s, []).append(d)
    r0 = {n: (1.0 / len(seeds) if n in seeds else 0.0) for n in nodes}
    rank = dict(r0)
    for _ in range(30):
        dangling = sum(v for n, v in rank.items() if n not in out_adj)
        nxt = {n: 0.0 for n in nodes}
        for s, outs in out_adj.items():
            w = rank[s] / len(outs)
            for d in outs:
                nxt[d] += w
        rank = {
            n: 0.15 * r0[n] + 0.85 * (nxt[n] + dangling * r0[n])
            for n in nodes
        }
    assert set(got) == set(nodes)
    for n in nodes:
        assert abs(got[n] - rank[n]) < 1e-9, n
    # mass conservation + personalization: non-seed-unreachable nodes
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_personalized_pagerank_zero_mass_raises(spark, edges_df):
    from wikidata_dump_processor_spark.operators.graph import pagerank

    with pytest.raises(ValueError, match="zero mass"):
        pagerank(edges_df, reset=["Q_not_in_graph"], max_iter=1, tol=None)


def test_ppr_duplicate_reset_ids_sum_not_fanout(spark, edges_df):
    """Duplicate ids in an (id, weight) reset DataFrame must aggregate,
    not fan out the base join (which would duplicate node rows and skew
    every rank) — ADVICE round-5 finding."""
    from wikidata_dump_processor_spark.operators.graph import pagerank

    seed = edges_df.select("src").first()[0]
    dup = spark.createDataFrame(
        [(seed, 1.0), (seed, 1.0)], "id string, w double"
    )
    once = spark.createDataFrame([(seed, 2.0)], "id string, w double")
    got_dup = {
        r.id: r.rank
        for r in pagerank(edges_df, max_iter=8, tol=None, reset=dup).collect()
    }
    got_once = {
        r.id: r.rank
        for r in pagerank(edges_df, max_iter=8, tol=None, reset=once).collect()
    }
    n_nodes = (
        edges_df.selectExpr("src as id")
        .union(edges_df.selectExpr("dst as id"))
        .distinct()
        .count()
    )
    assert len(got_dup) == n_nodes  # no fan-out duplication
    assert got_dup == got_once  # 1.0+1.0 for one id == 2.0 once
    assert abs(sum(got_dup.values()) - 1.0) < 1e-9


def test_ppr_negative_reset_weight_raises(spark, edges_df):
    from wikidata_dump_processor_spark.operators.graph import pagerank

    seed = edges_df.select("src").first()[0]
    bad = spark.createDataFrame(
        [(seed, 2.0), (seed, -0.5)], "id string, w double"
    )
    # net-positive per id but a negative component elsewhere must raise
    other = edges_df.select("dst").first()[0]
    bad2 = spark.createDataFrame(
        [(seed, 1.0), (other, -0.25)], "id string, w double"
    )
    with pytest.raises(ValueError, match="negative reset weight"):
        pagerank(edges_df, max_iter=1, tol=None, reset=bad2)
    # duplicate-summed net weight is what is validated, not raw rows
    got = pagerank(edges_df, max_iter=1, tol=None, reset=bad)
    assert abs(got.agg(F.sum("rank")).first()[0] - 1.0) < 1e-9


def test_pagerank_tol_every_matches_every_iteration_result(spark, edges_df):
    """tol_every amortizes the convergence job without changing the
    fixed-step numerics (checks fire on multiples of k only)."""
    a = {
        r.id: r.rank
        for r in pagerank(edges_df, max_iter=12, tol=1e-12).collect()
    }
    b = {
        r.id: r.rank
        for r in pagerank(
            edges_df, max_iter=12, tol=1e-12, tol_every=5
        ).collect()
    }
    for k in a:
        assert abs(a[k] - b[k]) < 1e-12, k
