"""K-hop neighborhood extraction over the triples graph.

The reference's per-entity point query (``wdq2.pl Q42``,
wdq2.pl:347-406) answers "all triples OF this entity"; a KG user's next
question is "...and of everything within k hops".  Re-expressed
Spark-first as an iterative frontier expansion, the same shape as the
CC loop (operators/canonicalize.py): k bounded iterations, each ONE
join of the triples table against the current frontier, lineage
truncated per hop with ``localCheckpoint``.

Traversal follows ENTITY-valued objects only (``^[QL]\\d+$`` — the
same id grammar the reference's get_items parses); literal objects
(dates, strings, JSON values) terminate a path but their triples are
still returned as part of the subgraph.

Scale notes (100 TB triples, bounded-k):

* the frontier is a 1-column id set, counted every hop and broadcast
  into the triples join through ``session.bounded_broadcast`` (the gate
  rewrite_triples' remap shares), so a typical k-hop around a handful
  of seeds never shuffles the triples table at all: k broadcast-hash
  probes + parquet pushdown;
* above the gate the join falls back to shuffle; on the
  subject-bucketed ``triples_by_subj`` layout (plans/pipeline.py) the
  triples side is ALREADY hash-distributed on ``subj_num``, so only
  the frontier repartitions (Exchange on the 1-column side only);
* the accumulated subgraph/visited sets grow with the true neighborhood
  size — k-hop on a supernode explodes by nature; ``max_frontier``
  fails loudly before a runaway frontier melts the cluster (the same
  discipline as the mention scanner's broadcast gate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import bounded_broadcast, local_df

ENTITY_RE = r"^[QL]\d+$"


def k_hop_subgraph(
    triples: DataFrame,
    seeds: list[str] | DataFrame,
    k: int = 2,
    directed: bool = True,
    max_frontier: int | None = 50_000_000,
    checkpoint: bool = True,
) -> DataFrame:
    """All (subj, pred, obj) triples reachable from ``seeds`` within
    ``k`` hops — hop 1 = the seeds' own triples.  ``directed=False``
    also traverses subj<-obj (the entity graph's undirected closure).

    ``seeds`` is a list of entity ids or a 1-column DataFrame of them.
    Returns the DISTINCT subgraph triple set.
    """
    spark = triples.sparkSession
    if isinstance(seeds, DataFrame):
        frontier = seeds.toDF("id").distinct()
    else:
        frontier = local_df(spark, [(s,) for s in set(seeds)], "id string")
    t = triples.select("subj", "pred", "obj").filter(
        F.col("subj").rlike(ENTITY_RE)
    )
    visited = frontier
    sub = None
    for _hop in range(k):
        n_frontier = frontier.count()  # bounded: id set, one short job
        if n_frontier == 0:
            break
        if max_frontier is not None and n_frontier > max_frontier:
            raise ValueError(
                f"frontier hit {n_frontier} ids (> max_frontier="
                f"{max_frontier}) at hop {_hop + 1}: a supernode "
                "neighborhood is exploding — lower k, raise the gate, or "
                "pre-filter predicates"
            )
        f_subj = bounded_broadcast(frontier, n_frontier)
        hop_triples = t.join(
            f_subj.withColumnRenamed("id", "subj"), "subj", "left_semi"
        )
        if not directed:
            hop_triples = hop_triples.unionByName(
                t.join(f_subj.withColumnRenamed("id", "obj"), "obj", "left_semi")
                .select("subj", "pred", "obj")
            )
        if checkpoint:
            hop_triples = hop_triples.localCheckpoint(eager=False)
        sub = (
            hop_triples if sub is None else sub.unionByName(hop_triples)
        )
        # next frontier: newly reached entity endpoints
        ends = hop_triples.select(
            F.col("obj").alias("id")
        ).filter(F.col("id").rlike(ENTITY_RE))
        if not directed:
            ends = ends.unionByName(hop_triples.select(F.col("subj").alias("id")))
        frontier = ends.distinct().join(visited, "id", "left_anti")
        visited = visited.unionByName(frontier)
        if checkpoint:
            frontier = frontier.localCheckpoint(eager=False)
            visited = visited.localCheckpoint(eager=False)
    if sub is None:
        return t.limit(0)
    return sub.distinct()


def neighborhood_sizes(
    triples: DataFrame,
    seeds: list[str] | DataFrame,
    k: int = 2,
    **kw,
) -> dict:
    """Bounded profile of a k-hop expansion: {'triples': n, 'entities': m}
    for the subgraph — one aggregate over the k_hop result (a debugging /
    capacity-planning helper; collect is two scalars)."""
    sub = k_hop_subgraph(triples, seeds, k, **kw).localCheckpoint(eager=False)
    n_triples = sub.count()
    n_entities = (
        sub.select(F.col("subj").alias("id"))
        .unionByName(
            sub.select(F.col("obj").alias("id")).filter(
                F.col("id").rlike(ENTITY_RE)
            )
        )
        .distinct()
        .count()
    )
    return {"triples": n_triples, "entities": n_entities}


# ---------------------------------------------------------------------------
# whole-graph analytics: degree table + PageRank (the A2/A6 histogram
# reports generalized from per-key counts to graph-structural measures)
# ---------------------------------------------------------------------------


def entity_edges(triples: DataFrame, distinct: bool = True) -> DataFrame:
    """(src, dst) entity-to-entity edge list: triples whose subject AND
    object are entity ids (literal objects are node attributes, not
    edges — the same traversal rule as k_hop_subgraph)."""
    e = (
        triples.filter(
            F.col("subj").rlike(ENTITY_RE) & F.col("obj").rlike(ENTITY_RE)
        )
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    )
    return e.distinct() if distinct else e


def degree_stats(triples: DataFrame) -> DataFrame:
    """Per-entity (id, out_deg, in_deg) over the DISTINCT entity-edge
    set — one shuffle per side, a full outer merge, all codegen.  The
    reference reports per-key statement counts (wdq2.pl:408-520
    histograms); this is the graph-structural equivalent."""
    e = entity_edges(triples)
    out_d = e.groupBy(F.col("src").alias("id")).agg(
        F.count("*").cast("long").alias("out_deg")
    )
    in_d = e.groupBy(F.col("dst").alias("id")).agg(
        F.count("*").cast("long").alias("in_deg")
    )
    return (
        out_d.join(in_d, "id", "full_outer")
        .select(
            "id",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        )
    )


def pagerank(
    edges: DataFrame,
    alpha: float = 0.85,
    max_iter: int = 20,
    tol: float | None = 1e-6,
    checkpoint: bool = True,
    reset: DataFrame | list[str] | None = None,
    tol_every: int = 1,
) -> DataFrame:
    """PageRank over an (src, dst) edge DataFrame → (id, rank), ranks
    summing to 1.  Standard damped power iteration with explicit
    dangling-mass redistribution (public formulation, Page et al. 1999).

    Spark-first plan, per iteration:

    * ONE shuffle — the contribution aggregate ``groupBy(dst)``; the
      edges⋈ranks join reuses the ranks-side hash partitioning on
      ``id`` established below (edges are repartitioned ONCE on src and
      persisted for the call, so the join stays co-located);
    * the dangling mass is folded INTO the iteration plan as a 1-row
      scalar aggregate cross-joined onto the rank update (Spark sizes a
      global aggregate at one row and broadcasts it) —
      no per-iteration driver job for it, the iteration body submits
      ONE job (at 100 TB × 20 iterations the old per-iteration
      ``.first()`` was ~20 extra job submissions of pure latency);
    * lineage is truncated per iteration with ``localCheckpoint`` —
      without it the plan doubles per iteration and the driver dies
      compiling iteration 15 (the CC loop learned the same lesson,
      operators/canonicalize.py); ``checkpoint=False`` keeps every
      iteration in one plan and checkpoints only the result;
    * the result is returned materialized, and the persisted edges,
      nodes and base are released before the call returns;
    * ``tol`` adds one L1-delta aggregate every ``tol_every``-th
      iteration (the only remaining driver scalar in the loop); pass
      ``tol=None`` for fixed-step (skips that job entirely — at 100 TB
      a fixed 10-20 steps is the usual choice), or ``tol_every=5`` to
      amortize the check.

    ``reset`` personalizes the walk (PPR, the entity-relatedness form:
    "how related is everything to THESE seeds"): a list of ids (uniform
    teleport over them) or an (id, weight) DataFrame.  Teleport AND
    dangling mass then return to the reset distribution instead of
    1/n — the standard personalized formulation (Jeh & Widom 2003;
    weights are normalized over the nodes actually present in the
    graph, so no mass leaks to unknown ids).  Duplicate ids in a reset
    DataFrame are summed BEFORE the join into ``base`` (a duplicate key
    would otherwise fan out the join and silently duplicate node rows);
    negative weights raise.  Plan shape is unchanged: the reset column
    joins into the static ``base`` table once.
    """
    spark = edges.sparkSession
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    # The frames every iteration joins (edges on src, nodes and base on
    # id) are persisted, not locally checkpointed: under AQE a checkpoint
    # reports UnknownPartitioning, so each iteration would re-shuffle
    # them, while a persisted frame keeps its hash partitioning.  The
    # persists are scoped to the call, so no cache entry outlives it.
    e = edges.select("src", "dst").repartition(nparts, "src").persist()
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .repartition(nparts, "id")
        .persist()
    )
    held = [e, nodes]
    try:
        n = nodes.count()
        if n == 0:
            return nodes.withColumn("rank", F.lit(0.0))
        out_deg = e.groupBy(F.col("src").alias("id")).agg(
            F.count("*").alias("out_deg")
        )
        # (id, out_deg NULL for dangling) — static across iterations
        base = nodes.join(out_deg, "id", "left")
        if reset is not None:
            if isinstance(reset, DataFrame):
                # sum duplicate ids BEFORE joining: a duplicate reset key
                # would fan the left join out and duplicate node rows
                r_df = (
                    reset.toDF("id", "_w")
                    .withColumn("_w", F.col("_w").cast("double"))
                    .groupBy("id")
                    .agg(F.sum("_w").alias("_w"))
                )
            else:
                r_df = local_df(
                    spark, [(x, 1.0) for x in set(reset)], "id string, _w double"
                )
            base = base.join(r_df, "id", "left").withColumn(
                "_w", F.coalesce("_w", F.lit(0.0))
            )
            total_w, min_w = base.agg(F.sum("_w"), F.min("_w")).first()
            if min_w is not None and min_w < 0:
                raise ValueError(
                    f"negative reset weight ({min_w}) — a teleport "
                    "distribution needs non-negative mass"
                )
            total_w = total_w or 0.0
            if total_w <= 0:
                raise ValueError(
                    "reset distribution has zero mass on the graph's nodes"
                )
            base = base.withColumn("_r", F.col("_w") / F.lit(total_w)).drop("_w")
        else:
            base = base.withColumn("_r", F.lit(1.0 / n))
        base = base.persist()
        held.append(base)
        base.count()

        ranks = base.select("id", F.col("_r").alias("rank"))
        for _i in range(max_iter):
            r = base.join(ranks, "id")
            # dangling mass as a 1-row in-plan aggregate, cross-joined onto
            # the rank update (Spark broadcasts the one row unhinted) — NOT a
            # driver `.first()`: the iteration body stays a single Spark job
            dang = r.filter(F.col("out_deg").isNull()).agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dangling")
            )
            contrib = (
                e.join(
                    r.filter(F.col("out_deg").isNotNull()).select(
                        F.col("id").alias("src"),
                        (F.col("rank") / F.col("out_deg")).alias("w"),
                    ),
                    "src",
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum("w").alias("contrib"))
            )
            new_ranks = (
                base.select("id", "_r")
                .join(contrib, "id", "left")
                .crossJoin(dang)
                .select(
                    "id",
                    (
                        F.lit(1.0 - alpha) * F.col("_r")
                        + F.lit(alpha)
                        * (
                            F.coalesce("contrib", F.lit(0.0))
                            + F.col("_dangling") * F.col("_r")
                        )
                    ).alias("rank"),
                )
            )
            if checkpoint:
                new_ranks = new_ranks.localCheckpoint(eager=False)
            if tol is not None and (_i + 1) % max(1, tol_every) == 0:
                delta = (
                    new_ranks.join(
                        ranks.select("id", F.col("rank").alias("prev")), "id"
                    )
                    .agg(F.sum(F.abs(F.col("rank") - F.col("prev"))))
                    .first()[0]
                )
                ranks = new_ranks
                if delta is not None and delta < tol:
                    break
            else:
                ranks = new_ranks
        # a materialized local checkpoint: the result outlives `held`
        if not checkpoint:
            ranks = ranks.localCheckpoint(eager=False)
        ranks.count()
        return ranks
    finally:
        for df in held:
            df.unpersist()


# ---------------------------------------------------------------------------
# transitive closure: the property-path primitive (P279*/P279+ walks)
# ---------------------------------------------------------------------------


def transitive_closure_from(
    edges: DataFrame,
    seeds: list[str] | DataFrame,
    max_frontier: int | None = 50_000_000,
    max_iters: int = 64,
    checkpoint: bool = True,
) -> DataFrame:
    """Nodes reachable from ``seeds`` via >= 1 edge — the seeded side of
    a SPARQL property path (``Q5 P279+ ?anc``: seeds={Q5} over the P279
    edge set).  The reference walks exactly this shape one hop at a time
    (wdq3.pl's property walk, wdq3.pl:1-60); here the walk runs to the
    FIXPOINT, cycle-safe, instead of a caller-managed loop.

    ``edges`` is (src, dst) — for a property path, one predicate's edge
    set, which on the pred-partitioned triples layout is a single
    partition directory scan.  Returns a 1-column ``id`` DataFrame.

    Plan per iteration: one join of the (small) frontier against edges —
    broadcast while the frontier fits ``session.bounded_broadcast``'s
    gate, so a typical class-hierarchy walk never shuffles the edge
    table — plus an
    anti-join against the visited set; lineage truncated per hop.
    Unlike ``k_hop_subgraph`` there is no hop bound: termination is the
    fixpoint (frontier empties), with ``max_iters`` as a loud runaway
    gate (a diameter-64 class chain is a data bug, not a query).
    """
    spark = edges.sparkSession
    if isinstance(seeds, DataFrame):
        frontier = seeds.toDF("id").distinct()
    else:
        frontier = local_df(spark, [(s,) for s in set(seeds)], "id string")
    e = edges.select(F.col("src"), F.col("dst"))
    reached = None
    for _i in range(max_iters):
        n_frontier = frontier.count()  # 1-column id set: a short job
        if n_frontier == 0:
            return reached if reached is not None else frontier.limit(0)
        if max_frontier is not None and n_frontier > max_frontier:
            raise ValueError(
                f"closure frontier hit {n_frontier} ids (> max_frontier="
                f"{max_frontier}): a supernode closure is exploding — "
                "pre-filter the edge set or raise the gate"
            )
        f = bounded_broadcast(frontier, n_frontier)
        nxt = (
            e.join(f.withColumnRenamed("id", "src"), "src", "left_semi")
            .select(F.col("dst").alias("id"))
            .filter(F.col("id").isNotNull())
            .distinct()
        )
        if reached is None:
            frontier = nxt
            reached = nxt
        else:
            frontier = nxt.join(reached, "id", "left_anti")
            reached = reached.unionByName(frontier)
        if checkpoint:
            frontier = frontier.localCheckpoint(eager=False)
            reached = reached.localCheckpoint(eager=False)
    raise ValueError(
        f"closure did not reach a fixpoint in max_iters={max_iters} "
        "iterations — raise the gate if the hierarchy is genuinely deeper"
    )


def transitive_closure_pairs(
    edges: DataFrame,
    max_pairs: int | None = 100_000_000,
    max_iters: int = 64,
    checkpoint: bool = True,
) -> DataFrame:
    """The full transitive closure (src, dst): every pair connected by a
    path of >= 1 edge — the both-variables property path
    (``?x P279+ ?anc``).  Semi-naive evaluation: the delta (new pairs of
    the last round) extends by one edge per iteration and only
    never-seen pairs survive the anti-join, so cycles terminate and no
    path is re-derived.

    Worst case the closure holds O(V^2) pairs — on a 100 TB graph that
    is a data-set-sized output, so ``max_pairs`` fails loudly as the
    closure accumulates (checked per iteration against the running
    total, BEFORE the next expensive expansion round).  Real class/
    taxon hierarchies are shallow and sparse; the gate is for the query
    that hits the wrong predicate.

    Per iteration: one shuffle join (delta.dst = edges.src) + one
    anti-join on the accumulated closure; lineage truncated per round.
    """
    e = edges.select(F.col("src"), F.col("dst")).filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    return _closure_rounds(
        e, e.distinct(), max_pairs, max_iters, checkpoint,
        "transitive closure",
        "this predicate's closure is dataset-sized — walk it seeded "
        "(transitive_closure_from) or raise the gate",
    )


def _closure_rounds(
    e: DataFrame, closure: DataFrame, max_pairs: int | None, max_iters: int,
    checkpoint: bool, name: str, advice: str,
) -> DataFrame:
    """Semi-naive rounds from the distinct (src, dst) pairs ``closure``
    over the edge set ``e`` to the fixpoint: the delta (new pairs of the
    last round) extends by one edge and only never-seen pairs survive the
    anti-join.  ``max_pairs`` is checked against the running total before
    each round, ``max_iters`` bounds the rounds; ``name`` and ``advice``
    word their errors."""
    if checkpoint:
        closure = closure.localCheckpoint(eager=False)
    # ONE driver action per round (r7, the same economy as the PageRank
    # dangling fold): count only the DELTA and keep the running total on
    # the driver — `new` is distinct and anti-joined against the
    # accumulated closure, so rounds are disjoint and
    # total == |initial| + sum(|new|) exactly.
    total = closure.count()
    delta = closure
    for _i in range(max_iters):
        if max_pairs is not None and total > max_pairs:
            raise ValueError(
                f"{name} hit {total} pairs (> max_pairs={max_pairs}): {advice}"
            )
        new = (
            delta.join(
                e.select(F.col("src").alias("dst"), F.col("dst").alias("_nxt")),
                "dst",
            )
            .select(F.col("src"), F.col("_nxt").alias("dst"))
            .distinct()
            .join(closure, ["src", "dst"], "left_anti")
        )
        if checkpoint:
            new = new.localCheckpoint(eager=False)
        n_new = new.count()  # materializes the checkpoint, replaces isEmpty
        if n_new == 0:
            return closure
        closure = closure.unionByName(new)
        if checkpoint:
            closure = closure.localCheckpoint(eager=False)
        total += n_new
        delta = new
    raise ValueError(
        f"{name} did not converge in max_iters={max_iters} rounds — "
        "raise the gate if paths are genuinely that long"
    )


def transitive_closure_pairs_from(
    edges: DataFrame,
    seeds: list[str] | DataFrame,
    max_pairs: int | None = 100_000_000,
    max_iters: int = 64,
    checkpoint: bool = True,
) -> DataFrame:
    """(src, dst) closure pairs restricted to ``src IN seeds`` — the
    per-seed generalization of ``transitive_closure_from`` (which
    collapses per-seed identity into one reachable set).  The BGP
    planner uses it when a both-variables path pattern joins variables
    that are ALREADY bound: the walk state is then the true reachable
    pair set of the bindings, never the predicate's full closure
    (whose ``max_pairs`` gate a selective query must not hit).

    Per iteration: one join of the delta's frontier column against the
    edge set + one anti-join on the accumulated pairs; same gates and
    lineage truncation as ``transitive_closure_pairs``.
    """
    spark = edges.sparkSession
    if isinstance(seeds, DataFrame):
        s = seeds.toDF("id").distinct()
    else:
        s = local_df(spark, [(x,) for x in set(seeds)], "id string")
    e = edges.select(F.col("src"), F.col("dst")).filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    n_seeds = s.count()
    if n_seeds == 0:
        return e.limit(0)
    sj = bounded_broadcast(s, n_seeds)
    return _closure_rounds(
        e,
        e.join(sj.withColumnRenamed("id", "src"), "src", "left_semi").distinct(),
        max_pairs, max_iters, checkpoint,
        "seeded closure",
        "the seed set's reachable space is dataset-sized; raise the gate "
        "or narrow the seeds",
    )


def triangle_counts(triples: DataFrame) -> DataFrame:
    """Per-entity triangle participation counts over the UNDIRECTED
    entity graph → (id, triangles) — the local-clustering primitive
    (how tightly an entity's neighborhood interlinks), extending the
    degree/PageRank report family over the same edge set.

    Spark-first plan — the classic ordered-wedge formulation:

    * edges canonicalize to undirected distinct pairs, then orient
      LOW→HIGH by the total order (degree, id).  Degree ordering is the
      standard O(m^1.5) bound (Schank & Wagner 2005 / "compact-forward"):
      every wedge is enumerated at its lowest-ranked vertex, so a
      mega-hub (deg 10^6) never fans out its own neighbor pairs — its
      wedges are charged to its (almost always low-degree) neighbors;
    * every triangle {x<y<z} in rank order is counted exactly once as
      the wedge x→y, y→z closed by x→z: two shuffle joins + one
      count aggregate, all codegen, no Python;
    * output is orientation-invariant (the triangle SET doesn't depend
      on the order), which is what makes the lexicographic DuckDB
      oracle (g4) comparable.
    """
    ee = entity_edges(triples)
    und = (
        ee.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))  # self-loops close no triangle
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("id"))
        .unionAll(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("_deg"))
    )
    j = (
        und.join(deg.select(F.col("id").alias("a"), F.col("_deg").alias("_da")), "a")
        .join(deg.select(F.col("id").alias("b"), F.col("_deg").alias("_db")), "b")
    )
    low_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    o = j.select(
        F.when(low_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(low_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )
    o1 = o.select(F.col("u").alias("x"), F.col("v").alias("y"))
    o2 = o.select(F.col("u").alias("y"), F.col("v").alias("z"))
    o3 = o.select(F.col("u").alias("x"), F.col("v").alias("z"))
    tri = o1.join(o2, "y").join(o3, ["x", "z"])
    nodes = (
        tri.select(F.col("x").alias("id"))
        .unionAll(tri.select(F.col("y").alias("id")))
        .unionAll(tri.select(F.col("z").alias("id")))
    )
    return nodes.groupBy("id").agg(
        F.count("*").cast("long").alias("triangles")
    )


def clustering_coefficients(triples: DataFrame) -> DataFrame:
    """Local clustering coefficient per entity over the undirected
    entity graph → (id, und_deg, triangles, coeff) where
    ``coeff = 2*triangles / (und_deg * (und_deg - 1))`` — how close an
    entity's neighborhood is to a clique (Watts-Strogatz 1998).  Joins
    the ``triangle_counts`` output against the undirected degree table;
    degree-0/1 nodes (no possible triangle) report coeff 0.0, matching
    the usual convention."""
    ee = entity_edges(triples)
    und = (
        ee.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("id"))
        .unionAll(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("und_deg"))
    )
    tri = triangle_counts(triples)
    return deg.join(tri, "id", "left").select(
        "id",
        "und_deg",
        F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
        F.when(
            F.col("und_deg") >= 2,
            2.0
            * F.coalesce("triangles", F.lit(0))
            / (F.col("und_deg") * (F.col("und_deg") - F.lit(1))),
        )
        .otherwise(F.lit(0.0))
        .alias("coeff"),
    )
