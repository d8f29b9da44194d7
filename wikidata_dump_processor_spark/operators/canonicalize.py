"""Canonicalization: connected components over shared-identifier edges.

The reference merges person records through shared authority-control
identifiers (P213/P214/P227/P244/P496/P6782 — wdq1.pl:434-437, 599-633;
person table keyed by them in wdq3.pl:21-23,102-104).  Two entities
claiming the same VIAF/GND/... value are the same real-world node.  That
is exactly a connected-components problem over the bipartite
(entity)-(identifier) graph; the north_rule asks for the scalable
large-star/small-star formulation (Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC 2014) as iterative DataFrame jobs.

Scale notes:
* edges are (src,dst) string ids; each iteration is two self-joins +
  aggregations — all shuffle on the node id, AQE handles skewed stars.
* lineage truncation: ``localCheckpoint`` every ``checkpoint_interval``
  iterations, otherwise the plan grows exponentially (SURVEY.md §7.3
  hard part 3).
* convergence check is a cheap count of changed assignments.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import AUTHCTRL_PRED
from ..session import bounded_broadcast


def identifier_edges(triples: DataFrame, preds: list[str] | None = None) -> DataFrame:
    """(entity, shared-identifier) -> entity~entity edges: connect every
    entity to the minimum entity sharing each (pred, obj) identifier —
    star-shaped edges instead of the quadratic pairwise expansion."""
    preds = preds or AUTHCTRL_PRED
    ids = (
        triples.filter(F.col("pred").isin(preds) & F.col("obj").isNotNull())
        .select("subj", F.concat_ws("=", "pred", "obj").alias("key"))
        .distinct()
    )
    hub = ids.groupBy("key").agg(F.min("subj").alias("hub"), F.count(F.lit(1)).alias("n"))
    return (
        ids.join(hub.filter(F.col("n") > 1), "key")
        .filter(F.col("subj") != F.col("hub"))
        .select(F.col("subj").alias("src"), F.col("hub").alias("dst"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """large-star: for each node, connect every strictly-larger neighbor
    to the minimum of the neighborhood (incl. self)."""
    und = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    nbr = und.groupBy("src").agg(F.min(F.least("dst", "src")).alias("m"), F.collect_set("dst").alias("ns"))
    return (
        nbr.select("src", "m", F.explode("ns").alias("v"))
        .filter(F.col("v") > F.col("src"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        # no distinct here: small_star (always applied next) dedups, and
        # dropping it saves one shuffle stage per iteration
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """small-star: orient edges to the smaller endpoint, connect all
    smaller-or-equal neighbors to the neighborhood minimum."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    nbr = oriented.groupBy("src").agg(
        F.min(F.least("dst", "src")).alias("m"), F.collect_set("dst").alias("ns")
    )
    return (
        nbr.select("src", "m", F.explode(F.array_union("ns", F.array("src"))).alias("v"))
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _driver_cc(spark, edge_rows) -> DataFrame:
    """Union-find over a collected edge list; component = min string id.
    Only ever called below ``driver_edge_threshold`` (bounded memory)."""
    parent: dict[str, str] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for src, dst in edge_rows:
        parent.setdefault(src, src)
        parent.setdefault(dst, dst)
        ra, rb = find(src), find(dst)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    comp_min: dict[str, str] = {}
    for x in parent:
        r = find(x)
        if r not in comp_min or x < comp_min[r]:
            comp_min[r] = x
    ids = list(parent)
    # an Arrow table plans as a JVM-side LocalTableScan (empty included); a
    # list of rows would be re-read through a Python worker by every job
    return spark.createDataFrame(pa.table({
        "id": pa.array(ids, pa.string()),
        "component": pa.array([comp_min[find(x)] for x in ids], pa.string()),
    }))


def connected_components(
    edges: DataFrame,
    max_iter: int = 20,
    driver_edge_threshold: int = 1_000_000,
) -> DataFrame:
    """edges(src, dst) -> (id, component) where component is the minimum
    node id of the component.

    Cardinality-adaptive physical choice (the reference makes the same
    kind of call for its inverted index, cntprops.pl:16,68-77):

    * **small regime** (<= ``driver_edge_threshold`` distinct edges, ~60 MB
      at 1M edges): union-find on the driver.  The alternating-star loop
      would spend its whole wall time on per-iteration job latency here,
      and the collect is bounded by the explicit threshold — merge-edge
      sets are tiny relative to the corpus (they count *merges*, not
      documents).
    * **large regime**: large-star/small-star iteration (Kiveris et al.,
      SoCC 2014) under the session's own conf — AQE stays ON and handles
      skewed stars; no session-global conf is mutated (a concurrent query
      planned mid-loop must not silently compile with AQE off)."""
    spark = edges.sparkSession
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    # lazy checkpoint: the probe below materializes it — and the loop's
    # lineage is truncated from the start (plan growth hazard).
    e = e.localCheckpoint(eager=False)
    # ONE bounded job decides the regime AND feeds the small one (r7):
    # collecting threshold+1 rows replaces the former count()-then-
    # collect() pair; the driver transfer is capped at ~threshold rows
    # either way, and union-find output is edge-order-independent
    # (component = min id).
    probe = e.limit(driver_edge_threshold + 1).collect()
    if len(probe) <= driver_edge_threshold:
        return _driver_cc(spark, [(r[0], r[1]) for r in probe])
    n_edges = e.count()

    def _sig(df):
        # one cheap job: (row count, order-insensitive hash sum) identifies
        # the edge set; equal signature across an iteration => fixpoint
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (r.n, r.h)

    sig = (n_edges, None)
    for _ in range(max_iter):
        e2 = _small_star(_large_star(e)).localCheckpoint(eager=False)
        sig2 = _sig(e2)
        e = e2
        if sig2 == sig:
            break
        sig = sig2
    nodes = edges.select(F.col("src").alias("id")).union(
        edges.select(F.col("dst").alias("id"))
    ).distinct()
    assign = e.select(F.col("src").alias("id"), F.col("dst").alias("component"))
    return (
        nodes.join(assign, "id", "left")
        .select("id", F.coalesce("component", "id").alias("component"))
        .distinct()
    )


def canonical_map(triples: DataFrame, preds: list[str] | None = None) -> DataFrame:
    """Full canonicalization map: (id, canonical_id) for every subject
    seen in the triples; singletons map to themselves.

    NOTE: materializing the identity mappings costs a full distinct over
    the subject column — useful as a catalog/contract output, but the
    pipeline's hot path only needs ``canonical_remap`` (the non-identity
    rows, bounded by the number of MERGES, not subjects)."""
    edges = identifier_edges(triples, preds)
    cc = connected_components(edges)
    subs = triples.select(F.col("subj").alias("id")).distinct()
    return subs.join(cc, "id", "left").select(
        "id", F.coalesce("component", "id").alias("canonical_id")
    )


def canonical_remap(triples: DataFrame, preds: list[str] | None = None) -> DataFrame:
    """Only the NON-identity canonicalization rows (id -> canonical_id,
    id != canonical_id).  The CC runs over merge edges alone, so this
    never touches the full subject set — no 10^9-row distinct at 100 TB;
    ``rewrite_triples``'s coalesce fallback supplies the identity
    mappings implicitly."""
    cc = connected_components(identifier_edges(triples, preds))
    return cc.filter(F.col("id") != F.col("component")).select(
        "id", F.col("component").alias("canonical_id")
    )


def rewrite_triples(
    triples: DataFrame,
    cmap: DataFrame,
    remap_count: int | None = None,
) -> DataFrame:
    """Rewrite subjects (and entity-valued objects) through the resolution
    map — the J4-style lookup join (cntprops.pl:64-77 model).

    Only NON-identity mappings are joined: the map is dominated by
    singletons mapping to themselves, which the ``coalesce`` fallback
    already handles — broadcasting them would ship (and hash-build) the
    whole node catalog per executor for no effect.

    The broadcast goes through ``session.bounded_broadcast``: "bounded by
    the number of merges" is a heuristic, not an invariant (a
    pathological shared-identifier corpus — VIAF spam — can make the
    remap arbitrarily large), so the remap is counted first and above the
    gate the rewrite falls back to shuffle joins, where AQE's skew split
    handles hot canonical ids.  A caller that already knows the remap
    size (the pipeline counts it once and caches it in the stage
    manifest) passes ``remap_count`` to skip the count job and the
    re-checkpoint."""
    remap = cmap.filter(F.col("id") != F.col("canonical_id"))
    if remap_count is None:
        remap = remap.localCheckpoint(eager=False)
        remap_count = remap.count()
    subj_map, obj_map = (
        bounded_broadcast(
            remap.select(F.col("id").alias(k), F.col("canonical_id").alias(c)),
            remap_count,
        )
        for k, c in (("subj", "_cs"), ("obj", "_co"))
    )
    out = (
        triples.join(subj_map, "subj", "left")
        .join(obj_map, "obj", "left")
        .select(
            F.coalesce("_cs", "subj").alias("subj"),
            "pred",
            F.coalesce("_co", "obj").alias("obj"),
            "src_url",
        )
    )
    return out
