"""Basic-graph-pattern (BGP) queries over the triples table.

The reference answers one fixed question shape per script: ``wdq2.pl
Q42`` prints all triples OF one entity (wdq2.pl:347-406), wdq3.pl walks
one property (wdq3.pl:1-60).  The general form of both is a conjunctive
triple-pattern query — SPARQL's BGP fragment — over the (subj, pred,
obj) table: each pattern is a row template with constants and
``?variables``, and the answer is every consistent variable binding.
``match_patterns`` compiles such a query into a DataFrame plan; every
reference point/walk query is the 1- or 2-pattern special case.

Compilation is deliberately relational, not graph-imperative:

* each pattern becomes ONE scan of the triples table with its constant
  positions as filters — Catalyst pushes them into the parquet scan,
  and because the canonical triples table is partitioned by ``pred``
  (plans/pipeline.py), a constant-predicate pattern (the overwhelmingly
  common case — ``?x P31 Q5``) reads exactly one partition directory;
* patterns are joined on their shared variables, ordered greedily
  smallest-first: by ESTIMATED CARDINALITY when the caller passes the
  engine's own per-predicate statistics (``stats=`` — the
  operators/triples.predicate_stats report; a constant-object probe on
  a mega-predicate then never seeds the join tree), else by a static
  bound-term selectivity score (constant subject > constant object >
  constant predicate — mirroring the reference's id-first access path);
* the running bindings side is usually tiny relative to the triples
  scan on the other side; AQE's runtime size stats convert those joins
  to broadcast-hash automatically, which beats any static guess here
  because pattern selectivity varies by orders of magnitude with the
  constants' frequencies (P31→Q5 is a mega-key; P227→<one id> is one
  row).  On the ``triples_by_subj`` bucketed layout the subj-keyed
  probes additionally plan with no Exchange on the triples side;
* disconnected pattern groups are a cartesian product of their binding
  sets; that is almost always a query bug at 100 TB, so it raises
  unless ``allow_product=True``.

FILTER expressions (any Spark SQL boolean over the variables) are
applied as soon as every variable they mention is bound — pushed inside
the join tree, not bolted on the end.

No part of this runs driver-side Python per row: a path-free query is
ONE Catalyst plan of scans + joins, fully codegen'd.  Property-path
patterns (``P279+``/``P279*``) are the exception that proves the rule:
they need a FIXPOINT, so the planner runs a bounded driver-side loop of
whole-DataFrame jobs (operators/graph.transitive_closure_*) — each
iteration is still pure scans + joins, and a path whose endpoint
variables are already bound walks seeded from the bindings, never the
predicate's full closure.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import bounded_broadcast, local_df

POSITIONS = ("subj", "pred", "obj")

# constant predicate with a SPARQL path modifier: P279+ (one or more
# edges) / P279* (zero or more).  Only these two of SPARQL 1.1's path
# operators exist because they are the ones that change the PLAN SHAPE
# (a fixpoint loop instead of a scan); sequences and alternations are
# already expressible as plain multi-pattern BGPs.
PATH_RE = re.compile(r"^(.+)([+*])$")

# selectivity weight of a constant in each position: a constant subject
# pins one entity (the reference's wdq2 access path), a constant object
# pins a value's backlinks, a constant predicate alone still matches a
# whole property partition
_POS_WEIGHT = {"subj": 4, "obj": 2, "pred": 1}


def is_var(term: str) -> bool:
    return isinstance(term, str) and term.startswith("?")


def parse_bgp(text: str) -> list[tuple[str, str, str]]:
    """``"?x P31 Q5 . ?x P19 ?place"`` → pattern list.  Patterns are
    separated by ``.``; terms by whitespace."""
    patterns = []
    for clause in text.split("."):
        clause = clause.strip()
        if not clause:
            continue
        terms = clause.split()
        if len(terms) != 3:
            raise ValueError(f"pattern needs 3 terms: {clause!r}")
        patterns.append(tuple(terms))
    if not patterns:
        raise ValueError("empty BGP")
    return patterns


def _score(pattern) -> int:
    # a both-variables PATH pattern materializes a closure — always
    # order it last so its endpoint variables are bound first and the
    # walk can run SEEDED from the bindings instead of over the full
    # edge set (see _path_df)
    if _path_op(pattern) is not None and is_var(pattern[0]) and is_var(pattern[2]):
        return -1
    return sum(
        _POS_WEIGHT[pos]
        for pos, term in zip(POSITIONS, pattern)
        if not is_var(term)
    )


def _normalize_pattern(pattern):
    """Rewrite an inverse-path term at compile time: ``?a ^P361 ?b``
    is exactly ``?b P361 ?a`` (SPARQL 1.1 inverse path), so swapping
    the endpoint roles lets every downstream stage — scans, closures,
    path modifiers (``^P361+`` becomes a forward ``P361+`` walk from
    the swapped endpoints) — run the forward machinery unchanged."""
    s, pred, o = pattern
    if isinstance(pred, str) and pred.startswith("^"):
        base = pred[1:]
        if not base or is_var(base) or base.startswith("^"):
            raise ValueError(
                f"invalid inverse-path predicate {pred!r} — '^' applies "
                "once, to a constant predicate"
            )
        return (o, base, s)
    return pattern


PATH_CLOSURE_INFLATION = 8.0
"""Estimated mean reachable-set size of a ``+``/``*`` closure relative
to the plain predicate (r7, VERDICT r6 #6): a closure pattern's output
inflates by the hierarchy's mean reachable-set size, so pricing
``?x P279+ Q100`` like plain ``P279`` could hand the first-leaf slot to
a path pattern over an equally selective plain pattern — and a closure
first-leaf seeds the walk with the whole predicate instead of the
bound ids.  8x is a conservative prior for real class/taxon
hierarchies (shallow, branching); callers with better knowledge pass
``path_inflation`` explicitly."""


def estimate_pattern_rows(
    pattern, stats: dict, path_inflation: float = PATH_CLOSURE_INFLATION
) -> float:
    """Estimated result cardinality of one pattern from per-predicate
    table statistics ``{pred: (n_triples, n_subj, n_obj)}`` (the
    operators/triples.predicate_stats report) under the uniform
    assumption: a constant subject divides by the predicate's distinct
    subjects, a constant object by its distinct objects; a variable
    predicate sums the per-predicate estimates; a predicate absent from
    the stats matches nothing (0.0 — maximally selective).  A
    single-endpoint ``+``/``*`` closure pattern is inflated by
    ``path_inflation`` (its output is the reachable set, not one hop).
    Both-variables path patterns return +inf: they must order last so
    their walk runs seeded (see _score)."""
    s, pred, o = pattern
    po = _path_op(pattern)
    if po is not None and is_var(s) and is_var(o):
        return float("inf")
    base = po[0] if po is not None else pred

    def one(n, ns, no):
        est = float(n)
        if not is_var(s):
            est /= max(float(ns), 1.0)
        if not is_var(o):
            est /= max(float(no), 1.0)
        return est

    if is_var(base):
        est = float(sum(one(*v) for v in stats.values()))
    else:
        v = stats.get(base)
        est = 0.0 if v is None else one(*v)
    if po is not None and po[1] in ("+", "*"):
        est *= path_inflation
    return est


def _order_patterns(
    patterns, stats: dict | None = None, allow_product: bool = False
) -> list:
    """Greedy join order → ``[(pattern, connected_to_prior)]``.

    With ``stats`` (per-predicate cardinalities), patterns are taken
    smallest-estimated-result first — the reference's access-path
    discipline is id-first because ids are SELECTIVE (wdq2.pl:375), and
    the static position-weight heuristic cannot see that a constant-
    object probe on a mega-predicate (P31→Q5) is orders of magnitude
    bigger than one on a one-row predicate; AQE can fix the join
    STRATEGY at runtime but never the join ORDER.  Without stats, the
    position-weight fallback applies.  Connected patterns always
    precede disconnected ones (which raise unless ``allow_product``)."""
    key = (
        (lambda p: float(-_score(p)))
        if stats is None
        else (lambda p: estimate_pattern_rows(p, stats))
    )
    remaining = list(patterns)
    start = min(remaining, key=key)
    remaining.remove(start)
    order = [(start, True)]
    bound = _pattern_vars(start)
    while remaining:
        connected = [p for p in remaining if _pattern_vars(p) & bound]
        if connected:
            nxt, flag = min(connected, key=key), True
        else:
            if not allow_product:
                raise ValueError(
                    "disconnected pattern group (cartesian product); "
                    "pass allow_product=True to run it anyway"
                )
            nxt, flag = min(remaining, key=key), False
        remaining.remove(nxt)
        order.append((nxt, flag))
        bound |= _pattern_vars(nxt)
    return order


def _pattern_vars(pattern) -> set[str]:
    return {t[1:] for t in pattern if is_var(t)}


def _pattern_df(triples: DataFrame, pattern) -> DataFrame:
    """One pattern → scan with constant filters, projected to its
    variables.  A variable repeated inside one pattern (``?x P279 ?x``)
    becomes an equality filter."""
    df = triples
    proj: dict[str, str] = {}
    for pos, term in zip(POSITIONS, pattern):
        if is_var(term):
            v = term[1:]
            if not v:
                raise ValueError(f"empty variable name in {pattern!r}")
            if v in proj:
                df = df.filter(F.col(pos) == F.col(proj[v]))
            else:
                proj[v] = pos
        else:
            df = df.filter(F.col(pos) == F.lit(term))
    if not proj:
        raise ValueError(
            f"pattern {pattern!r} binds no variable; all-constant "
            "existence tests are not supported"
        )
    return df.select(*[F.col(pos).alias(v) for v, pos in proj.items()])


def _term_df(triples: DataFrame, pattern) -> DataFrame:
    """Dispatch: plain scan-with-filters, or property-path closure."""
    if _path_op(pattern) is not None:
        return _path_df(triples, pattern)
    return _pattern_df(triples, pattern)


def _path_op(pattern) -> tuple[str, str] | None:
    """(base_pred, op) when the pattern's predicate is a constant path
    term like ``P279+`` / ``P279*``; None for plain patterns."""
    pred = pattern[1]
    if is_var(pred):
        if PATH_RE.match(pred[1:] or " "):
            raise ValueError(
                f"path modifier on a variable predicate: {pred!r} — "
                "paths apply to constant predicates only"
            )
        return None
    m = PATH_RE.match(pred)
    return (m.group(1), m.group(2)) if m else None


def _reflexive_seed(spark, reach: DataFrame, seed: str) -> DataFrame:
    """`*` with a constant endpoint: the zero-length path binds the
    constant itself (SPARQL: a zero-length path matches any term)."""
    return reach.unionByName(
        local_df(spark, [(seed,)], "id string")
    ).distinct()


def _graph_terms(triples: DataFrame) -> DataFrame:
    """All terms of the triples relation (distinct subj ∪ obj) — the
    zero-length-path universe for an unseeded both-variables `*` path.
    SPARQL's zero-length paths match ANY term of the dataset, not just
    endpoints of the path's own predicate: ``?x P31 Q9 . ?x P279* ?a``
    must bind (x, x) even for an x with no P279 edges at all."""
    return (
        triples.select(F.col("subj").alias("id"))
        .unionByName(triples.select(F.col("obj").alias("id")))
        .filter(F.col("id").isNotNull())
        .distinct()
    )


def _path_df(
    triples: DataFrame,
    pattern,
    seed_df: DataFrame | None = None,
    seed_var: str | None = None,
) -> DataFrame:
    """A property-path pattern → its variable-binding DataFrame.

    Constant endpoints walk the seeded fixpoint
    (operators/graph.transitive_closure_from — never more state than
    the true reachable set).  The both-variables form materializes the
    predicate's closure — but when the planner already bound one of
    its variables, it passes those bindings as ``seed_df`` (+ which
    variable they bind as ``seed_var``) and the walk runs as a SEEDED
    pair closure (transitive_closure_pairs_from): the state is the
    bindings' true reachable pairs, so a selective query never touches
    the full-closure ``max_pairs`` gate.  Only the fully unbound form
    pays for (and is gated on) the full closure.  The closure runs
    over ONE predicate's edge set, which the pred-partitioned triples
    layout prunes to a single partition directory.
    """
    from ..operators.graph import (
        transitive_closure_from,
        transitive_closure_pairs,
        transitive_closure_pairs_from,
    )

    subj, _pred, obj = pattern
    base_pred, op = _path_op(pattern)
    reflexive = op == "*"
    spark = triples.sparkSession
    edges = triples.filter(F.col("pred") == F.lit(base_pred)).select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    if not is_var(subj) and is_var(obj):
        reach = transitive_closure_from(edges, [subj])
        if reflexive:
            reach = _reflexive_seed(spark, reach, subj)
        return reach.select(F.col("id").alias(obj[1:]))
    if is_var(subj) and not is_var(obj):
        rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        reach = transitive_closure_from(rev, [obj])
        if reflexive:
            reach = _reflexive_seed(spark, reach, obj)
        return reach.select(F.col("id").alias(subj[1:]))
    if is_var(subj) and is_var(obj):
        vs, vo = subj[1:], obj[1:]
        if seed_df is not None and vs != vo:
            seeds = seed_df.toDF("id").distinct().localCheckpoint(eager=False)
            if seed_var == vs:
                pairs = transitive_closure_pairs_from(edges, seeds)
                out = pairs.select(F.col("src").alias(vs), F.col("dst").alias(vo))
                if reflexive:
                    out = out.unionByName(
                        seeds.select(F.col("id").alias(vs), F.col("id").alias(vo))
                    ).distinct()
                return out
            assert seed_var == vo, seed_var
            rev = edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
            pairs = transitive_closure_pairs_from(rev, seeds)
            out = pairs.select(F.col("dst").alias(vs), F.col("src").alias(vo))
            if reflexive:
                out = out.unionByName(
                    seeds.select(F.col("id").alias(vs), F.col("id").alias(vo))
                ).distinct()
            return out
        pairs = transitive_closure_pairs(edges)
        if reflexive:
            terms = _graph_terms(triples)
            pairs = pairs.unionByName(
                terms.select(F.col("id").alias("src"), F.col("id").alias("dst"))
            ).distinct()
        if vs == vo:
            # ?x P+ ?x: cycle membership (?x P* ?x degenerates to "any
            # term of the dataset" via the reflexive term universe)
            return pairs.filter(F.col("src") == F.col("dst")).select(
                F.col("src").alias(vs)
            )
        return pairs.select(F.col("src").alias(vs), F.col("dst").alias(vo))
    raise ValueError(
        f"path pattern {pattern!r} binds no variable; all-constant "
        "existence tests are not supported"
    )


def _filter_vars(expr: str, known: set[str]) -> set[str]:
    toks = set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", expr))
    return toks & known


def match_patterns(
    triples: DataFrame,
    patterns: list[tuple[str, str, str]] | str,
    filters: list[str] | tuple[str, ...] = (),
    distinct: bool = True,
    allow_product: bool = False,
    limit: int | None = None,
    optional: list[list[tuple[str, str, str]] | str] | tuple = (),
    minus: list[list[tuple[str, str, str]] | str] | tuple = (),
    stats: DataFrame | dict | None = None,
) -> DataFrame:
    """Evaluate a conjunctive triple-pattern query; one output column
    per distinct ``?variable``.

    ``triples`` needs columns (subj, pred, obj); extra columns are
    ignored.  ``patterns`` is a list of 3-term tuples (or a ``parse_bgp``
    string); a term starting with ``?`` is a variable, anything else an
    exact constant.  A constant predicate may carry a path modifier —
    ``P279+`` (one or more edges) / ``P279*`` (zero or more) — evaluated
    as a cycle-safe fixpoint over that predicate's edge set
    (operators/graph.transitive_closure_*; the both-variables form is
    gated, see there) — and/or a LEADING ``^`` (SPARQL inverse path:
    ``?a ^P361 ?b`` ≡ ``?b P361 ?a``; ``^P361+`` walks the reversed
    edges' closure), rewritten at compile time by swapping the endpoint
    roles.  NULL never binds a join variable (standard inner join
    semantics on both engines); non-join variables may surface NULL
    bindings exactly as a SQL self-join would.

    ``minus`` is a list of pattern groups removed SPARQL-MINUS-style:
    a binding is dropped when the group has a solution agreeing on the
    shared variables (an ANTI join on them — the reference's own no_P31
    report shape, cntprops.pl:41,54-79).  Each group must share at
    least one variable with the rest of the query (a MINUS sharing
    nothing would remove nothing in SPARQL — here it raises as a query
    bug).  A shared variable an OPTIONAL left NULL follows SQL
    anti-join NULL semantics: the NULL row is never removed.

    ``stats`` feeds the join-order planner per-predicate cardinalities:
    pass the operators/triples.predicate_stats DataFrame (pred,
    n_triples, n_subj, n_obj) or an equivalent ``{pred: (n, n_subj,
    n_obj)}`` dict; patterns are then joined smallest-estimated-result
    first instead of by the static position-weight heuristic (see
    _order_patterns — a DataFrame is collected: it is dimension-sized,
    one row per distinct predicate).

    ``optional`` is a list of pattern groups (each a list of 3-term
    tuples or a ``parse_bgp`` string) LEFT-joined to the running
    bindings on their shared variables — SPARQL's OPTIONAL: bindings
    survive with NULLs where the group does not match.  Each group must
    share at least one variable with the previously bound block.
    Chained groups follow SPARQL's compatibility rule: a shared
    variable an earlier OPTIONAL left unbound (NULL) is compatible with
    any binding, so later groups CAN extend NULL-extended rows (the
    join key becomes ``IS NULL OR =`` with a post-join coalesce; a
    group whose shared variables are ALL maybe-NULL plans a nested-loop
    join — correct, but keep one required-bound variable shared for
    hash joins at scale).  A filter naming an optional variable is
    applied AFTER that group's left join (SQL WHERE-over-LEFT-JOIN
    semantics: it drops NULL-extended rows unless it handles NULL
    itself — SPARQL's filter-inside-OPTIONAL is not reproduced).
    """
    if isinstance(patterns, str):
        patterns = parse_bgp(patterns)
    if not patterns:
        raise ValueError("empty BGP")
    opt_groups = [
        parse_bgp(g) if isinstance(g, str) else list(g) for g in optional
    ]
    minus_groups = [
        parse_bgp(g) if isinstance(g, str) else list(g) for g in minus
    ]
    for p in [q for g in minus_groups for q in g]:
        if len(p) != 3:
            raise ValueError(f"pattern needs 3 terms: {p!r}")
    # MINUS internals are invisible to filters — a filter naming a
    # minus-only variable hits Spark's own unresolved-column error at
    # its application site instead of silently waiting forever
    all_vars: set[str] = set()
    for p in list(patterns) + [p for g in opt_groups for p in g]:
        if len(p) != 3:
            raise ValueError(f"pattern needs 3 terms: {p!r}")
        all_vars |= _pattern_vars(p)
    patterns = [_normalize_pattern(p) for p in patterns]
    if isinstance(stats, DataFrame):
        # dimension-sized collect: one row per distinct predicate
        stats = {
            r[0]: (r[1], r[2], r[3])
            for r in stats.select(
                "pred", "n_triples", "n_subj", "n_obj"
            ).collect()
        }

    base = triples.select(*POSITIONS)
    order = _order_patterns(patterns, stats, allow_product)
    start, _ = order[0]
    out = _term_df(base, start)
    bound = _pattern_vars(start)

    pending_filters = list(filters)

    def _apply_ready_filters(df: DataFrame) -> DataFrame:
        nonlocal pending_filters
        still = []
        for fx in pending_filters:
            if _filter_vars(fx, all_vars) <= bound:
                df = df.filter(F.expr(fx))
            else:
                still.append(fx)
        pending_filters = still
        return df

    out = _apply_ready_filters(out)

    for nxt, connected in order[1:]:
        if connected:
            shared = sorted(_pattern_vars(nxt) & bound)
            po = _path_op(nxt)
            if (
                po is not None
                and is_var(nxt[0])
                and is_var(nxt[2])
                and nxt[0] != nxt[2]
            ):
                # both-variables path joining bound variables: seed the
                # walk from the bindings (subject side preferred — the
                # forward walk) instead of the full closure
                vs, vo = nxt[0][1:], nxt[2][1:]
                sv = vs if vs in bound else vo
                rhs = _path_df(
                    base, nxt, seed_df=out.select(sv).distinct(), seed_var=sv
                )
            else:
                rhs = _term_df(base, nxt)
            out = out.join(rhs, on=shared, how="inner")
        else:
            out = out.crossJoin(_term_df(base, nxt))
        bound |= _pattern_vars(nxt)
        out = _apply_ready_filters(out)

    req_bound = set(bound)  # variables the required block guarantees
    # SPARQL LeftJoin compatibility for CHAINED optional groups: a
    # variable introduced by an earlier OPTIONAL may be NULL (unbound),
    # and an unbound variable is compatible with ANY binding — a plain
    # equi-join key would silently never extend those rows (Spark NULL
    # equality never matches).  Join on the required-bound variables as
    # normal hash keys and turn each maybe-NULL shared variable into an
    # `IS NULL OR =` condition + post-join coalesce.  Plan note: if a
    # group shares ONLY maybe-NULL variables there is no equi key left
    # and Spark plans a (broadcast) nested-loop join — correct but worth
    # avoiding in query design at scale.
    maybe_null: set[str] = set()
    for group in opt_groups:
        gvars = set()
        for p in group:
            gvars |= _pattern_vars(p)
        shared = sorted(gvars & bound)
        if not shared:
            raise ValueError(
                f"OPTIONAL group {group!r} shares no variable with the "
                "required patterns (a cross-join OPTIONAL is a query bug)"
            )
        rhs = match_patterns(
            triples,
            group,
            distinct=False,
            allow_product=allow_product,
            stats=stats,
        )
        cond_keys = [v for v in shared if v in maybe_null]
        if not cond_keys:
            out = out.join(rhs, on=shared, how="left")
        else:
            ren = {v: f"__opt_{v}" for v in shared}
            rhs2 = rhs.select(
                *[F.col(c).alias(ren.get(c, c)) for c in rhs.columns]
            )
            cond = None
            for v in shared:
                c = out[v] == rhs2[ren[v]]
                if v in maybe_null:
                    c = out[v].isNull() | c
                cond = c if cond is None else cond & c
            out = out.join(rhs2, cond, "left")
            for v in shared:
                out = out.withColumn(
                    v, F.coalesce(F.col(v), F.col(ren[v]))
                ).drop(ren[v])
        bound |= gvars
        maybe_null |= gvars - req_bound
        out = _apply_ready_filters(out)

    # SPARQL MINUS: anti-join each negation group on its shared
    # variables — the group's solution set is projected to those
    # variables and DEDUPLICATED first, so the anti build side is the
    # distinct key set, not the group's full bindings (AQE turns the
    # probe into a broadcast anti join whenever that key set is small)
    for group in minus_groups:
        gvars = set()
        for p in group:
            gvars |= _pattern_vars(p)
        shared = sorted(gvars & bound)
        if not shared:
            raise ValueError(
                f"MINUS group {group!r} shares no variable with the "
                "query (SPARQL would remove nothing — a query bug)"
            )
        # NULL-semantics guard (ADVICE r6): with ONE shared variable the
        # SQL anti-join agrees with SPARQL exactly — a NULL (unbound)
        # value makes the domains disjoint and SPARQL MINUS keeps the
        # row, which is also what the anti-join's no-match does.  With
        # SEVERAL shared variables of which an OPTIONAL-nullable one is
        # NULL while the others match, SPARQL's compatibility rule
        # (unbound is compatible with anything) would REMOVE the row
        # where the anti-join keeps it — refuse that shape loudly
        # instead of silently diverging; bind the variable or split the
        # MINUS per variable to express intent.
        null_shared = set(shared) & maybe_null
        if null_shared and len(shared) > 1:
            raise ValueError(
                f"MINUS group {group!r} shares OPTIONAL-nullable "
                f"variable(s) {sorted(null_shared)} alongside other "
                "shared variables — SQL anti-join NULL semantics "
                "diverge from SPARQL's compatibility rule on "
                "partially-bound rows; bind the variable first or "
                "split the MINUS group"
            )
        rhs = match_patterns(
            triples,
            group,
            distinct=False,
            allow_product=allow_product,
            stats=stats,
        )
        out = out.join(
            rhs.select(*shared).distinct(), on=shared, how="left_anti"
        )

    # every variable is bound once the loops drain, so every filter has
    # been applied by now (a filter naming an unknown column fails in
    # analysis at its application site, with Spark's own error)
    assert not pending_filters, pending_filters

    out = out.select(*sorted(bound))
    if distinct:
        out = out.distinct()
    if limit is not None:
        out = out.limit(limit)
    return out


def match_union(
    triples: DataFrame,
    branches: list[list[tuple[str, str, str]] | str],
    filters: list[str] | tuple[str, ...] = (),
    distinct: bool = True,
    allow_product: bool = False,
    limit: int | None = None,
    stats: DataFrame | dict | None = None,
) -> DataFrame:
    """SPARQL UNION: evaluate each branch as its own BGP and take the
    multiset union, aligned by variable name — a variable missing from
    a branch surfaces as NULL (standard SPARQL semantics).

    Shared ``filters`` follow SQL WHERE-over-UNION semantics: a filter
    is pushed into the branches only when EVERY branch binds all of its
    variables (then pushdown == post-filter and is cheaper); otherwise
    it applies once to the aligned union, where a branch's missing
    variable is NULL — so a row whose branch never binds the filtered
    variable is DROPPED (NULL comparisons are never true), exactly as
    the equivalent SQL would, never silently passed through.  A filter
    naming a variable no branch binds fails in analysis with Spark's
    own unresolved-column error."""
    if not branches:
        raise ValueError("empty UNION")
    branch_vars = [_union_branch_vars(b) for b in branches]
    all_vars = set().union(*branch_vars)
    pushable, post = [], []
    for fx in filters:
        fv = _filter_vars(fx, all_vars)
        (pushable if all(fv <= bv for bv in branch_vars) else post).append(fx)
    if isinstance(stats, DataFrame):
        stats = {
            r[0]: (r[1], r[2], r[3])
            for r in stats.select(
                "pred", "n_triples", "n_subj", "n_obj"
            ).collect()
        }
    dfs = [
        match_patterns(
            triples,
            b,
            filters=pushable,
            distinct=False,
            allow_product=allow_product,
            stats=stats,
        )
        for b in branches
    ]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    out = out.select(*sorted(out.columns))
    for fx in post:
        out = out.filter(F.expr(fx))
    if distinct:
        out = out.distinct()
    if limit is not None:
        out = out.limit(limit)
    return out


def attach_labels(
    res: DataFrame,
    nodes: DataFrame,
    columns: list[str] | None = None,
    label_col: str = "label",
) -> DataFrame:
    """wdq2's ``labels`` render mode (wdq2.pl:484-502: every id the
    report prints is looked up and rendered next to its label) for BGP
    results: for each result column holding entity ids, append a
    ``<col>_label`` column from the ``nodes`` table (NULL for literals,
    non-entity bindings, and unknown ids).

    Plan shape (r7 single-scan rework): the big nodes table is scanned
    ONCE — the union of every entity column's distinct ``(id_num, id)``
    probes (result-sized) left-semi-joins the nodes table down to
    ``needed``, the label rows the render can possibly use, and each
    column then left-joins against the SAME broadcast of ``needed``
    (Spark's exchange reuse computes the broadcast once; the plan shows
    one subtree plus ReusedExchange references).  Before r7 the nodes
    scan repeated per entity column.  In the semi join the ONLY
    equi-join key is the numeric bucket key ``id_num``, so on the
    pipeline's bucketed nodes layout the nodes side still plans with NO
    Exchange; the exact-id check (``Q224`` vs ``L224`` share a numeric
    part) rides along as a residual CASE condition so Spark does NOT
    extract it as a second hash key, which would force a re-shuffle of
    the bucketed side on ``(id_num, id)``.  ``needed`` holds one row per
    distinct entity id present in the rendered result — the render
    path's own output dimension — so it is counted once and broadcast
    through ``session.bounded_broadcast``'s gate."""
    from ..functions.ids import id_num

    cols = list(columns) if columns is not None else list(res.columns)
    lab = nodes.select(
        F.col("id_num").alias("__lab_num"),
        F.col("id").alias("__lab_id"),
        F.col(label_col).alias("__lab_val"),
    )
    probes = None
    for c in cols:
        p = res.select(
            id_num(F.col(c)).alias("__p_num"), F.col(c).alias("__p_id")
        )
        probes = p if probes is None else probes.unionByName(p)
    probes = probes.distinct()
    sem_matches = (
        F.when(F.col("__lab_id") == F.col("__p_id"), F.lit(True))
        .otherwise(F.lit(False))
    )
    needed = lab.join(
        probes, (F.col("__lab_num") == F.col("__p_num")) & sem_matches,
        "left_semi",
    )
    build = bounded_broadcast(needed)
    for c in cols:
        res = res.withColumn("__probe_num", id_num(F.col(c)))
        id_matches = (
            F.when(F.col(c) == needed["__lab_id"], F.lit(True))
            .otherwise(F.lit(False))
        )
        res = (
            res.join(
                build,
                (F.col("__probe_num") == needed["__lab_num"]) & id_matches,
                "left",
            )
            .withColumn(f"{c}_label", F.col("__lab_val"))
            .drop("__probe_num", "__lab_num", "__lab_id", "__lab_val")
        )
    return res


def _union_branch_vars(branch) -> set[str]:
    pats = parse_bgp(branch) if isinstance(branch, str) else branch
    vs: set[str] = set()
    for p in pats:
        vs |= _pattern_vars(p)
    return vs
