"""Dictionary mention detection over page text.

Generalizes the reference's single hard-coded substring scan
(wdq1.pl:391, 636-653 — 'Punivie') into a scan for every surface of the
alias table (whose source model is the reference's labels/aliases export,
wdq1.pl:171-174, 770-780).  Semantics, shared by every path and by
``golden.naive_mentions``: surfaces are Spark's ``lower(alias)`` (the
linking join key), text is lowered by ``str.lower``, a match's neighbours
are not ``str.isalnum()``, matches are longest-leftmost non-overlapping,
and ``begin``/``end`` index the stored text.

Kernel: one regex compiled from a character trie of the surfaces, so the
whole scan runs inside ``re``'s C matcher and its cost per page does not
grow with the dictionary.  The surface list is broadcast once; the scan
runs as an Arrow-batched ``mapInPandas`` (north_rule: no per-row Python
API).  The alias table is a dimension; page text is never shuffled.
"""

from __future__ import annotations

import re
from bisect import bisect_left, bisect_right
from collections.abc import Iterable, Iterator
from functools import lru_cache, reduce

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import MENTIONS_SCHEMA

# ``[^\W_]`` is exactly ``str.isalnum()`` (Python 3.11, every code point
# checked): a match starts after and ends before no such character.
_START = r"(?<![^\W_])"
_END = r"(?![^\W_])"

# Hard gate on the driver-side alias collect: ~50 bytes/surface means 2e7
# aliases ≈ 1 GB of driver heap for the list + the compiled scanner.
# Beyond that the dictionary must be partitioned (shard the alias table,
# union the scans) — fail loudly instead of silently OOMing the driver.
MAX_BROADCAST_ALIASES = 20_000_000

# Deepest group nesting ``_trie_pattern`` builds.  ``re``'s parser
# recurses per group, so what it compiles depends on the recursion limit
# in force: at the default limit of 1000 the deepest trie that compiles
# nests 493-494 groups (a prefix chain ``a``, ``a a``, …), at 5000 it is
# 2493-2494.  A fixed cap under the default limit's gives one answer on
# the driver and in every worker.  A 50k-surface dictionary of 1-5 word
# phrases nests 13 deep.
MAX_NESTING = 400


def _alias_surfaces(aliases: DataFrame) -> DataFrame:
    """The dictionary: one ``alias`` column of distinct surfaces.  Spark's
    ``lower`` is the linking join key's (``linking.resolve_surfaces``), so
    every surface the scan emits joins it; ``alias != ''`` is null for a
    null alias, so the filter drops null and empty aliases alike."""
    surface = F.lower("alias").alias("alias")
    return aliases.select(surface).where(F.col("alias") != "").distinct()


def broadcast_alias_list(aliases: DataFrame):
    """Distinct lowercased surfaces as a Spark broadcast, behind the
    driver-collect gate.  One collect of at most gate + 1 distinct
    surfaces both gates and collects, so ``aliases`` is read by one
    action.  A local Arrow table (``datagen.gen_aliases``) plans as a
    JVM-side ``LocalTableScan``, so it runs no Python worker; a caller
    whose input is computed and read again elsewhere materializes it
    first (``run_pipeline`` does), so its lineage runs once rather than
    once per job."""
    spark = aliases.sparkSession
    rows = _alias_surfaces(aliases).limit(MAX_BROADCAST_ALIASES + 1).collect()
    if len(rows) > MAX_BROADCAST_ALIASES:
        raise ValueError(
            f"alias dictionary has more than {MAX_BROADCAST_ALIASES} "
            "surfaces, over the driver-collect gate; the fused "
            "extract_and_detect pass needs one scanner — pre-filter the "
            "dictionary, or use detect_mentions, which shards automatically "
            "(k scan passes + one mention-stream resolution)"
        )
    return spark.sparkContext.broadcast([r.alias for r in rows])


def _resolve_matches(matches: list[tuple[int, int, str]]) -> list[tuple[str, int, int]]:
    """Longest-leftmost non-overlap resolution over raw (begin, end,
    pattern) matches: sort by (begin, -len), drop overlaps.  The
    sharded-scan reducer runs it on the union of the shards' raw
    matches."""
    matches.sort(key=lambda m: (m[0], -(m[1] - m[0])))
    out: list[tuple[str, int, int]] = []
    last_end = -1
    for b, e, p in matches:
        if b < last_end:
            continue
        last_end = e
        out.append((p, b, e))
    return out


def _trie_pattern(surfaces: Iterable[str]) -> str:
    """A regex matching exactly ``surfaces``, factored by a character trie.
    A node is its children's continuations; a node that ends a surface
    wraps them in a greedy ``?``, so the longer continuation is tried
    first and the first match found at a position is the longest.  The
    string is built bottom-up from an explicit stack, so a deep trie is
    not bounded by Python's recursion limit here; its group nesting is
    counted on the way and capped at ``MAX_NESTING``."""
    root: dict = {}
    for s in surfaces:
        node = root
        for ch in s:
            node = node.setdefault(ch, {})
        node[""] = None  # a surface ends here (no character key is empty)
    order, stack = [], [root]
    while stack:
        node = stack.pop()
        order.append(node)
        stack.extend(child for ch, child in node.items() if ch)
    pattern: dict[int, tuple[str, int]] = {}  # id(node) -> (regex, nesting)
    for node in reversed(order):
        subs = [(re.escape(ch), *pattern.pop(id(child))) for ch, child in node.items() if ch]
        alts = [ch + pat for ch, pat, _ in subs]
        depth = max((d for _, _, d in subs), default=0) + (len(alts) > 1)
        pat = alts[0] if len(alts) == 1 else "(?:" + "|".join(alts) + ")"
        if "" in node:
            pat, depth = (f"(?:{pat})?", depth + 1) if alts else ("", 0)
        if depth > MAX_NESTING:
            raise ValueError(
                f"alias dictionary nests too deep: more than {MAX_NESTING} "
                "nested regex groups (a long chain of surfaces that are "
                "prefixes of each other)"
            )
        pattern[id(node)] = (pat, depth)
    return pattern[id(root)][0]


def _stored_offsets(text: str, hits: list[tuple[str, int, int]]) -> list[tuple[str, int, int]]:
    """Map offsets into ``text.lower()`` back to ``text``.  ``İ`` (U+0130)
    is the only code point whose lowercase is longer: two code points, the
    second at ``dots``; an offset moves back by one per dot before it."""
    dots = [m.start() + k + 1 for k, m in enumerate(re.finditer("İ", text))]
    return [(s, b - bisect_right(dots, b), e - bisect_left(dots, e)) for s, b, e in hits]


@lru_cache(maxsize=4)
def _compiled_scanner(surfaces: tuple[str, ...], resolve: bool) -> re.Pattern:
    """The dictionary's regex, built once per process per dictionary and
    mode: every scan task a Python worker runs reuses it (at 50k surfaces
    the pattern build alone is 1.2-1.8 s of Python).  Four entries cover
    both modes of two dictionaries; a sharded scan over more shards
    rebuilds per task, as it would uncached."""
    body = _trie_pattern(surfaces)
    try:
        return re.compile(
            f"{_START}({body}){_END}" if resolve else f"{_START}(?=({body}){_END})"
        )
    except RecursionError:
        raise ValueError(
            "alias dictionary nests too deep for re to compile (RecursionError): "
            "a long chain of surfaces that are prefixes of each other"
        ) from None


def make_scanner(alias_list: list[str], resolve: bool = True):
    """Executor-side scan kernel: stored text -> [(surface, begin, end)]
    under the module's semantics, in one ``finditer`` of the trie regex.

    ``resolve=False`` (sharded mode): the same regex inside a lookahead
    emits the longest bounded match at EVERY start position, overlaps
    included.  The union of these over dictionary shards holds the
    longest match at each position of the full dictionary, so overlap
    resolution runs once, globally, after the union (a per-shard
    resolution could drop matches differently than the full dictionary
    would).

    Raises ``ValueError`` when the dictionary's trie nests more than
    ``MAX_NESTING`` groups: a chain of a few hundred prefix surfaces
    (``a``, ``a a``, ``a a a``, …)."""
    if not alias_list:
        return lambda text: []
    rx = _compiled_scanner(tuple(alias_list), resolve)

    def scan(text: str) -> list[tuple[str, int, int]]:
        hits = [(m.group(1), m.start(1), m.end(1)) for m in rx.finditer(text.lower())]
        return _stored_offsets(text, hits) if hits and "İ" in text else hits

    return scan


def _scan_df(
    pages_text: DataFrame,
    bc,
    text_col: str,
    resolve: bool,
) -> DataFrame:
    """One mapInPandas scan pass with a broadcast dictionary."""

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kern = make_scanner(bc.value, resolve=resolve)
        for pdf in batches:
            urls, surfaces, begins, ends = [], [], [], []
            for url, text in zip(pdf["url"], pdf[text_col]):
                if not isinstance(text, str) or not text:
                    continue
                for s, b, e in kern(text):
                    urls.append(url)
                    surfaces.append(s)
                    begins.append(b)
                    ends.append(e)
            yield pd.DataFrame(
                {"url": urls, "surface": surfaces, "begin": begins, "end": ends}
            )

    return pages_text.select("url", text_col).mapInPandas(scan, schema=MENTIONS_SCHEMA)


def _resolve_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-url longest-leftmost resolution of the unioned shard matches
    (applyInPandas reducer; state bounded by one page's mentions)."""
    ms = _resolve_matches(
        [(int(b), int(e), s) for s, b, e in zip(pdf["surface"], pdf["begin"], pdf["end"])]
    )
    url = pdf["url"].iloc[0] if len(pdf) else None
    return pd.DataFrame(
        {
            "url": [url] * len(ms),
            "surface": [m[0] for m in ms],
            "begin": [m[1] for m in ms],
            "end": [m[2] for m in ms],
        }
    )


def detect_mentions(
    pages_text: DataFrame,
    aliases: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """(url, text) x alias dictionary -> (url, surface, begin, end).

    Standalone form of the scan — ships the text column over the Arrow
    bus a second time if the input was itself produced by a Python stage;
    inside the pipeline prefer the fused
    ``text_extract.extract_and_detect`` (one Arrow crossing per page).

    Dictionaries over ``MAX_BROADCAST_ALIASES`` distinct surfaces shard
    automatically: the dictionary is hash-partitioned into
    ceil(n/gate) shards, each shard scans the corpus with its own
    broadcast dictionary emitting the longest bounded match at every
    position (``make_scanner(..., resolve=False)``), and one keyed
    applyInPandas pass re-applies the longest-leftmost resolution per url
    to their union — byte-identical output to the unsharded scan.
    Cost: k corpus scans plus ONE shuffle of the mention stream (the
    bounded mentions, never the text) — the price of a dictionary too
    large for a single executor heap.
    """
    spark = pages_text.sparkSession
    # persist: the count + every per-shard collect below re-reads this
    # distinct — without it a 20M-surface dictionary pays k+1 full
    # aggregation jobs over the alias table
    distinct = _alias_surfaces(aliases).persist()
    n_aliases = distinct.count()
    n_shards = max(1, -(-n_aliases // MAX_BROADCAST_ALIASES))
    try:
        if n_shards == 1:
            bc = spark.sparkContext.broadcast(
                [r.alias for r in distinct.collect()]
            )
            return _scan_df(pages_text, bc, text_col, resolve=True)
        shard_scans = []
        for i in range(n_shards):
            shard = [
                r.alias
                for r in distinct.filter(
                    F.pmod(F.xxhash64("alias"), F.lit(n_shards)) == i
                ).collect()
            ]
            if not shard:
                continue
            bc = spark.sparkContext.broadcast(shard)
            shard_scans.append(_scan_df(pages_text, bc, text_col, resolve=False))
    finally:
        # the scans reference only the broadcasts, never this plan
        distinct.unpersist()
    raw = reduce(DataFrame.unionByName, shard_scans)
    return raw.groupBy("url").applyInPandas(_resolve_group, schema=MENTIONS_SCHEMA)
