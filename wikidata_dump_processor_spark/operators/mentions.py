"""Dictionary + alias-trie mention detection over page text.

Generalizes the reference's single hard-coded substring scan
(wdq1.pl:391, 636-653 — 'Punivie') into a multi-pattern Aho-Corasick
scan driven by the alias table (whose source model is the reference's
labels/aliases export, wdq1.pl:171-174, 770-780).

Scale design: the automaton is built ONCE from the collected alias list
and shipped to executors as a Spark broadcast variable; the scan runs as
an Arrow-batched ``mapInPandas`` (north_rule: no per-row Python API).
The alias table is a dimension (10^6-10^7 surfaces is fine to broadcast —
tens of MB); page text is never shuffled.
"""

from __future__ import annotations

import re
from collections import deque
from collections.abc import Iterator
from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import MENTIONS_SCHEMA


class AhoCorasick:
    """Minimal deterministic Aho-Corasick automaton (word-boundary-aware
    matching is applied by the caller).  Pure python, built driver-side
    once; lookup is O(len(text))."""

    def __init__(self, patterns: list[str]):
        # goto/fail/output tables over a dict-based trie
        self.goto: list[dict[str, int]] = [{}]
        self.out: list[list[str]] = [[]]
        self.fail: list[int] = [0]
        for pat in sorted(set(patterns)):
            if not pat:
                continue
            node = 0
            for ch in pat:
                nxt = self.goto[node].get(ch)
                if nxt is None:
                    self.goto.append({})
                    self.out.append([])
                    self.fail.append(0)
                    nxt = len(self.goto) - 1
                    self.goto[node][ch] = nxt
                node = nxt
            self.out[node].append(pat)
        # BFS failure links
        q = deque()
        for ch, nxt in self.goto[0].items():
            self.fail[nxt] = 0
            q.append(nxt)
        while q:
            r = q.popleft()
            for ch, u in self.goto[r].items():
                q.append(u)
                f = self.fail[r]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[u] = self.goto[f].get(ch, 0) if self.goto[f].get(ch, 0) != u else 0
                self.out[u] = self.out[u] + self.out[self.fail[u]]

    def find(self, text: str) -> list[tuple[int, int, str]]:
        """All (begin, end, pattern) matches."""
        res = []
        node = 0
        for i, ch in enumerate(text):
            while node and ch not in self.goto[node]:
                node = self.fail[node]
            node = self.goto[node].get(ch, 0)
            for pat in self.out[node]:
                res.append((i - len(pat) + 1, i + 1, pat))
        return res


def _word_bounded(text: str, b: int, e: int) -> bool:
    before = text[b - 1] if b > 0 else " "
    after = text[e] if e < len(text) else " "
    return not before.isalnum() and not after.isalnum()


# Above this many aliases, a single compiled alternation regex becomes
# slow to compile / match; fall back to the Aho-Corasick automaton.
REGEX_DICT_LIMIT = 5000

# Hard gate on the driver-side alias collect: ~50 bytes/surface means 2e7
# aliases ≈ 1 GB of driver heap for the list + automaton.  Beyond that the
# dictionary must be partitioned (shard the alias table, union the scans)
# — fail loudly instead of silently OOMing the driver.
MAX_BROADCAST_ALIASES = 20_000_000


def _compiled_alternation(patterns: list[str]):
    """Longest-first alternation with word boundaries: Python's regex engine
    picks the first alternative that matches at a position, so sorting by
    length desc gives longest-leftmost; non-overlap comes from finditer."""
    ordered = sorted(set(patterns), key=lambda p: (-len(p), p))
    return re.compile(
        r"(?<![0-9A-Za-z])(" + "|".join(re.escape(p) for p in ordered) + r")(?![0-9A-Za-z])"
    )


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
    rows = (
        aliases.select("alias").distinct()
        .limit(MAX_BROADCAST_ALIASES + 1).collect()
    )
    if len(rows) > MAX_BROADCAST_ALIASES:
        raise ValueError(
            f"alias dictionary has more than {MAX_BROADCAST_ALIASES} "
            "surfaces, over the driver-collect gate; the fused "
            "extract_and_detect pass needs one automaton — pre-filter the "
            "dictionary, or use detect_mentions, which shards automatically "
            "(k scan passes + one mention-stream resolution)"
        )
    return spark.sparkContext.broadcast([r.alias.lower() for r in rows])


def _resolve_matches(matches: list[tuple[int, int, str]]) -> list[tuple[str, int, int]]:
    """Longest-leftmost non-overlap resolution over raw (begin, end,
    pattern) matches: sort by (begin, -len), drop overlaps.  Shared by
    the single-dictionary kernel and the sharded-scan reducer — the SAME
    function, so both paths resolve identically."""
    matches.sort(key=lambda m: (m[0], -(m[1] - m[0])))
    out: list[tuple[str, int, int]] = []
    last_end = -1
    for b, e, p in matches:
        if b < last_end:
            continue
        last_end = e
        out.append((p, b, e))
    return out


def make_scanner(
    alias_list: list[str],
    force_automaton: bool = False,
    resolve: bool = True,
):
    """Executor-side scan kernel: lowercased text -> [(surface, begin,
    end)].  Two kernels behind the same semantics (case-insensitive,
    word-bounded, longest-leftmost non-overlapping): a compiled
    alternation regex (C-speed, up to REGEX_DICT_LIMIT surfaces) and the
    Aho-Corasick automaton (linear in text, for web-scale dictionaries).

    ``resolve=False`` (sharded mode): emit ALL word-bounded matches,
    unresolved — the union of raw matches over dictionary shards equals
    the raw-match set of the full dictionary, so overlap resolution must
    run once, globally, after the union (a per-shard resolution could
    drop matches differently than the full dictionary would).
    """
    use_regex = resolve and (not force_automaton) and len(alias_list) <= REGEX_DICT_LIMIT
    rx = _compiled_alternation(alias_list) if use_regex else None
    ac = None if use_regex else AhoCorasick(alias_list)

    def scan(low: str) -> list[tuple[str, int, int]]:
        if rx is not None:
            return [(m.group(1), m.start(1), m.end(1)) for m in rx.finditer(low)]
        matches = [(b, e, p) for b, e, p in ac.find(low) if _word_bounded(low, b, e)]
        if not resolve:
            return [(p, b, e) for b, e, p in matches]
        return _resolve_matches(matches)

    return scan


def _scan_df(
    pages_text: DataFrame,
    bc,
    text_col: str,
    force_automaton: bool,
    resolve: bool,
) -> DataFrame:
    """One mapInPandas scan pass with a broadcast dictionary."""

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kern = make_scanner(bc.value, force_automaton, resolve=resolve)
        for pdf in batches:
            urls, surfaces, begins, ends = [], [], [], []
            for url, text in zip(pdf["url"], pdf[text_col]):
                if not isinstance(text, str) or not text:
                    continue
                for s, b, e in kern(text.lower()):
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
    force_automaton: bool = False,
) -> DataFrame:
    """(url, text) x alias dictionary -> (url, surface, begin, end).

    Standalone form of the scan — ships the text column over the Arrow
    bus a second time if the input was itself produced by a Python stage;
    inside the pipeline prefer the fused
    ``text_extract.extract_and_detect`` (one Arrow crossing per page).

    Dictionaries over ``MAX_BROADCAST_ALIASES`` distinct surfaces shard
    automatically: the dictionary is hash-partitioned into
    ceil(n/gate) shards, each shard scans the corpus with its own
    broadcast automaton emitting RAW word-bounded matches (the raw-match
    union over shards IS the raw-match set of the full dictionary), and
    one keyed applyInPandas pass re-applies the longest-leftmost
    resolution per url — byte-identical output to the unsharded scan.
    Cost: k corpus scans plus ONE shuffle of the mention stream (the
    bounded mentions, never the text) — the price of a dictionary too
    large for a single executor heap.
    """
    spark = pages_text.sparkSession
    # persist: the count + every per-shard collect below re-reads this
    # distinct — without it a 20M-surface dictionary pays k+1 full
    # aggregation jobs over the alias table
    distinct = (
        aliases.select(F.lower(F.col("alias")).alias("alias")).distinct().persist()
    )
    n_aliases = distinct.count()
    n_shards = max(1, -(-n_aliases // MAX_BROADCAST_ALIASES))
    try:
        if n_shards == 1:
            bc = spark.sparkContext.broadcast(
                [r.alias for r in distinct.collect()]
            )
            return _scan_df(pages_text, bc, text_col, force_automaton, resolve=True)
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
            shard_scans.append(_scan_df(pages_text, bc, text_col, True, resolve=False))
    finally:
        # the scans reference only the broadcasts, never this plan
        distinct.unpersist()
    raw = reduce(DataFrame.unionByName, shard_scans)
    return raw.groupBy("url").applyInPandas(_resolve_group, schema=MENTIONS_SCHEMA)
