"""Deterministic, byte-identical page-text extraction.

Re-implements the reference's XML page state machine — states
0 (outside) -> 1 (<page>) -> 2 (<revision>) -> 3 (text body), flush on
</page> — with its exact edge cases (all cites into /root/reference):

* namespace catalog rows in state 0        (wkt1.pl:176-180)
* <page> opens a frame                     (wkt1.pl:182-189)
* <title>/<ns>/<id> captured in state 1, last-wins (wkt1.pl:200-203)
* </revision> returns to state 1           (wkt1.pl:207-210)
* empty text ``<text xml:space="preserve" */>``   (wkt1.pl:216-218)
* single-line ``<text ...>body</text>`` — the close tag is *removed
  wherever it appears* and state stays 2   (wkt1.pl:224-229)
* multi-line body: a line matching ``^(.*)</text>$`` contributes only the
  fragment before the close                (wkt1.pl:239-246)
* rev <id>/<sha1> captured in state 2      (wkt1.pl:248-251)
* body lines joined with "\\n"             (wkt1.pl:255, join of @text)

The state machine is inherently imperative, so it runs as an Arrow-batched
``mapInPandas`` over the ``html:binary`` column — the only Python in the
scan path (input_hint: vectorized pandas/Arrow UDFs, no per-row Python
*API*; each batch is processed as a pandas column).

At 100 TB this operator is a narrow map: no shuffle, html/text columns are
pruned at the parquet/Iceberg scan, and parallelism equals input splits.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import functions as F

from ..schemas import EXTRACTED_SCHEMA

# Anchored exactly like the reference's m#^\s*...# patterns.
_RE_NAMESPACE = re.compile(r'\s*<namespace key="([\-\d]+)" case="([^"]+)">([^"]*)</namespace>')
_RE_PAGE_OPEN = re.compile(r"\s*<page>")
_RE_PAGE_CLOSE = re.compile(r"\s*</page>")
_RE_REVISION_OPEN = re.compile(r"\s*<revision>")
_RE_REVISION_CLOSE = re.compile(r"\s*</revision>")
_RE_FRAME_FIELD = re.compile(r"\s*<(title|ns|id)>([^<]+)</.+>")
_RE_TEXT_EMPTY = re.compile(r'\s*<text xml:space="preserve" */>')
_RE_TEXT_OPEN = re.compile(r'\s*<text xml:space="preserve">(.*)')
_RE_REV_FIELD = re.compile(r"\s*<(id|sha1)>([^<]+)</.+>")
_RE_TEXT_CLOSE_EOL = re.compile(r"(.*)</text>$", re.DOTALL)


def extract_page(doc: str) -> dict:
    """Run the wkt1.pl:153-295 state machine over one page document.

    Returns the first flushed page frame:
    ``{title, ns, id, rev_id, rev_sha1, text, namespaces}`` — ``text`` is
    the byte-exact body ("\\n"-joined fragments), None if no page flushed.
    """
    state = 0
    frame: dict = {}
    text: list[str] = []
    namespaces: list[dict] = []
    flushed = None
    for line in doc.split("\n"):
        if state == 0:
            m = _RE_NAMESPACE.match(line)
            if m:
                namespaces.append(
                    {"ns_id": m.group(1), "ns_case": m.group(2), "ns_name": m.group(3)}
                )
            elif _RE_PAGE_OPEN.match(line):
                state = 1
                frame = {}
        elif state == 1:
            if _RE_PAGE_CLOSE.match(line):
                state = 0
                flushed = frame
                break  # one page per document in the pages table
            elif _RE_REVISION_OPEN.match(line):
                state = 2
                text = []
            else:
                m = _RE_FRAME_FIELD.match(line)
                if m:
                    frame[m.group(1)] = m.group(2)  # last-wins (wkt1.pl:203)
        elif state == 2:
            if _RE_REVISION_CLOSE.match(line):
                state = 1
            elif _RE_TEXT_EMPTY.match(line):
                state = 1  # empty text: @text stays [] (wkt1.pl:216-218)
            else:
                m = _RE_TEXT_OPEN.match(line)
                if m:
                    t = m.group(1)
                    # perl: $state = ($t =~ s#</text>##) ? 2 : 3 — remove
                    # the FIRST close-tag occurrence anywhere (wkt1.pl:224)
                    if "</text>" in t:
                        t = t.replace("</text>", "", 1)
                        state = 2
                    else:
                        state = 3
                    text = [t]
                else:
                    m = _RE_REV_FIELD.match(line)
                    if m:
                        frame["rev_" + m.group(1)] = m.group(2)
        elif state == 3:
            m = _RE_TEXT_CLOSE_EOL.match(line)
            if m:
                text.append(m.group(1))  # line fragment (wkt1.pl:241)
                state = 2
            else:
                text.append(line)
    if flushed is None:
        return {"namespaces": namespaces, "text": None}
    flushed["namespaces"] = namespaces
    flushed["text"] = "\n".join(text)
    return flushed


def split_page_documents(doc: str) -> list[str]:
    """Split ONE multi-page XML stream into per-page documents.

    The reference runs a single state machine over a whole dump stream
    containing many ``<page>`` frames (wkt1.pl:153-295); the pages table
    is one-page-per-row, so a raw dump must be pre-split.  The split
    runs the SAME state transitions as ``extract_page``, so a frame is
    cut only where the reference would flush — a ``</page>`` line in
    state 1 (wkt1.pl:190-198).  A literal ``</page>`` line inside a
    multi-line text body (state 3) or inside a revision (state 2) is
    body/ignored, exactly like the reference.

    Chunk k = the namespace-catalog lines seen in state 0 so far + page
    k's ``<page>..</page>`` span.  Namespace rows are the ONLY state-0
    lines the extractor consumes (wkt1.pl:176-180; they accumulate in
    the reference's %ns), so dropping the rest of the preamble keeps
    per-chunk extraction byte-identical to the k-th flush of the
    one-machine-over-the-stream run while bounding the carried bytes to
    O(pages × ns_rows) instead of O(pages × preamble).

    A stream with zero or one ``<page>`` frame returns ``[doc]``
    unchanged."""
    ns_lines: list[str] = []
    chunks: list[str] = []
    span: list[str] = []
    state = 0
    for line in doc.split("\n"):
        if state == 0:
            if _RE_PAGE_OPEN.match(line):
                state = 1
                span = [line]
            elif _RE_NAMESPACE.match(line):
                ns_lines.append(line)
        elif state == 1:
            span.append(line)
            if _RE_PAGE_CLOSE.match(line):
                chunks.append("\n".join(ns_lines + span))
                span = []
                state = 0
            elif _RE_REVISION_OPEN.match(line):
                state = 2
        elif state == 2:
            span.append(line)
            if _RE_REVISION_CLOSE.match(line) or _RE_TEXT_EMPTY.match(line):
                state = 1
            else:
                m = _RE_TEXT_OPEN.match(line)
                # open+close on one line keeps state 2 (wkt1.pl:224)
                if m and "</text>" not in m.group(1):
                    state = 3
        elif state == 3:
            span.append(line)
            if _RE_TEXT_CLOSE_EOL.match(line):
                state = 2
    if state != 0:  # unterminated final frame: keep it (extractor
        chunks.append("\n".join(ns_lines + span))  # records its own diag)
    return chunks if len(chunks) > 1 else [doc]


def split_multipage(raw_df, pages_schema=None):
    """1 -> N pre-split ingest step: rows whose ``html`` holds a
    multi-page XML stream become one pages-table row per ``<page>``
    frame, ``url`` suffixed ``#page=<ordinal>`` (1-based) so urls stay
    unique; single-page rows pass through byte-untouched.  Undecodable
    html also passes through — the extractor owns that diag path.

    Scale note: this is a narrow Arrow-batched map (no shuffle), but one
    input row holding a whole dump is inherent skew — feed pre-framed
    segments so a row stays well under the 2 GB Arrow record-batch
    bound, as the pages contract already requires."""
    from ..schemas import PAGES_SCHEMA

    schema = pages_schema or PAGES_SCHEMA

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("url", "warc_ts", "html", "text", "lang")}
            for url, ts, html, text, lang in zip(
                pdf["url"], pdf["warc_ts"], pdf["html"], pdf["text"], pdf["lang"]
            ):
                chunks = None
                if html is not None:
                    try:
                        chunks = split_page_documents(bytes(html).decode("utf-8"))
                    except UnicodeDecodeError:
                        chunks = None
                if chunks is None or len(chunks) == 1:
                    rows = [(url, html, text)]
                else:
                    rows = [
                        (f"{url}#page={k}", c.encode("utf-8"), None)
                        for k, c in enumerate(chunks, start=1)
                    ]
                for u, h, t in rows:
                    out["url"].append(u)
                    out["warc_ts"].append(ts)
                    out["html"].append(h)
                    out["text"].append(t)
                    out["lang"].append(lang)
            yield pd.DataFrame(out, columns=list(out))

    cols = ["url", "warc_ts", "html", "text", "lang"]
    return raw_df.select(*cols).mapInPandas(run, schema=schema)


def _make_extract_kernel(scanner=None):
    """Arrow-batched kernel: extraction state machine per row, and — when
    ``scanner`` is given — the dictionary mention scan over the extracted
    text IN THE SAME PASS, so the text column crosses the JVM<->Python
    Arrow bus exactly once (it is the widest column in the pipeline; the
    round-1 two-pass design shipped it twice and the second crossing
    bounded strong scaling on a shared memory bus)."""

    def extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("url", "warc_ts", "lang", "title", "page_ns",
                                   "page_id", "rev_id", "rev_sha1", "text", "diag",
                                   "namespaces")}
            if scanner is not None:
                out["mentions"] = []
            for url, ts, html, pre_text, lang in zip(
                pdf["url"], pdf["warc_ts"], pdf["html"], pdf["text"], pdf["lang"]
            ):
                out["url"].append(url)
                out["warc_ts"].append(ts)
                out["lang"].append(lang)
                title = ns = pid = rid = rsha = None
                diag = None
                nslist: list = []
                if html is not None:
                    # INVARIANT (enforced here AND by _scan_projection's
                    # JVM-side null): extraction is the ONLY text source
                    # for an html-bearing row — byte-identical text *from
                    # html* per url; the reference has no hint column.  A
                    # decode/flush failure emits text=None + diag, never
                    # the pre-filled hint.
                    text = None
                    try:
                        doc = bytes(html).decode("utf-8")
                    except UnicodeDecodeError as e:  # skip-and-log (wdq1.pl:497-503)
                        doc, diag = None, f"utf8: {e}"
                    if doc is not None:
                        fr = extract_page(doc)
                        title, ns, pid = fr.get("title"), fr.get("ns"), fr.get("id")
                        rid, rsha = fr.get("rev_id"), fr.get("rev_sha1")
                        nslist = fr.get("namespaces") or []
                        text = fr.get("text")
                        if text is None:
                            diag = "no <page> flushed"
                else:
                    text = pre_text if isinstance(pre_text, str) else None
                    if text is None:
                        diag = "no html and no text"
                for k, v in (("title", title), ("page_ns", ns), ("page_id", pid),
                             ("rev_id", rid), ("rev_sha1", rsha), ("text", text),
                             ("diag", diag), ("namespaces", nslist)):
                    out[k].append(v)
                if scanner is not None:
                    hits = scanner(text) if text else []
                    out["mentions"].append(
                        [{"surface": s, "begin": b, "end": e} for s, b, e in hits]
                    )
            yield pd.DataFrame(out)

    return extract_batches


def _scan_projection():
    """Input projection for the extract kernels.  The pre-filled ``text``
    hint is usable ONLY when ``html`` is absent (extraction always wins —
    the invariant is byte-identical text *from html* per url; the
    reference has no hint column at all), so it is nulled out JVM-side
    for html-bearing rows and never crosses the Arrow bus for them —
    on the bench corpus that removes the second-widest column from the
    JVM->Python transfer entirely.  The kernel enforces the same
    invariant independently (html rows whose decode/flush fails emit
    text=None + diag, never the hint), so the projection is purely a
    transfer optimization, not a semantic dependency."""
    return [
        F.col("url"),
        F.col("warc_ts"),
        F.col("html"),
        F.when(F.col("html").isNull(), F.col("text")).alias("text"),
        F.col("lang"),
    ]


def extract_text(pages_df):
    """pages(url, warc_ts, html, text, lang) -> EXTRACTED_SCHEMA DataFrame.

    Narrow map, Arrow-batched; html column is read only here and dropped
    immediately after (column pruning keeps it out of every later stage).
    """
    return pages_df.select(*_scan_projection()).mapInPandas(
        _make_extract_kernel(), schema=EXTRACTED_SCHEMA
    )


def extract_and_detect(pages_df, aliases):
    """Fused scan: extraction + dictionary mention detection in ONE
    mapInPandas pass -> EXTRACTED_WITH_MENTIONS_SCHEMA (the extracted
    frame plus a ``mentions: array<struct<surface,begin,end>>`` column).

    Semantics are identical to ``detect_mentions(extract_text(pages),
    aliases)`` (same scan kernel); the fusion halves the Arrow bus
    traffic of the heaviest column.  Downstream, mentions become rows via
    ``explode`` — pure JVM, no second Python stage."""
    from ..schemas import EXTRACTED_WITH_MENTIONS_SCHEMA
    from .mentions import broadcast_alias_list, make_scanner

    bc = broadcast_alias_list(aliases)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kern = _make_extract_kernel(make_scanner(bc.value))
        yield from kern(batches)

    return pages_df.select(*_scan_projection()).mapInPandas(
        run, schema=EXTRACTED_WITH_MENTIONS_SCHEMA
    )


def ns_catalog(extracted):
    """A10: the namespace catalog — distinct namespace rows seen in the
    scan (wkt1.pl:176-180)."""
    from pyspark.sql import functions as F

    return (
        extracted.select(F.explode("namespaces").alias("n"))
        .select("n.ns_id", "n.ns_case", "n.ns_name")
        .distinct()
    )


def ns_usage(extracted):
    """A10: per-namespace page counts joined to the catalog
    (wkt1.pl:176-180, 291, 297-307 — %ns catalog + per-page increment).
    One hash agg over the page stream + a bounded broadcast join to the
    dimension-sized catalog."""
    from pyspark.sql import functions as F

    from ..session import bounded_broadcast

    use = (
        extracted.filter(F.col("page_ns").isNotNull())
        .groupBy(F.col("page_ns").alias("ns_id"))
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )
    cat = bounded_broadcast(ns_catalog(extracted))
    return use.join(cat, "ns_id", "left").select(
        "ns_id", "n_pages", "ns_case", "ns_name"
    )


def exploded_mentions(fused):
    """(url, surface, begin, end) rows from the fused frame's mentions
    array — JVM-side explode, no Python."""
    from pyspark.sql import functions as F

    return fused.select("url", F.explode("mentions").alias("m")).select(
        "url", "m.surface", "m.begin", "m.end"
    )
