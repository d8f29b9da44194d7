"""Seeded inputs for the benchmark workloads.

Pages keep ``datagen``'s page framing (XML head, the three ``<text>``
variants, url/domain/lang rules), so a page's expected text is its joined
body lines, exactly as ``datagen.expected_text`` defines it.  The page
index is offset by the seed, and each workload reshapes the body:

* ``extract_heavy``: ~10x the default body, dense in dictionary aliases,
  with a short entity record (id, label, P31), so the fused extract and
  mention scan and the linking join carry the pass.
* ``claim_skew``: a short, alias-free body and a claim-dense record: P31
  on every item (the mega-predicate) plus a dozen filter-bank predicates
  drawn per entity, and authority-control ids shared across groups of
  ~50 entities, so triples, the CC loop and the pred-partitioned writes
  carry the pass.

Every table is written once per (workload, seed) with a fixed file and
row-group layout, so the engine's scan split count never varies.
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from wikidata_dump_processor_spark import datagen
from wikidata_dump_processor_spark.reference_semantics import golden_record
from wikidata_dump_processor_spark.schemas import FILTER_BANK, LANGS

# pages per workload: sized so one warm pass on a 4-core host is ~8-10 s
# and the per-page work is a visible share of it (the pipeline's fixed
# cost, 64 bucket files and the CC loop, is ~7 s at any size)
N_PAGES = {"extract_heavy": 800, "claim_skew": 2000}
PAGE_FILES = 8  # one row group each: 8 scan tasks, never packed or split
SEED_STRIDE = 10_000_000  # page-index offset per seed

# identifier predicates a claim-dense record draws from (the value is a
# string, so every one yields exactly one triple per entity)
_ID_PREDS = sorted(p for p, (_, tr) in FILTER_BANK.items() if tr == 0 and p not in (
    "P569", "P570", "P625", "P214", "P227"))


def _entity_snak(num: int) -> dict:
    return {"mainsnak": {"snaktype": "value", "datatype": "wikibase-item",
                         "datavalue": {"type": "wikibase-entityid", "value": {
                             "entity-type": "item", "numeric-id": num,
                             "id": f"Q{num}"}}}}


def _string_snak(value: str) -> dict:
    return {"mainsnak": {"snaktype": "value", "datatype": "external-id",
                         "datavalue": {"type": "string", "value": value}}}


def _record_line(ent: dict | None, g: int) -> str:
    """Body line 1 as ``datagen.page_body_lines`` serializes it."""
    if ent is None:
        return "this page has no entity record attached at all"
    if g % 53 == 21:
        return json.dumps(ent, separators=(",", ":"))[:40]  # malformed
    line = json.dumps(ent, separators=(",", ":"), sort_keys=True)
    return line + "," if g % 9 == 0 else line


def _text_lines(words: list[str], r: random.Random) -> list[str]:
    lines = []
    while words:
        take = min(len(words), r.randint(6, 12))
        lines.append(" ".join(words[:take]))
        words = words[take:]
    return lines


def extract_heavy_body(g: int) -> list[str]:
    r = random.Random(f"extract_heavy:{g}")
    ent = datagen.entity_record(g)
    if ent is not None and ent.get("type") == "item":
        ent = {k: ent[k] for k in ("id", "type", "lastrevid", "labels")}
        ent["claims"] = {"P31": [_entity_snak(5 if g % 3 == 0 else 100 + g % 50)]}
    words = [r.choice(datagen._WORDS) for _ in range(r.randint(1200, 3000))]
    for pos in r.sample(range(len(words)), len(words) // 15):  # dense aliases
        words[pos] = r.choice(datagen._SURFACES)
    return [_record_line(ent, g)] + datagen.heading_lines(g) + _text_lines(words, r)


def claim_skew_body(g: int) -> list[str]:
    r = random.Random(f"claim_skew:{g}")
    ent = datagen.entity_record(g)
    if ent is not None and ent.get("type") == "item":
        claims = ent["claims"]
        claims["P31"] = [_entity_snak(5 if g % 3 else 100 + g % 50)]
        for p in r.sample(_ID_PREDS, 12):
            claims[p] = [_string_snak(f"{p.lower()}-{g % 997}")]
        # authority ids shared across groups of ~50: real CC merges
        claims["P214"] = [_string_snak(f"viaf-{g // 50}")]
        if g % 5 == 0:  # bridges neighbouring groups into chains
            claims["P227"] = [_string_snak(f"gnd-{(g + 25) // 100}")]
    words = [r.choice(datagen._WORDS) for _ in range(r.randint(20, 40))]
    return [_record_line(ent, g)] + _text_lines(words, r)


BODIES = {"extract_heavy": extract_heavy_body, "claim_skew": claim_skew_body}


def frame(g: int, body: list[str]) -> tuple[dict, str]:
    """(pages row, expected text) with ``datagen.page_xml``'s framing."""
    head = [
        "<mediawiki>",
        '  <namespace key="0" case="first-letter">Main</namespace>' if g % 41 == 0 else None,
        "  <page>",
        f"    <title>Page_{g}</title>",
        "    <ns>0</ns>",
        f"    <id>{g + 1}</id>",
        "    <revision>",
        f"      <id>{5_000_000 + g}</id>",
        f"      <sha1>sha{g:08d}</sha1>",
    ]
    head = [h for h in head if h is not None]
    variant = g % 10
    if variant == 9 and g % 30 == 9:
        block, expected = ['      <text xml:space="preserve" />'], ""
    elif variant in (7, 8):
        block, expected = [f'      <text xml:space="preserve">{body[0]}</text>'], body[0]
    else:
        block = [f'      <text xml:space="preserve">{body[0]}'] + body[1:-1]
        block.append(f"{body[-1]}</text>")
        expected = "\n".join(body)
    html = "\n".join(head + block + ["    </revision>", "  </page>", "</mediawiki>"])
    dom = datagen.HEAD_DOMAIN if g % 10 < 3 else f"site{g % 97}.example"
    row = {
        "url": f"https://{dom}/wiki/Page_{g}",
        # within the corpus, so that every seed stays in the ns timestamp range
        "warc_ts": datetime(2025, 1, 1, tzinfo=timezone.utc)
        + timedelta(seconds=g % SEED_STRIDE * 7),
        "html": html.encode("utf-8"),
        "text": expected if g % 2 == 0 else None,
        "lang": LANGS[random.Random(f"page:{g}").randrange(len(LANGS))],
    }
    return row, expected


def _write_files(table: pa.Table, out_dir: str, n_files: int):
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        part = table.slice(k * step, step)
        pq.write_table(part, os.path.join(out_dir, f"part-{k:03d}.parquet"),
                       row_group_size=max(part.num_rows, 1))


def write_pages(workload: str, seed: int, out_dir: str) -> dict:
    """Write the pages table plus the checks' expected sides; returns info."""
    body_of = BODIES[workload]
    base = seed * SEED_STRIDE
    rows, expected, golden = [], [], []
    html_bytes = 0
    for g in range(base, base + N_PAGES[workload]):
        body = body_of(g)
        row, text = frame(g, body)
        rows.append(row)
        html_bytes += len(row["html"])
        expected.append((row["url"], text))
        if text:
            triples, _, _ = golden_record(text.split("\n", 1)[0])
            golden.extend((s, p, o, row["url"]) for s, p, o in triples)
    pages = pa.Table.from_pylist(rows, schema=pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())]))
    _write_files(pages, os.path.join(out_dir, "pages"), PAGE_FILES)
    pq.write_table(pa.table({"url": [u for u, _ in expected],
                             "text": [t for _, t in expected]}),
                   os.path.join(out_dir, "expected_text.parquet"))
    cols = list(zip(*golden)) if golden else [[], [], [], []]
    pq.write_table(pa.table({k: pa.array(v, pa.string()) for k, v in zip(
        ("subj", "pred", "obj", "src_url"), cols)}),
        os.path.join(out_dir, "golden_triples.parquet"))
    return {"pages": len(rows), "html_mb": html_bytes / 1e6, "golden_triples": len(golden)}


QUERY_MULT = 1  # query tables at sf0.1 shape (tools/gen_scale_data multiple)
FIXTURE_DOCS = 500  # the kg8/kg9 golden fixtures' scale (sf0.01 documents)
ROW_GROUP_ROWS = 75_000  # lineitem: 8 row groups, so its scan splits


def write_query_tables(seed: int, out_dir: str, fixture_dir: str):
    """The headline queries' tables from ``tools/gen_scale_data``'s table
    functions with a seeded rng, rewritten with fixed row groups; plus a
    documents table at the kg8/kg9 fixtures' scale."""
    import numpy as np

    from tools import gen_scale_data as G

    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(fixture_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    G.gen_documents(rng, 5000 * QUERY_MULT, f"{out_dir}/documents.parquet")
    G.gen_embeddings(rng, 2000 * QUERY_MULT, f"{out_dir}/embeddings.parquet")
    G.gen_tpch(rng, QUERY_MULT, out_dir)
    G.gen_events(rng, 100000 * QUERY_MULT, 1500 * QUERY_MULT, out_dir)
    for name in os.listdir(out_dir):
        path = os.path.join(out_dir, name)
        pq.write_table(pq.read_table(path), path, row_group_size=ROW_GROUP_ROWS)
    G.gen_documents(np.random.default_rng(seed), FIXTURE_DOCS,
                    f"{fixture_dir}/documents.parquet")
