"""Deterministic synthetic Common-Crawl-style pages corpus (FIXTURES.md §B).

Every row is a pure function of (seed, row index) so the engine, the golden
oracle, and the benchmark regenerate identical data at any scale, in any
process.  Generation itself is distributed: ``spark.range(n)`` ->
Arrow-batched ``mapInPandas`` (no driver-side loop), so bench-scale corpora
(100k+ pages) materialize in parallel.

Fixture design mirrors the reference's data shapes (cites into
/root/reference):
* page XML framing with the <page>/<revision>/<text> states and all three
  text edge cases (wkt1.pl:176-251)
* one serialized entity record per page body line 1 (wdq1.pl:466-496)
* claims with entity-refs / times / strings / novalue-somevalue snaktypes
  (wdq1.pl:675-705, Filter.pm:91-101)
* a head domain holding ~30% of urls and a mega-entity referenced from
  ~20% of pages (skew fixtures, cf. the reference's hot-predicate switch
  cntprops.pl:16,68-77)
* VIAF (P214) ids shared across small qid groups -> connected-components
  merge fixture (wdq1.pl:599-633 authority-control merging)
* ~2% malformed JSON payloads (skip+diag path, wdq1.pl:497-503)
"""

from __future__ import annotations

import json
import random
from collections.abc import Iterator
from datetime import datetime, timedelta, timezone

import pandas as pd

from .schemas import LANGS
from .session import local_df

SEED = 42
HEAD_DOMAIN = "en.head-domain.example"
N_CATALOG = 400  # entities in the linking catalog
MEGA_QID = "Q1"  # mega-entity (skew): alias appears in ~20% of pages

_WORDS = (
    "graph triple entity page data vienna physics history museum river "
    "archive library science bridge garden station valley castle market"
).split()

# alias dictionary: surface -> catalog entity index (deterministic)
_SURFACES = [
    "vienna",
    "albert einstein",
    "university of vienna",
    "danube river",
    "quantum mechanics",
    "national library",
    "marie curie",
    "alan turing",
    "graph theory",
    "knowledge graph",
]


def _rng(*key) -> random.Random:
    return random.Random(":".join(str(k) for k in key))


def catalog_qid(i: int) -> str:
    return MEGA_QID if i == 0 else f"Q{1000 + i}"


def alias_rows() -> list[tuple[str, str, str, bool]]:
    """(alias, id, lang, is_primary) — the broadcast alias table
    (FIXTURES.md B3; source model wdq1.pl:554-588). Includes colliding
    aliases (same surface -> 2 ids) to exercise candidate scoring."""
    rows = []
    for i, s in enumerate(_SURFACES):
        qid = catalog_qid(i)
        rows.append((s, qid, "en", True))
        rows.append((s.title(), qid, "en", False))
    # collisions: surface maps to a second, lower-priority entity
    rows.append(("vienna", catalog_qid(3), "de", False))
    rows.append(("alan turing", catalog_qid(9), "en", False))
    return rows


def entity_record(i: int) -> dict | None:
    """The serialized entity payload for page i (None => page without an
    entity record). Authentic Wikidata shape: polymorphic datavalue.value."""
    r = _rng(SEED, "ent", i)
    if i % 19 == 7:
        return None  # page with free text only -> parse-error diag path
    qid_num = 10 + i
    is_lexeme = i % 31 == 5
    is_property = i % 97 == 3
    if is_property:
        pnum = 31 if i % 194 == 3 else 5000 + (i % 40)
        return {
            "id": f"P{pnum}",
            "type": "property",
            "lastrevid": 1000 + i,
            "datatype": "wikibase-item" if pnum == 31 else "external-id",
            "labels": {"en": {"language": "en", "value": f"prop {pnum}"}},
            "descriptions": {"en": {"language": "en", "value": f"definition of P{pnum}"}},
            "claims": {},
        }
    ent: dict = {
        "id": f"L{qid_num}" if is_lexeme else f"Q{qid_num}",
        "type": "lexeme" if is_lexeme else "item",
        "lastrevid": 1000 + i,
    }
    labels = {}
    for lang in r.sample(LANGS[:6], k=r.randint(1, 3)):
        labels[lang] = {"language": lang, "value": f"entity {qid_num} {lang}"}
    if is_lexeme:
        ent["lemmas"] = labels or {"mul": {"language": "mul", "value": f"lemma {qid_num}"}}
    else:
        ent["labels"] = labels
        ent["descriptions"] = {
            "en": {"language": "en", "value": f"thing number {qid_num}"}
        }
        ent["aliases"] = {"en": [{"language": "en", "value": f"alias-{qid_num}"}]}
        ent["sitelinks"] = {"enwiki": {"site": "enwiki", "title": f"Entity_{qid_num}"}}
    claims: dict = {}

    def snak(datatype, dvtype, value, snaktype="value"):
        ms = {"snaktype": snaktype, "datatype": datatype}
        if snaktype == "value":
            ms["datavalue"] = {"type": dvtype, "value": value}
        return {"mainsnak": ms}

    is_human = i % 10 < 3
    if i % 23 != 11:  # most entities have P31
        target = 5 if is_human else 100 + (i % 50)
        claims["P31"] = [
            snak(
                "wikibase-item",
                "wikibase-entityid",
                {"entity-type": "item", "numeric-id": target, "id": f"Q{target}"},
            )
        ]
        if i % 13 == 4:  # multi-snak claim: only snak[0] feeds triples
            claims["P31"].append(
                snak(
                    "wikibase-item",
                    "wikibase-entityid",
                    {"entity-type": "item", "numeric-id": 999, "id": "Q999"},
                )
            )
    if i % 4 == 0:  # subclass / part-of structure triples (entity refs)
        ref = 10 + (i * 7 + 3) % (10 + max(i, 1))
        claims["P279"] = [
            snak(
                "wikibase-item",
                "wikibase-entityid",
                {"entity-type": "item", "numeric-id": ref, "id": f"Q{ref}"},
            )
        ]
    if is_human:
        claims["P569"] = [
            snak(
                "time",
                "time",
                {
                    "time": f"+19{50 + i % 50:02d}-{1 + i % 12:02d}-11T00:00:00Z",
                    "timezone": 0,
                    "precision": 11,
                    "calendarmodel": "http://www.wikidata.org/entity/Q1985727",
                },
            )
        ]
        # VIAF shared across groups of 3 -> CC merge fixture
        viaf = f"viaf-{(i // 3) * 3}"
        claims["P214"] = [snak("external-id", "string", viaf)]
        if i % 6 == 0:
            claims["P227"] = [snak("external-id", "string", f"gnd-{i}")]
    if i % 5 == 2:  # GeoNames id (places)
        claims["P1566"] = [snak("external-id", "string", str(2700000 + i))]
    if i % 7 == 1:  # DOI, some malformed for the validator fixture
        doi = f"10.{1000 + i % 9000}/j.test.{i}" if i % 14 == 1 else f"10.38/bad.{i}"
        claims["P356"] = [snak("external-id", "string", doi)]
    if i % 11 == 6:  # novalue / somevalue snaktype (skipped in triples)
        claims["P570"] = [snak("time", "time", None, snaktype="novalue" if i % 22 == 6 else "somevalue")]
    if i % 17 == 9:  # non-filtered property: in claims list, no triple
        claims["P9999"] = [snak("string", "string", f"unfiltered-{i}")]
    if i % 29 == 13:  # malformed property key: warn+skip (wdq1.pl:662-667)
        claims["Pxx"] = [snak("string", "string", "bad-prop")]
    if i % 12 == 8:  # quantity struct -> JSON-encode fallback path
        claims["P625"] = [
            snak(
                "globe-coordinate",
                "globecoordinate",
                {
                    "latitude": round(40 + (i % 100) * 0.1, 4),
                    "longitude": round(10 + (i % 80) * 0.2, 4),
                    "globe": "http://www.wikidata.org/entity/Q2",
                },
            )
        ]
    if i % 15 == 10:  # univie mention inside the serialized record (P6)
        ent["described_at"] = f"https://www.univie.ac.at/page/{i}"
    ent["claims"] = claims
    return ent


def heading_lines(i: int) -> list[str]:
    """Wikitext heading fixtures for the kg14 analyzer (Text.pm:6-108):
    ~10% of pages carry heading lines — correct headings at varying
    levels, one-token and multi-token ``{{macro|...}}`` groups, and (every
    third such page) a mismatched open/close level that must surface as a
    'heading mismatch' error.  Words here are deliberately disjoint from
    the alias surfaces so the mention fixtures are untouched."""
    if i % 10 != 3:
        return []
    eq = "=" * (2 + (i // 10) % 3)
    out = [f"{eq} Etymology {eq}"]
    if i % 20 == 3:
        out.append(f"{eq} {{{{en-noun|lemma{i}|s}}}} Noun {eq}")
    else:
        out.append(f"{eq} ({{{{m|de|Wort des Tages}}}}) Pronunciation {eq}")
    if i % 30 == 23:
        out.append(f"={eq} Mismatched Section {eq}")  # error path
    return out


def page_body_lines(i: int) -> list[str]:
    """BODY of page i: line 1 = serialized entity record (or malformed
    JSON / plain text), following lines = free text with dictionary
    mentions (the mention-detection fixture) plus, on ~10% of pages, a
    wikitext heading block (``heading_lines``)."""
    r = _rng(SEED, "body", i)
    ent = entity_record(i)
    if ent is None:
        first = "this page has no entity record attached at all"
    elif i % 53 == 21:
        first = json.dumps(ent, separators=(",", ":"))[:40]  # malformed
    else:
        first = json.dumps(ent, separators=(",", ":"), sort_keys=True)
        if i % 9 == 0:
            first += ","  # trailing comma stripped by scan (wdq1.pl:492)
    # Common-Crawl-like body weight: ~150-300 words (~1-2 KB) so per-page
    # compute (extraction, trie scan) dominates job overhead at bench scale
    words = [r.choice(_WORDS) for _ in range(r.randint(120, 300))]
    # plant mentions: mega-entity alias in ~20% of pages (skew), one other
    # alias in ~50%
    if i % 5 < 1:
        words.insert(r.randrange(len(words)), _SURFACES[0])
    if i % 2 == 0:
        words.insert(r.randrange(len(words)), _SURFACES[1 + i % (len(_SURFACES) - 1)])
    lines = [first]
    while words:
        take = min(len(words), r.randint(6, 12))
        lines.append(" ".join(words[:take]))
        words = words[take:]
    # heading block as a contiguous span after the record line, so the
    # engine and the golden oracle agree on heading order trivially
    lines[1:1] = heading_lines(i)
    return lines


def page_xml(i: int) -> str:
    """Page XML document exercising every extractor edge case
    (wkt1.pl:176-251): empty text, single-line close, fragment close."""
    body = page_body_lines(i)
    title = f"Page_{i}"
    rev = 5_000_000 + i
    sha = f"sha{i:08d}"
    head = [
        "<mediawiki>",
        f'  <namespace key="0" case="first-letter">Main</namespace>' if i % 41 == 0 else None,
        "  <page>",
        f"    <title>{title}</title>",
        "    <ns>0</ns>",
        f"    <id>{i + 1}</id>",
        "    <revision>",
        f"      <id>{rev}</id>",
        f"      <sha1>{sha}</sha1>",
    ]
    head = [h for h in head if h is not None]
    variant = i % 10
    if variant == 9 and i % 30 == 9:
        text_block = ['      <text xml:space="preserve" />']  # empty text
    elif variant in (7, 8):
        # single-line open+close (wkt1.pl:224)
        text_block = [f'      <text xml:space="preserve">{body[0]}</text>']
    else:
        # multi-line with fragment close (wkt1.pl:239-246)
        text_block = [f'      <text xml:space="preserve">{body[0]}']
        text_block += body[1:-1]
        text_block.append(f"{body[-1]}</text>")
    tail = ["    </revision>", "  </page>", "</mediawiki>"]
    return "\n".join(head + text_block + tail)


def expected_text(i: int) -> str:
    """What the byte-identical extractor must return for page i."""
    body = page_body_lines(i)
    variant = i % 10
    if variant == 9 and i % 30 == 9:
        return ""
    if variant in (7, 8):
        return body[0]
    return "\n".join(body)


def page_row(i: int) -> dict:
    dom = HEAD_DOMAIN if i % 10 < 3 else f"site{i % 97}.example"
    ts = datetime(2025, 1, 1, tzinfo=timezone.utc) + timedelta(seconds=i * 7)
    r = _rng(SEED, "page", i)
    return {
        "url": f"https://{dom}/wiki/Page_{i}",
        "warc_ts": ts,
        "html": page_xml(i).encode("utf-8"),
        # half the rows pre-fill text; the engine must still extract from
        # html (extraction wins; the pre-filled column is a hint)
        "text": expected_text(i) if i % 2 == 0 else None,
        "lang": LANGS[r.randrange(len(LANGS))],
    }


def gen_pages(spark, n: int, partitions: int | None = None):
    """Distributed deterministic pages table.

    Partition count scales with data volume, not just cores: a page row is
    ~5 KB (html + text), and a partition must stay well under the 2 GB
    Arrow/stream limit (and under executor memory at 100 TB) — so cap
    partitions at ~25k pages (~125 MB) each even when the core count is
    low; finer partitions also smooth straggler tails.  (Measured failure
    mode without volume-scaled partitioning: at 800k pages on local[2] a
    single partition exceeds 2 GB and the Python runner deadlocks.)"""
    from .schemas import PAGES_SCHEMA

    parts = partitions or max(spark.sparkContext.defaultParallelism, -(-n // 25_000))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [page_row(int(i)) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    return spark.range(0, n, numPartitions=parts).mapInPandas(gen, schema=PAGES_SCHEMA)


def gen_aliases(spark):
    from .schemas import ALIASES_SCHEMA

    return local_df(spark, alias_rows(), ALIASES_SCHEMA)


def gen_entity_catalog(spark):
    """Linking target catalog (FIXTURES.md B2): one row per catalog entity
    with a popularity prior (mega-entity first)."""
    rows = []
    for i in range(N_CATALOG):
        qid = catalog_qid(i)
        prior = 1000.0 if i == 0 else 1.0 / (1 + i)
        label = _SURFACES[i] if i < len(_SURFACES) else f"catalog entity {i}"
        rows.append((qid, 1000 + i if i else 1, "item", "en", label, "Q5" if i % 3 == 0 else "Q100", prior))
    return local_df(
        spark, rows,
        "id string, id_num long, type string, lang string, label string, P31 string, prior double",
    )


def sf_to_n_pages(sf_dir: str) -> int:
    """Map a driver sf dir to a deterministic corpus size.  sf0.1 (bench)
    is large enough that per-page work dominates fixed job overheads."""
    if "sf0.1" in sf_dir:
        return 100000
    if "sf0.01" in sf_dir:
        return 2000
    return 300
