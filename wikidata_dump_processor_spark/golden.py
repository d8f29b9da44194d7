"""Golden-oracle fixture tables for the KG-pipeline driver queries.

A pure-Python (no Spark) re-derivation of every deterministic KG table the
engine produces over the synthetic corpus, written as single-file parquet
so the driver's DuckDB oracle can ``read_parquet()`` them.  This turns the
KG queries (kg1, kg2, ...) from rows-only checks into fully oracle-checked
queries: the driver compares the Spark pipeline's output against these
tables row-for-row.

Like ``reference_semantics.py`` (the per-record golden loop it builds on),
this module mirrors the reference's semantics (cites into /root/reference)
as naive Python — it shares no code with the Spark operators, so agreement
is a real check, not a tautology.

Type conventions match the driver's pandas-level hash (see
queries_catalog.py header): ints are int64, floats float64, arrays/maps
are JSON-serialized strings.
"""

from __future__ import annotations

import json
import math
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq

from . import datagen
from .reference_semantics import golden_record
from .schemas import AUTHCTRL_PRED, AUTHCTRL_PROPS, FILTER_BANK, LANGS

# bump when any golden derivation changes => fixtures regenerate
VERSION = "r5-1"

GOLDEN_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".golden")

# the driver runs the oracle comparison at sf0.01 (datagen.sf_to_n_pages)
ORACLE_N = 2000


def golden_dir(n: int = ORACLE_N) -> str:
    return os.path.join(GOLDEN_ROOT, f"n{n}")


# ---------------------------------------------------------------------------
# per-record helpers (reference semantics, naive Python)
# ---------------------------------------------------------------------------


def _safe_get(d, *path):
    cur = d
    for p in path:
        if not isinstance(cur, (dict, list)):
            return None
        try:
            cur = cur[p]
        except (KeyError, IndexError, TypeError):
            return None
    return cur


def _extract(x, transform: int):
    """Filter.pm:76-108 (same as reference_semantics._extract)."""
    if transform == 1 and isinstance(x, dict):
        prefix = {"item": "Q", "property": "P"}.get(x.get("entity-type"))
        return f"{prefix}{x['numeric-id']}" if prefix is not None else None
    if isinstance(x, dict):
        from .reference_semantics import json_encode_value

        return json_encode_value(x)
    return x


def _parse_record(text: str):
    """First body line -> (ent dict | None, ent_diag per the engine's
    parse_entities diag contract)."""
    if not text:
        return None, "empty payload"
    line = text.split("\n", 1)[0].strip()
    if line in ("[", "]", ""):
        return None, "empty payload"
    if line.endswith(","):
        line = line[:-1]
    try:
        j = json.loads(line)
    except Exception:
        return None, "json parse error"
    if not isinstance(j, dict) or j.get("id") is None:
        return None, "json parse error"
    if not re.match(r"^[PQL]\d+$", str(j["id"])):
        return None, f"bad id: {j['id']}"
    return j, None


def _preferred_label(j: dict):
    """wdq1.pl:565-588 incl. the undef/last-lang quirk."""
    jl, jle = j.get("labels") or {}, j.get("lemmas")
    x_langs = list(LANGS) + (list(jle.keys()) if jle is not None else [])
    src = jle if jle is not None else jl
    label, lang = None, None
    for lg in x_langs:
        if label is None:
            label, lang = (src.get(lg) or {}).get("value"), lg
    return label, lang


def _first_snak_value(j: dict, prop: str):
    """(snaktype, raw datavalue.value) of claims[prop][0], or (None, None)."""
    ms = _safe_get(j, "claims", prop, 0, "mainsnak")
    if not isinstance(ms, dict):
        return None, None
    return ms.get("snaktype"), _safe_get(ms, "datavalue", "value")


def _p31_id(j: dict):
    v = _safe_get(j, "claims", "P31", 0, "mainsnak", "datavalue", "value")
    return v.get("id") if isinstance(v, dict) else None


class _Corpus:
    """All golden rows for an n-page corpus, computed in one pass."""

    def __init__(self, n: int):
        self.n = n
        self.pages = []  # (i, url, text, ent_diag, j-or-None)
        for i in range(n):
            # page_row(i)['url'] re-derived without building the html blob
            dom = datagen.HEAD_DOMAIN if i % 10 < 3 else f"site{i % 97}.example"
            url = f"https://{dom}/wiki/Page_{i}"
            text = datagen.expected_text(i)
            j, diag = _parse_record(text)
            self.pages.append((i, url, text, diag, j))

    # -- item/property partitions ------------------------------------------
    def items(self):
        for i, url, text, diag, j in self.pages:
            if diag is None and j.get("type") in ("item", "lexeme") and re.match(
                r"^[QL]\d+$", str(j["id"])
            ):
                yield i, url, text, j

    def props_defs(self):
        for i, url, text, diag, j in self.pages:
            if diag is None and j.get("type") == "property" and re.match(
                r"^P\d+$", str(j["id"])
            ):
                yield i, url, j


# ---------------------------------------------------------------------------
# golden tables
# ---------------------------------------------------------------------------


def _t_pages_text(c: _Corpus):
    rows = [
        {"url": url, "text": text, "ent_diag": diag}
        for _, url, text, diag, _j in c.pages
    ]
    return rows, pa.schema(
        [("url", pa.string()), ("text", pa.string()), ("ent_diag", pa.string())]
    )


def _t_triples(c: _Corpus):
    rows = []
    for i, url, text, diag, j in c.pages:
        if not text:
            continue
        first_line = text.split("\n", 1)[0]
        triples, _item, _d = golden_record(first_line)
        for s, p, o in triples:
            rows.append({"subj": s, "pred": p, "obj": o, "src_url": url})
    return rows, pa.schema(
        [("subj", pa.string()), ("pred", pa.string()), ("obj", pa.string()), ("src_url", pa.string())]
    )


def _t_items(c: _Corpus):
    rows = []
    for i, url, text, j in c.items():
        claims = j.get("claims") or {}
        label, lang = _preferred_label(j)
        p31 = _p31_id(j)
        is_auth = j["type"] == "item" and (
            any(p in claims for p in AUTHCTRL_PRED) or p31 == "Q5"
        )
        claims_list = sorted(claims.keys())
        rows.append(
            {
                "url": url,
                "id": j["id"],
                "id_num": int(re.match(r"^[QL](\d+)$", j["id"]).group(1)),
                "type": j["type"],
                "revid": j.get("lastrevid"),
                "cnt_label": len(j.get("labels") or {}),
                "cnt_desc": len(j.get("descriptions") or {}),
                "cnt_aliases": len(j.get("aliases") or {}),
                "cnt_claims": len(claims),
                "cnt_sitelink": len(j.get("sitelinks") or {}),
                "cnt_lemmas": len(j.get("lemmas") or {}),
                "lang": lang,
                "label": label,
                "filtered_props": json.dumps(
                    [p for p in claims_list if p in FILTER_BANK], separators=(",", ":")
                ),
                "claims_list": json.dumps(claims_list, separators=(",", ":")),
                "p31": p31,
                "is_authctrl": is_auth,
            }
        )
    return rows, pa.schema(
        [
            ("url", pa.string()), ("id", pa.string()), ("id_num", pa.int64()),
            ("type", pa.string()), ("revid", pa.int64()),
            ("cnt_label", pa.int64()), ("cnt_desc", pa.int64()),
            ("cnt_aliases", pa.int64()), ("cnt_claims", pa.int64()),
            ("cnt_sitelink", pa.int64()), ("cnt_lemmas", pa.int64()),
            ("lang", pa.string()), ("label", pa.string()),
            ("filtered_props", pa.string()), ("claims_list", pa.string()),
            ("p31", pa.string()), ("is_authctrl", pa.bool_()),
        ]
    )


def _t_props(c: _Corpus):
    defs: dict[str, dict] = {}
    for i, url, j in c.props_defs():
        d = defs.setdefault(
            j["id"],
            {
                "def_cnt": 0,
                "datatype": j.get("datatype"),
                "label_en": _safe_get(j, "labels", "en", "value"),
                "descr_en": _safe_get(j, "descriptions", "en", "value"),
            },
        )
        d["def_cnt"] += 1
    use: dict[str, int] = {}
    for i, url, text, j in c.items():
        for p in (j.get("claims") or {}).keys():
            use[p] = use.get(p, 0) + 1
    rows = []
    for prop in sorted(set(defs) | set(use)):
        d = defs.get(prop, {})
        rows.append(
            {
                "prop": prop,
                "def_cnt": d.get("def_cnt", 0),
                "use_cnt": use.get(prop, 0),
                "datatype": d.get("datatype"),
                "label_en": d.get("label_en"),
                "descr_en": d.get("descr_en"),
                "dup_def": d.get("def_cnt", 0) > 1,
            }
        )
    return rows, pa.schema(
        [
            ("prop", pa.string()), ("def_cnt", pa.int64()), ("use_cnt", pa.int64()),
            ("datatype", pa.string()), ("label_en", pa.string()),
            ("descr_en", pa.string()), ("dup_def", pa.bool_()),
        ]
    )


def _labels_rows(c: _Corpus):
    """labels_unsorted.tsv model (wdq1.pl:171-174, 770-780)."""
    rows = []
    for i, url, text, j in c.items():
        labels = j.get("labels") or {}
        if not labels:
            continue
        row = {"id": j["id"], "P31": _p31_id(j)}
        for lg in LANGS:
            row[f"label_{lg}"] = _safe_get(labels, lg, "value")
        rows.append(row)
    return rows


def _authctrl_rows(c: _Corpus):
    """wdq1.pl:599-633, 732-739: qualifying items + first-snak authority
    property values."""
    out = []
    for i, url, text, j in c.items():
        claims = j.get("claims") or {}
        p31 = _p31_id(j)
        if not (
            j["type"] == "item"
            and (any(p in claims for p in AUTHCTRL_PRED) or p31 == "Q5")
        ):
            continue
        label, lang = _preferred_label(j)
        props = {}
        for p in AUTHCTRL_PROPS:
            if p not in claims or not re.match(r"^P\d+$", p):
                continue
            st, val = _first_snak_value(j, p)
            if st != "value" or val is None:
                continue
            props[p] = _extract(val, FILTER_BANK.get(p, ("", 0))[1])
        out.append(
            {"id": j["id"], "p31": p31, "label": label, "label_lang": lang, "props": props}
        )
    return out


def _t_person(c: _Corpus):
    """wdq3.pl:102-205 person table over the authority records."""
    labels = {r["id"]: r for r in _labels_rows(c)}
    person_props = ["P213", "P214", "P227", "P244", "P496", "P19", "P20", "P21"]
    rows = []
    for a in _authctrl_rows(c):
        if a["p31"] != "Q5":
            continue
        row = {"id": a["id"], "P31": a["p31"]}
        for p in person_props:
            row[p] = a["props"].get(p)
        for p, col in (("P569", "P569x"), ("P570", "P570x")):
            v = a["props"].get(p)
            row[col] = json.loads(v).get("time") if v else None
        lab = labels.get(a["id"], {})
        for lg in ("en", "de", "fr", "it"):
            row[f"tlt_{lg}"] = lab.get(f"label_{lg}")
        rows.append(row)
    fields = (
        [("id", pa.string()), ("P31", pa.string())]
        + [(p, pa.string()) for p in person_props]
        + [("P569x", pa.string()), ("P570x", pa.string())]
        + [(f"tlt_{lg}", pa.string()) for lg in ("en", "de", "fr", "it")]
    )
    return rows, pa.schema(fields)


def _t_geonames(c: _Corpus, triples_rows):
    """geonames.pl:12-15,54-85 with deterministic last-wins (max obj)."""
    sides: dict[str, dict[str, str]] = {"P1566": {}, "P227": {}}
    for t in triples_rows:
        if t["pred"] in sides and t["obj"] is not None:
            cur = sides[t["pred"]].get(t["subj"])
            if cur is None or t["obj"] > cur:
                sides[t["pred"]][t["subj"]] = t["obj"]
    items = {}
    for i, url, text, j in c.items():
        label, lang = _preferred_label(j)
        items[j["id"]] = (lang, label)
    rows = []
    for subj in sorted(set(sides["P1566"]) & set(sides["P227"])):
        lang, label = items.get(subj, (None, None))
        rows.append(
            {
                "id": subj,
                "P1566_lang": lang, "P1566_label": label, "P1566_val": sides["P1566"][subj],
                "P227_lang": lang, "P227_label": label, "P227_val": sides["P227"][subj],
            }
        )
    return rows, pa.schema(
        [
            ("id", pa.string()),
            ("P1566_lang", pa.string()), ("P1566_label", pa.string()), ("P1566_val", pa.string()),
            ("P227_lang", pa.string()), ("P227_label", pa.string()), ("P227_val", pa.string()),
        ]
    )


def naive_mentions(surfaces, low: str) -> list[tuple[str, int, int]]:
    """Dictionary mention scan of lowered text: word-bounded (neighbours
    not ``str.isalnum()``), longest-leftmost, non-overlapping — a naive
    position loop, independent of the engine's trie-regex kernel.
    Returns (surface, begin, end) with offsets into ``low``; empty
    surfaces are not in the dictionary."""
    ordered = sorted({s for s in surfaces if s}, key=lambda s: (-len(s), s))
    out = []
    pos, L = 0, len(low)
    while pos < L:
        hit = None
        if pos == 0 or not low[pos - 1].isalnum():
            for s in ordered:
                e = pos + len(s)
                if low.startswith(s, pos) and (e >= L or not low[e].isalnum()):
                    hit = (s, pos, e)
                    break
        if hit:
            out.append(hit)
            pos = hit[2]
        else:
            pos += 1
    return out


def stored_offsets(text: str, hits):
    """(surface, begin, end) hits in ``text.lower()`` -> offsets into
    ``text``: each lowered code point maps to the stored character it came
    from, ``begin`` to that character and ``end`` past it."""
    origin = [i for i, ch in enumerate(text) for _ in ch.lower()]
    return [(s, origin[b], origin[e - 1] + 1) for s, b, e in hits]


def _mention_rows(c: _Corpus):
    """Dictionary mention rows of the corpus: ``naive_mentions`` over each
    page's ``text.lower()``, with begin/end indexing the stored text."""
    surfaces = {a.lower() for a, _id, _lg, _p in datagen.alias_rows()}
    rows = []
    for i, url, text, diag, j in c.pages:
        if not text:
            continue
        for s, b, e in stored_offsets(text, naive_mentions(surfaces, text.lower())):
            rows.append({"url": url, "surface": s, "begin": b, "end": e})
    return rows


def _t_linked(c: _Corpus):
    """Mentions joined to the per-surface best catalog entity (linking.py
    semantics re-derived: primary bonus 2.0 + log1p(prior), tie -> smallest
    qid; score itself is NOT exported — cross-engine float-libm drift)."""
    prior = {}
    for i in range(datagen.N_CATALOG):
        prior[datagen.catalog_qid(i)] = 1000.0 if i == 0 else 1.0 / (1 + i)
    cand: dict[str, list] = {}
    for alias, qid, lang, is_primary in datagen.alias_rows():
        s = alias.lower()
        score = (2.0 if is_primary else 0.0) + math.log1p(prior.get(qid, 0.0))
        cand.setdefault(s, []).append((score, qid))
    best = {}
    for s, cs in cand.items():
        qids = {q for _, q in cs}
        # max score; tie -> smallest numeric qid
        win = max(cs, key=lambda t: (t[0], -int(re.search(r"(\d+)", t[1]).group(1))))
        best[s] = (win[1], len(qids))
    rows = []
    for m in _mention_rows(c):
        qid, n_cand = best[m["surface"]]
        rows.append({**m, "qid": qid, "n_candidates": n_cand})
    return rows, pa.schema(
        [
            ("url", pa.string()), ("surface", pa.string()),
            ("begin", pa.int64()), ("end", pa.int64()),
            ("qid", pa.string()), ("n_candidates", pa.int64()),
        ]
    )


def _t_components(triples_rows):
    """canonicalize.py semantics re-derived as union-find: entities sharing
    an authority (pred, obj) identifier merge; canonical = lexicographic
    min id (the Spark loop's F.min over string ids)."""
    parent: dict[str, str] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo

    groups: dict[tuple, list] = {}
    subjects = set()
    for t in triples_rows:
        subjects.add(t["subj"])
        if t["pred"] in AUTHCTRL_PRED and t["obj"] is not None:
            groups.setdefault((t["pred"], t["obj"]), []).append(t["subj"])
    for s in subjects:
        parent[s] = s
    for members in groups.values():
        for m in members[1:]:
            union(members[0], m)
    # canonical = min id in component
    comp_min: dict[str, str] = {}
    for s in subjects:
        r = find(s)
        if r not in comp_min or s < comp_min[r]:
            comp_min[r] = s
    rows = [
        {"id": s, "canonical_id": comp_min[find(s)]} for s in sorted(subjects)
    ]
    return rows, pa.schema([("id", pa.string()), ("canonical_id", pa.string())])


def _t_snak_values(c: _Corpus, pred: str = "P31"):
    """wdq2.pl:522-552 get_snak_values: all statements of one property;
    snaktype != value contributes the snaktype string (wdq2.pl:544-546)."""
    tr = 1 if FILTER_BANK.get(pred, ("", 0))[1] == 1 else 0
    rows = []
    for i, url, text, j in c.items():
        snaks = _safe_get(j, "claims", pred)
        if not isinstance(snaks, list):
            continue
        for pos, snak in enumerate(snaks):
            ms = snak.get("mainsnak") if isinstance(snak, dict) else None
            st = ms.get("snaktype") if isinstance(ms, dict) else None
            if st == "value":
                obj = _extract(_safe_get(ms, "datavalue", "value"), tr)
            else:
                obj = st
            rows.append(
                {"subj": j["id"], "pred": pred, "snak_pos": pos, "obj": obj, "src_url": url}
            )
    return rows, pa.schema(
        [
            ("subj", pa.string()), ("pred", pa.string()), ("snak_pos", pa.int64()),
            ("obj", pa.string()), ("src_url", pa.string()),
        ]
    )


def _t_doi_report(triples_rows):
    """doi-count.pl:12-14,53-141,224-258 re-derived."""
    denylist = {"10.38", "10.475", "10.530", "10.581", "10.5072"}
    counts: dict[tuple, int] = {}
    for t in triples_rows:
        if t["pred"] != "P356" or t["obj"] is None:
            continue
        v = re.sub(r"^(HDL:|DOI:)\s*", "", t["obj"].strip(), flags=re.IGNORECASE)
        prefix = v.split("/", 1)[0]
        suffix = v.split("/", 1)[1] if "/" in v else ""
        two = ".".join(prefix.split(".")[:2])
        if two in denylist:
            verdict = "denylisted"
        elif not re.search(r"^10\.[1-9]\d{3,4}$", prefix):
            verdict = "bad_prefix"
        elif suffix == "":
            verdict = "no_suffix"
        elif re.search(r"^[\w.\-/()<>;:]+$", suffix):
            verdict = "good"
        else:
            verdict = "odd_chars"
        counts[(prefix, verdict)] = counts.get((prefix, verdict), 0) + 1
    rows = [
        {"prefix": p, "verdict": vd, "cnt": n} for (p, vd), n in sorted(counts.items())
    ]
    return rows, pa.schema(
        [("prefix", pa.string()), ("verdict", pa.string()), ("cnt", pa.int64())]
    )


def _t_inverted_index(triples_rows, props_rows, hot_threshold: int = 500):
    """cntprops.pl:16,54-134 stats: per-pred distinct-subject count +
    cardinality-adaptive layout routing."""
    per_pred: dict[str, set] = {}
    for t in triples_rows:
        per_pred.setdefault(t["pred"], set()).add(t["subj"])
    use = {r["prop"]: r["use_cnt"] for r in props_rows}
    rows = []
    for pred in sorted(per_pred):
        n = len(per_pred[pred])
        u = use.get(pred)
        rows.append(
            {
                "pred": pred,
                "n": n,
                "layout": "bitmap" if (u if u is not None else n) >= hot_threshold else "list",
            }
        )
    return rows, pa.schema([("pred", pa.string()), ("n", pa.int64()), ("layout", pa.string())])


def _g_heading_words(tokens: list[str]) -> list[str]:
    """Naive re-derivation of Text.pm:53-95 (heading tokens -> plain
    words, ``{{macro|...}}`` groups skipped) with string ops only — shares
    no code with operators/wikitext.py, so kg14 agreement is a real check.

    Spec (Text.pm:60-90): a token opening with ``{{`` (optionally paren-
    wrapped) starts a macro group; if ``}}`` appears later in the same
    token (>=1 char after the open) the group is that one token, else the
    group runs until a token whose tail — after an optional trailing ','
    then optional ')' — ends with ``}}`` (>=1 char before it)."""
    words: list[str] = []
    k, n = 0, len(tokens)
    while k < n:
        t = tokens[k]
        k += 1
        core = t[1:] if t.startswith("(") else t
        if core.startswith("{{"):
            inner = core[2:]
            if inner.find("}}", 1) >= 0:
                continue  # one-token group
            if inner:  # group spans tokens until a closing token
                while k < n:
                    t2 = tokens[k]
                    k += 1
                    c2 = t2[:-1] if t2.endswith(",") else t2
                    c2 = c2[:-1] if c2.endswith(")") else c2
                    if len(c2) > 2 and c2.endswith("}}"):
                        break
                continue
            # bare '{{' with nothing after: not a macro open -> word
        words.append(t)
    return words


def _t_wikitext(c: _Corpus):
    """Text.pm:6-108 over the corpus, naively: empty text -> one 'empty'
    row (Text.pm:12); heading lines start with '=' (Text.pm:21), split on
    whitespace; first token must equal last token else a 'heading
    mismatch' error is recorded and the line skipped (Text.pm:24-32);
    heading level = open-token length; one output row per good heading
    (plus one null-heading row for heading-less docs).  ~10% of fixture
    pages carry headings incl. macros and one mismatch variant
    (datagen.heading_lines), so this exercises the real parser paths."""
    rows = []
    for i, url, text, diag, j in c.pages:
        lines = text.split("\n") if text else []
        doc_type = "empty" if not lines else "unknown"
        errors: list[str] = []
        headings: list[tuple[int, list[str]]] = []
        for ln in lines:
            if not ln.startswith("="):
                continue
            tokens = ln.split()
            if not tokens:
                continue
            hl_o = tokens[0]
            hl_c = tokens[-1] if len(tokens) > 1 else ""
            if hl_o != hl_c:
                errors.append(
                    f"heading mismatch: [{ln}] hl_o=[{hl_o}] hl_c=[{hl_c}]"
                )
                continue
            headings.append((len(hl_o), _g_heading_words(tokens[1:-1])))
        base = {
            "url": url,
            "doc_type": doc_type,
            "n_errors": len(errors),
            "errors": json.dumps(errors, separators=(",", ":")),
        }
        if headings:
            for level, words in headings:
                rows.append(
                    {
                        **base,
                        "heading_level": level,
                        "heading_words": json.dumps(words, separators=(",", ":")),
                    }
                )
        else:
            rows.append({**base, "heading_level": None, "heading_words": None})
    return rows, pa.schema(
        [
            ("url", pa.string()), ("doc_type", pa.string()), ("n_errors", pa.int64()),
            ("errors", pa.string()), ("heading_level", pa.int64()),
            ("heading_words", pa.string()),
        ]
    )


# ---------------------------------------------------------------------------
# hash-seeded dedup/LSH oracles over the driver test tables (sf0.01):
# possible because xxh64.py reproduces Spark's xxhash64 bit-for-bit.
# ---------------------------------------------------------------------------

SF_DIR = "/root/testdata/sf0.01"
_WS = re.compile(r"\s+", re.ASCII)  # Java \s is ASCII-only


def _read_docs():
    t = pq.read_table(os.path.join(SF_DIR, "documents.parquet"), columns=["doc_id", "text"])
    return list(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))


def _norm_tokens(text: str) -> list[str]:
    return _WS.sub(" ", text.lower()).strip(" ").split(" ")


def _doc_shingles(text: str, k: int = 3) -> list[str]:
    toks = _norm_tokens(text)
    n = len(toks)
    out = {" ".join(toks[i : i + k]) for i in range(0, max(n - k, 0) + 1)}
    return [s for s in out if s]


def _minhash_pairs_core(docs, num_hashes=64, bands=16, threshold=0.5,
                        max_bucket=200):
    """dedup.minhash_lsh_pairs re-derived over an explicit (id, text)
    list — shared by the kg8 fixture (full corpus, threshold 0.5) and
    the curation-chain fixture (survivor subset, threshold 0.7)."""
    from .xxh64 import spark_xxhash64, to_signed, xxh64_int

    r = num_hashes // bands
    sigs: dict[int, list[int]] = {}
    for doc_id, text in docs:
        sh = _doc_shingles(text)
        if not sh:
            continue
        hashes = [spark_xxhash64(s) for s in sh]  # base hash per shingle
        # per-seed min: chained hash equals xxh64_int(seed, xxh64(shingle))
        sigs[doc_id] = [
            min(to_signed(xxh64_int(seed, h & ((1 << 64) - 1))) for h in hashes)
            for seed in range(num_hashes)
        ]
    buckets: dict[tuple, list[int]] = {}
    for doc_id, sig in sigs.items():
        for b in range(bands):
            key = "_".join(str(x) for x in sig[b * r : (b + 1) * r])
            buckets.setdefault((b, spark_xxhash64(key)), []).append(doc_id)
    pairs = set()
    for members in buckets.values():
        if len(members) > max_bucket:
            continue
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                pairs.add((ms[i], ms[j]))
    rows = []
    for a, b in sorted(pairs):
        est = sum(x == y for x, y in zip(sigs[a], sigs[b])) / num_hashes
        if est >= threshold:
            rows.append({"id_a": a, "id_b": b, "est_jaccard": est})
    return rows


def _t_minhash_pairs(num_hashes=64, bands=16, threshold=0.5, max_bucket=200):
    """dedup.minhash_lsh_pairs re-derived (kg8 defaults)."""
    rows = _minhash_pairs_core(
        _read_docs(), num_hashes, bands, threshold, max_bucket
    )
    return rows, pa.schema(
        [("id_a", pa.int64()), ("id_b", pa.int64()), ("est_jaccard", pa.float64())]
    )


def _t_simhash_pairs(max_hamming=8, bands=4, max_bucket=500):
    """dedup.simhash_near_pairs re-derived (kg9 defaults)."""
    from .xxh64 import spark_xxhash64

    width = 64 // bands
    hashes: dict[int, int] = {}
    for doc_id, text in _read_docs():
        toks = [t for t in _norm_tokens(text) if t]
        if not toks:
            continue
        votes = [0] * 64
        for t in toks:  # every occurrence votes (no distinct)
            th = spark_xxhash64(t)
            for b in range(64):
                votes[b] += 1 if (th >> b) & 1 else -1
        h = 0
        for b in range(63):
            if votes[b] > 0:
                h += 1 << b
        if votes[63] > 0:
            h += -(1 << 63)
        hashes[doc_id] = h
    buckets: dict[tuple, list[int]] = {}
    for doc_id, h in hashes.items():
        u = h & ((1 << 64) - 1)
        for i in range(bands):
            key = (u >> (i * width)) & ((1 << width) - 1)
            buckets.setdefault((i, key), []).append(doc_id)
    pairs = set()
    for members in buckets.values():
        if len(members) > max_bucket:
            continue
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                pairs.add((ms[i], ms[j]))
    rows = []
    for a, b in sorted(pairs):
        ham = bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1")
        if ham <= max_hamming:
            rows.append({"id_a": a, "id_b": b, "hamming": ham})
    return rows, pa.schema(
        [("id_a", pa.int64()), ("id_b", pa.int64()), ("hamming", pa.int64())]
    )


def _g_hyperplane(dim: int, bit: int, table: int) -> list[float]:
    """The hyperplane formula IS the spec (shared between engine and
    oracle by definition, like a hash seed): coordinate d of plane
    (table, bit) = blake2b-8("{table}:{bit}:{d}") as unsigned big-endian,
    scaled to [-1, 1) by /2^63 - 1.  Re-derived here inline so golden.py
    imports zero engine code; bucketing and re-ranking below are
    independently implemented."""
    import hashlib

    return [
        (
            int.from_bytes(
                hashlib.blake2b(f"{table}:{bit}:{d}".encode(), digest_size=8).digest(),
                "big",
            )
            / 2**63
        )
        - 1.0
        for d in range(dim)
    ]


def _t_lsh_topk(k=5, dim=64, n_bits=4, n_tables=8, n_queries=10):
    """similarity.lsh_topk re-derived (kg10 params).  Dot products and
    cosines are left-to-right double folds — bit-identical to the JVM's
    sequential aggregate."""
    import math

    t = pq.read_table(os.path.join(SF_DIR, "embeddings.parquet"), columns=["vec_id", "embedding"])
    vecs = {
        vid: [float(x) for x in emb]
        for vid, emb in zip(t.column("vec_id").to_pylist(), t.column("embedding").to_pylist())
    }

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s = s + x * y
        return s

    norms = {vid: math.sqrt(dot(v, v)) for vid, v in vecs.items()}
    queries = {vid: v for vid, v in vecs.items() if vid < n_queries}
    cand: dict[int, set] = {q: set() for q in queries}
    for tbl in range(n_tables):
        planes = [_g_hyperplane(dim, b, tbl) for b in range(n_bits)]

        def sig(v):
            s = 0
            for i, p in enumerate(planes):
                if dot(v, p) >= 0:
                    s += 1 << i
            return s

        buckets: dict[int, list[int]] = {}
        for vid, v in vecs.items():
            buckets.setdefault(sig(v), []).append(vid)
        for q, qv in queries.items():
            for vid in buckets.get(sig(qv), []):
                if vid != q:
                    cand[q].add(vid)
    rows = []
    for q, nbrs in cand.items():
        scored = [
            (dot(queries[q], vecs[v]) / (norms[q] * norms[v]), v) for v in nbrs
        ]
        scored.sort(key=lambda t: (-t[0], t[1]))
        for rank, (cos, v) in enumerate(scored[:k], start=1):
            rows.append({"query_id": q, "neighbor_id": v, "rank": rank})
    return rows, pa.schema(
        [("query_id", pa.int64()), ("neighbor_id", pa.int64()), ("rank", pa.int64())]
    )


def _t_rolling_fp():
    """textstats.rolling_fingerprint re-derived: the 64-bit state rolls
    through the token stream as acc = xxhash64(token, acc)."""
    from .xxh64 import spark_xxhash64

    rows = []
    for doc_id, text in _read_docs():
        toks = [t for t in _norm_tokens(text) if t]
        acc = 0
        for t in toks:
            acc = spark_xxhash64(t, ("long", acc))
        rows.append({"doc_id": doc_id, "fp_rolling": acc})
    return rows, pa.schema([("doc_id", pa.int64()), ("fp_rolling", pa.int64())])


def _t_image_features(n: int = 200):
    """multimodal.py plumbing oracle: the synthetic media table and the
    deterministic stub decode re-derived as a naive loop (the stub's
    blake2b formula IS the spec; what this checks end-to-end is the
    Arrow batching, image-kind filtering, null handling, and the row-
    level error channel)."""
    import hashlib

    rows = []
    for i in range(n):
        if i % 3 != 0:  # kind != image
            continue
        payload = None if i % 17 == 9 else (f"media-{i}-".encode() * (1 + i % 7))
        b = payload or b""
        row = {"media_id": i, "n_bytes": len(b)}
        if not b:
            row.update(width=None, height=None, phash=None,
                       decode_error="empty payload (real decoder would raise too)")
        else:
            h = hashlib.blake2b(b, digest_size=16).digest()
            row.update(
                width=64 + h[0] % 192,
                height=64 + h[1] % 192,
                phash=int.from_bytes(h[2:10], "big", signed=True),
                decode_error=None,
            )
        rows.append(row)
    return rows, pa.schema(
        [
            ("media_id", pa.int64()), ("width", pa.int64()), ("height", pa.int64()),
            ("n_bytes", pa.int64()), ("phash", pa.int64()), ("decode_error", pa.string()),
        ]
    )


def _t_filter_export(c: _Corpus, pred: str = "P31",
                     show_langs: tuple = ("en", "de", "fr", "it")):
    """wdq2.pl --filter export: id, per-lang labels, lastrevid, all snak
    values space-joined in statement order (wdq2.pl:479, 42)."""
    tr = 1 if FILTER_BANK.get(pred, ("", 0))[1] == 1 else 0
    rows = []
    for i, url, text, j in c.items():
        snaks = _safe_get(j, "claims", pred)
        if not isinstance(snaks, list):
            continue
        vals = []
        for snak in snaks:
            ms = snak.get("mainsnak") if isinstance(snak, dict) else None
            st = ms.get("snaktype") if isinstance(ms, dict) else None
            if st == "value":
                vals.append(_extract(_safe_get(ms, "datavalue", "value"), tr))
            else:
                vals.append(st)
        row = {"id": j["id"], "lastrevid": j.get("lastrevid"),
               "values": " ".join("" if v is None else v for v in vals)}
        for lg in show_langs:
            row[lg] = _safe_get(j.get("labels") or {}, lg, "value")
        rows.append(row)
    fields = [("id", pa.string())] + [(lg, pa.string()) for lg in show_langs] + [
        ("lastrevid", pa.int64()), ("values", pa.string())
    ]
    return rows, pa.schema(fields)


def _t_ns_usage(c: _Corpus):
    """wkt1.pl:176-180, 297-307: namespace catalog + per-page ns counts,
    re-derived with flat regexes over the page XML (independent of the
    engine's state machine)."""
    cat: dict[str, tuple] = {}
    counts: dict[str, int] = {}
    for i, url, text, diag, j in c.pages:
        xml = datagen.page_xml(i)
        for ns_id, ns_case, ns_name in re.findall(
            r'<namespace key="([-\d]+)" case="([^"]+)">([^<]*)</namespace>', xml
        ):
            cat[ns_id] = (ns_case, ns_name)
        m = re.search(r"<ns>([^<]+)</ns>", xml)
        if m:
            counts[m.group(1)] = counts.get(m.group(1), 0) + 1
    rows = [
        {
            "ns_id": ns,
            "n_pages": n,
            "ns_case": cat.get(ns, (None, None))[0],
            "ns_name": cat.get(ns, (None, None))[1],
        }
        for ns, n in sorted(counts.items())
    ]
    return rows, pa.schema(
        [
            ("ns_id", pa.string()), ("n_pages", pa.int64()),
            ("ns_case", pa.string()), ("ns_name", pa.string()),
        ]
    )


def _t_labels(c: _Corpus):
    rows = _labels_rows(c)
    fields = [("id", pa.string()), ("P31", pa.string())] + [
        (f"label_{lg}", pa.string()) for lg in LANGS
    ]
    return rows, pa.schema(fields)


# ---------------------------------------------------------------------------
# build + ensure
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# round-5 curation / graph fixtures (driver slots c1, t4, d5, d6, pii1, x1,
# g2, cur1) — pure-Python re-derivations of the curation operators, sharing
# no code with the engine (operators/{curate,pii,decontam,dedup,skew,
# textstats,graph}.py, functions/urls.py); the synthetic input transforms
# (synth_url, pii_text, ...) are mirrored BY SPEC in queries_catalog.
# ---------------------------------------------------------------------------

from decimal import ROUND_HALF_UP, Decimal  # noqa: E402


def _read_docs_src():
    t = pq.read_table(
        os.path.join(SF_DIR, "documents.parquet"),
        columns=["doc_id", "text", "source"],
    )
    return list(
        zip(
            t.column("doc_id").to_pylist(),
            t.column("text").to_pylist(),
            t.column("source").to_pylist(),
        )
    )


def _round6(x: float) -> float:
    """Spark round(x, 6) for doubles: BigDecimal.valueOf(x) (the shortest
    round-trip decimal string, = Python repr) quantized HALF_UP."""
    return float(
        Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    )


def synth_url(doc_id: int) -> str:
    """Deterministic URL-spelling generator over doc_id; 13 variant groups
    exercising every canonical_url normalization (case, www, default and
    explicit ports, tracking params, fragments, trailing slashes) plus a
    malformed spelling.  Groups 0 and 1 spell the SAME document (url_dup
    fodder); group 7 is unparseable."""
    g = doc_id % 13
    cid = doc_id - 1 if g == 1 else doc_id
    host = f"src{cid % 20}.example.com"
    path = f"/p/{cid}"
    plain = f"https://{host}{path}"
    if g == 1:
        return f"HTTPS://WWW.{host}{path}/?utm_source=x&gclid=1#frag"
    if g == 3:
        return f"https://{host}:8080{path}"
    if g == 4:
        return plain + "?b=2&a=1"
    if g == 5:
        return f"https://{host}:443{path}"
    if g == 7:
        return f"not a url {doc_id}"
    return plain


_TRACKING_RE = re.compile(r"^(utm_[a-z]+|gclid|fbclid|msclkid|ref|fbsrc)=")


def _url_parts(url: str):
    """(proto, authority, path, query) per java.net.URI semantics for the
    URL shapes synth_url emits; None when unparseable (try_parse_url ->
    NULL per component: spaces / missing scheme)."""
    if " " in url or "://" not in url:
        return None
    proto, rest = url.split("://", 1)
    rest = rest.split("#", 1)[0]
    if "?" in rest:
        rest, query = rest.split("?", 1)
    else:
        query = None
    i = rest.find("/")
    authority, path = (rest, "") if i < 0 else (rest[:i], rest[i:])
    return proto, authority, path, query


def _url_host(url: str) -> str:
    """try_parse_url(url, HOST) coalesced to '' — case-preserved, port
    stripped (skew.domain_quota_sample's domain key)."""
    parts = _url_parts(url)
    if parts is None:
        return ""
    _, authority, _, _ = parts
    m = re.search(r":(\d+)$", authority)
    return authority[: m.start()] if m else authority


def _canon_url(url: str):
    """functions/urls.canonical_url re-derived (strip_www=True)."""
    parts = _url_parts(url)
    if parts is None:
        return None
    proto, authority, path, query = parts
    proto = proto.lower()
    m = re.search(r":(\d+)$", authority)
    port = m.group(1) if m else ""
    host = (authority[: m.start()] if m else authority).lower()
    host = re.sub(r"^www\.", "", host, count=1)
    keep_port = port != "" and not (
        (proto == "http" and port == "80")
        or (proto == "https" and port == "443")
    )
    if not path:
        path = "/"
    path = re.sub(r"(.)/$", r"\1", path)
    params = [
        p for p in (query or "").split("&") if p and not _TRACKING_RE.search(p)
    ]
    qnorm = "&".join(sorted(params))
    return (
        proto
        + "://"
        + host
        + (f":{port}" if keep_port else "")
        + path
        + (f"?{qnorm}" if qnorm else "")
    )


def _url_key(url: str) -> int:
    """with_canonical_url's dedup key: xxhash64 of the canonical spelling,
    falling back to the raw url for unparseable spellings."""
    from .xxh64 import spark_xxhash64

    c = _canon_url(url)
    return spark_xxhash64(c if c is not None else url)


def _t_canonical_urls():
    rows = [
        {
            "doc_id": d,
            "canonical_url": _canon_url(synth_url(d)),
            "url_key": _url_key(synth_url(d)),
        }
        for d, _ in _read_docs()
    ]
    return rows, pa.schema(
        [
            ("doc_id", pa.int64()),
            ("canonical_url", pa.string()),
            ("url_key", pa.int64()),
        ]
    )


def _t_domain_quota(cap=10, seed=0):
    """skew.domain_quota_sample exact path re-derived: per domain, keep
    the ``cap`` rows lowest in (xxhash64(url, seed), url) order."""
    from .xxh64 import spark_xxhash64

    by_dom: dict[str, list] = {}
    for d, _ in _read_docs():
        url = synth_url(d)
        pri = spark_xxhash64(url, ("int", seed))
        by_dom.setdefault(_url_host(url), []).append((pri, url, d))
    rows = []
    for dom, lst in by_dom.items():
        for _pri, _url, d in sorted(lst)[:cap]:
            rows.append({"doc_id": d, "domain": dom})
    rows.sort(key=lambda r: r["doc_id"])
    return rows, pa.schema([("doc_id", pa.int64()), ("domain", pa.string())])


# PII pattern SPEC re-declared literally (operators/pii.py documents the
# Java/Python-common regex subset; identical strings, independent engine)
_PII = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (
        "ipv4",
        r"(?<![\d.])(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}"
        r"(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])(?![\d.])",
        "<IP>",
    ),
    ("ssn", r"(?<![\d-])\d{3}-\d{2}-\d{4}(?![\d-])", "<SSN>"),
    (
        "credit_card",
        r"(?<![\d-])\d{4}[ -]?\d{4}[ -]?\d{4}[ -]?\d{4}(?![\d-])",
        "<CARD>",
    ),
    (
        "phone",
        r"(?<![\d-])(?:\+?1[ .-]?)?\(?\d{3}\)?[ .-]?\d{3}[ .-]?\d{4}(?![\d-])",
        "<PHONE>",
    ),
]


def pii_text(doc_id: int, text: str) -> str:
    """Deterministic PII injection (mirrored by spec in queries_catalog):
    one typed PII token per doc by doc_id % 6 (group 5: none), plus a
    second email for doc_id % 12 == 0."""
    g = doc_id % 6
    if g == 0:
        text += f" contact bob{doc_id}@example.com"
    elif g == 1:
        text += f" server 10.{doc_id % 200}.0.{doc_id % 250}"
    elif g == 2:
        text += f" ssn 123-45-{doc_id % 10000:04d}"
    elif g == 3:
        text += f" card 4111-1111-1111-{doc_id % 10000:04d}"
    elif g == 4:
        text += f" call (555) 867-{doc_id % 10000:04d}"
    if doc_id % 12 == 0:
        text += " and alice@test.org"
    return text


def _t_pii_counts():
    """operators/pii.pii_counts re-derived: counts on the progressively
    redacted text, fixed pattern order."""
    rows = []
    for d, text in _read_docs():
        t = pii_text(d, text)
        row = {"doc_id": d}
        total = 0
        for name, pat, repl in _PII:
            c = len(re.findall(pat, t))
            row[f"pii_{name}_count"] = c
            total += c
            t = re.sub(pat, repl, t)
        row["pii_total_count"] = total
        rows.append(row)
    schema = pa.schema(
        [("doc_id", pa.int64())]
        + [(f"pii_{n}_count", pa.int64()) for n, _, _ in _PII]
        + [("pii_total_count", pa.int64())]
    )
    return rows, schema


def repetition_text(text: str) -> str:
    """Deterministic multi-line/para rewrite (mirrored by spec in
    queries_catalog): ' table ' -> blank line, ' value ' -> newline."""
    return text.replace(" table ", "\n\n").replace(" value ", "\n")


def _rep_metrics(text: str, max_tokens: int = 2000):
    """textstats.repetition_features re-derived naively (Counter math);
    raw doubles — the divisions are single int/int ops, bit-identical to
    the JVM's."""
    from collections import Counter

    lines = [x for x in (ln.strip() for ln in text.split("\n")) if x]
    paras = [x for x in (p.strip() for p in re.split(r"\n\n+", text)) if x]
    toks = [w for w in _WS.split(text.lower()) if w][:max_tokens]
    bigrams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    def dup_frac(arr):
        return (len(arr) - len(set(arr))) / len(arr) if arr else 0.0

    def dup_char_frac(arr):
        c = Counter(arr)
        tot = sum(len(x) for x in arr)
        dup = sum(len(x) for x in arr if c[x] > 1)
        return dup / tot if tot else 0.0

    top = (max(Counter(bigrams).values()) / len(bigrams)) if bigrams else 0.0
    return {
        "dup_line_frac": dup_frac(lines),
        "dup_line_char_frac": dup_char_frac(lines),
        "dup_para_frac": dup_frac(paras),
        "top_bigram_frac": top,
    }


def _t_repetition():
    """The exported columns are Spark round(x, 6) like the engine's
    (textstats.repetition_features rounds every metric); the raw doubles
    stay available via _rep_metrics for the curation-chain thresholds."""
    rows = [
        {
            "doc_id": d,
            **{
                k: _round6(v)
                for k, v in _rep_metrics(repetition_text(text)).items()
            },
        }
        for d, text in _read_docs()
    ]
    return rows, pa.schema(
        [("doc_id", pa.int64())]
        + [
            (c, pa.float64())
            for c in (
                "dup_line_frac",
                "dup_line_char_frac",
                "dup_para_frac",
                "top_bigram_frac",
            )
        ]
    )


def para_text(doc_id: int, text: str, source: str) -> str:
    """Deterministic boilerplate framing (mirrored by spec in
    queries_catalog): per-source header para (always duplicated), a
    global newsletter para for doc_id % 9 == 0, and a short 'Intro' para
    under the min_para_chars exemption."""
    extra = (
        "\n\nsubscribe to our newsletter today please"
        if doc_id % 9 == 0
        else ""
    )
    return (
        f"shared navigation header menu for {source}\n\n{text}{extra}\n\nIntro"
    )


def _norm_ws(s: str) -> str:
    return _WS.sub(" ", s.lower()).strip(" ")


def _t_para_dedup(min_count=2, min_para_chars=20):
    """dedup.paragraph_dedup (drop_frequent) re-derived: normalized-para
    frequency over the corpus; paras with count >= min_count removed
    everywhere, short paras exempt, doc rebuilt as kept paras joined by
    the canonical separator."""
    from collections import Counter

    docs = []
    for d, text, src in _read_docs_src():
        t = para_text(d, text, src)
        paras = [x for x in (p.strip() for p in re.split(r"\n{2,}", t)) if x]
        docs.append((d, paras))
    freq = Counter(
        _norm_ws(p)
        for _, paras in docs
        for p in paras
        if len(p) >= min_para_chars
    )
    rows = []
    for d, paras in docs:
        kept, removed = [], 0
        for p in paras:
            if len(p) >= min_para_chars and freq[_norm_ws(p)] >= min_count:
                removed += 1
            else:
                kept.append(p)
        rows.append(
            {
                "doc_id": d,
                "text_para_dedup": "\n\n".join(kept),
                "n_paras_removed": removed,
            }
        )
    return rows, pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text_para_dedup", pa.string()),
            ("n_paras_removed", pa.int64()),
        ]
    )


LEAK_SENTENCE = (
    "the quick brown fox jumps over the lazy dog again and again tonight"
)


def decontam_text(doc_id: int, text: str) -> str:
    """Deterministic leak injection (mirrored by spec in queries_catalog):
    docs with doc_id % 10 == 3 carry the 13-token benchmark sentence."""
    return text + " " + LEAK_SENTENCE if doc_id % 10 == 3 else text


def _decontam_tokens(text: str) -> list[str]:
    cleaned = re.sub(r"[^a-z0-9\s]", " ", text.lower(), flags=re.ASCII)
    return [t for t in _WS.split(cleaned) if t]


def _t_decontam(n=13, bench_mod=17):
    """decontam.contamination_counts re-derived on gram STRINGS (the
    engine joins on xxhash64 of the same strings — equivalent modulo
    64-bit collisions, an independent check of the hash path)."""
    docs = _read_docs()
    bench_texts = [t for d, t in docs if d % bench_mod == 0] + [LEAK_SENTENCE]
    bench_grams = set()
    for t in bench_texts:
        toks = _decontam_tokens(t)
        for i in range(len(toks) - n + 1):
            bench_grams.add(" ".join(toks[i : i + n]))
    rows = []
    for d, text in docs:
        toks = _decontam_tokens(decontam_text(d, text))
        c = sum(
            1
            for i in range(len(toks) - n + 1)
            if " ".join(toks[i : i + n]) in bench_grams
        )
        if c:
            rows.append({"doc_id": d, "contaminated_grams": c})
    return rows, pa.schema(
        [("doc_id", pa.int64()), ("contaminated_grams", pa.int64())]
    )


def _t_khop(triples_rows, k=3):
    """graph.k_hop_subgraph re-derived as a plain BFS, directed, hop 1 =
    the seeds' own triples.  Seed rule (mirrored in queries_catalog g2):
    the 5 lexicographically-smallest ^Q\\d+$ subjects having at least one
    object that is itself a subject — guarantees the hop loop actually
    expands (the plain min-Q seed's neighborhood happens to dead-end at
    hop 1 on this corpus)."""
    ent = re.compile(r"^[QL]\d+$")
    schema = pa.schema(
        [("subj", pa.string()), ("pred", pa.string()), ("obj", pa.string())]
    )
    subjects = {r["subj"] for r in triples_rows}
    qsubs = {
        r["subj"]
        for r in triples_rows
        if re.match(r"^Q\d+$", r["subj"]) and r["obj"] in subjects
    }
    if not qsubs:
        return [], schema
    seeds = sorted(qsubs)[:5]
    by_subj: dict[str, list] = {}
    for r in triples_rows:
        if ent.match(r["subj"]):
            by_subj.setdefault(r["subj"], []).append(r)
    frontier = set(seeds)
    visited = set(frontier)
    sub = set()
    for _hop in range(k):
        if not frontier:
            break
        hop = [t for s in frontier for t in by_subj.get(s, [])]
        sub |= {(t["subj"], t["pred"], t["obj"]) for t in hop}
        ends = {t["obj"] for t in hop if ent.match(t["obj"])}
        frontier = ends - visited
        visited |= frontier
    rows = [{"subj": s, "pred": p, "obj": o} for s, p, o in sorted(sub)]
    return rows, schema


# stopword SPEC re-declared literally (textstats.LANG_PROFILES)
_STOPWORDS = {
    w
    for ws in (
        ["the", "and", "of", "to", "is"],
        ["der", "die", "und", "ist", "das"],
        ["le", "la", "et", "est", "les"],
        ["el", "la", "los", "es", "de"],
    )
    for w in ws
}


def _quality6(text: str) -> float:
    """textstats.quality_score re-derived: same blend, same evaluation
    order (left-assoc adds, min-capped terms), rounded at 6."""
    collapsed = _WS.sub(" ", text).strip(" ")
    n_tokens = 0 if not collapsed else collapsed.count(" ") + 1
    n_chars = len(text)
    punct = n_chars - len(re.sub(r"[^\w\s]", "", text, flags=re.ASCII))
    digits = n_chars - len(re.sub(r"[0-9]", "", text))
    stop = sum(1 for w in _WS.split(text.lower()) if w in _STOPWORDS)
    punct_ratio = punct / n_chars if n_chars else 0.0
    digit_ratio = digits / n_chars if n_chars else 0.0
    stop_ratio = stop / n_tokens if n_tokens else 0.0
    score = (
        min(n_tokens / 100.0, 1.0) * 0.4
        + (1 - min(punct_ratio * 5, 1.0)) * 0.2
        + min(stop_ratio * 4, 1.0) * 0.3
        + (1 - min(digit_ratio * 5, 1.0)) * 0.1
    )
    return _round6(score)


def _t_curation_flags(
    quality_min=0.2,
    min_chars=20,
    max_dup_line_frac=0.30,
    max_top_bigram_frac=0.18,
    minhash_threshold=0.7,
    domain_cap=12,
):
    """operators/curate.curate_documents re-derived end-to-end: the full
    first-failing-filter chain (url_dup -> exact_dup -> quality ->
    repetition -> near_dup -> domain_quota) over the synthetic URLs."""
    from collections import Counter

    from .xxh64 import spark_xxhash64

    docs = [(d, t, synth_url(d)) for d, t in _read_docs()]
    # keeper = min doc_id per canonical-url key / per normalized text
    by_key: dict[int, list[int]] = {}
    by_txt: dict[str, list[int]] = {}
    for d, t, url in docs:
        by_key.setdefault(_url_key(url), []).append(d)
        by_txt.setdefault(_norm_ws(t), []).append(d)
    url_dup = {d for ids in by_key.values() for d in sorted(ids)[1:]}
    exact_dup = {d for ids in by_txt.values() for d in sorted(ids)[1:]}
    reason: dict[int, str | None] = {}
    for d, t, _url in docs:
        rep = _rep_metrics(t)
        if d in url_dup:
            reason[d] = "url_dup"
        elif d in exact_dup:
            reason[d] = "exact_dup"
        elif len(t.strip(" ")) < min_chars or _quality6(t) < quality_min:
            reason[d] = "quality"
        elif (
            _round6(rep["dup_line_frac"]) > max_dup_line_frac
            or _round6(rep["top_bigram_frac"]) > max_top_bigram_frac
        ):
            reason[d] = "repetition"
        else:
            reason[d] = None
    surv = [(d, t) for d, t, _ in docs if reason[d] is None]
    pairs = _minhash_pairs_core(surv, threshold=minhash_threshold)
    for p in pairs:
        if reason[p["id_b"]] is None:
            reason[p["id_b"]] = "near_dup"
    surv2 = [(d, url) for d, _, url in docs if reason[d] is None]
    dom_of = {d: _url_host(url) for d, url in surv2}
    n_by_dom = Counter(dom_of.values())
    for d, url in surv2:
        nd = n_by_dom[dom_of[d]]
        if nd <= domain_cap:
            continue
        u01 = (spark_xxhash64(url, ("int", 0)) & 0xFFFFFFFF) / float(1 << 32)
        if not (u01 < domain_cap / float(nd)):
            reason[d] = "domain_quota"
    rows = [
        {"doc_id": d, "drop_reason": reason[d] or "kept"} for d, _, _ in docs
    ]
    return rows, pa.schema(
        [("doc_id", pa.int64()), ("drop_reason", pa.string())]
    )


def _write(path: str, rows: list[dict], schema: pa.Schema):
    cols = {f.name: [r.get(f.name) for r in rows] for f in schema}
    table = pa.Table.from_pydict(cols, schema=schema)
    pq.write_table(table, path)


def build_golden(n: int = ORACLE_N, root: str | None = None) -> str:
    out = root or golden_dir(n)
    os.makedirs(out, exist_ok=True)
    c = _Corpus(n)
    triples_rows, triples_schema = _t_triples(c)
    props_rows, props_schema = _t_props(c)
    tables = {
        "pages_text": _t_pages_text(c),
        "triples": (triples_rows, triples_schema),
        "items": _t_items(c),
        "props": (props_rows, props_schema),
        "labels": _t_labels(c),
        "person": _t_person(c),
        "geonames_gnd": _t_geonames(c, triples_rows),
        "linked_mentions": _t_linked(c),
        "components": _t_components(triples_rows),
        "snak_values_P31": _t_snak_values(c, "P31"),
        "doi_report": _t_doi_report(triples_rows),
        "inverted_index": _t_inverted_index(triples_rows, props_rows),
        "wikitext": _t_wikitext(c),
        "ns_usage": _t_ns_usage(c),
        "filter_export_P31": _t_filter_export(c, "P31"),
        "image_features": _t_image_features(200),
        "minhash_pairs": _t_minhash_pairs(),
        "simhash_pairs": _t_simhash_pairs(),
        "lsh_topk": _t_lsh_topk(),
        "rolling_fp": _t_rolling_fp(),
        # round-5 curation / graph fixtures
        "canonical_urls": _t_canonical_urls(),
        "domain_quota": _t_domain_quota(),
        "pii_counts": _t_pii_counts(),
        "repetition": _t_repetition(),
        "para_dedup": _t_para_dedup(),
        "decontam": _t_decontam(),
        "khop_subgraph": _t_khop(triples_rows),
        "curation_flags": _t_curation_flags(),
    }
    for name, (rows, schema) in tables.items():
        _write(os.path.join(out, f"{name}.parquet"), rows, schema)
    with open(os.path.join(out, "_meta.json"), "w") as f:
        json.dump({"n": n, "version": VERSION, "tables": sorted(tables)}, f)
    return out


def ensure_golden(n: int = ORACLE_N) -> str:
    """Idempotent: (re)build only when absent or version-stale."""
    out = golden_dir(n)
    meta = os.path.join(out, "_meta.json")
    try:
        with open(meta) as f:
            m = json.load(f)
        if m.get("n") == n and m.get("version") == VERSION:
            return out
    except (OSError, ValueError):
        pass
    return build_golden(n)
