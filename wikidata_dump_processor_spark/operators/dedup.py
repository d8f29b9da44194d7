"""Deduplication operators for large-scale training-data pipelines.

All operate on a ``documents(doc_id, text, ...)`` table and return either a
per-doc cluster assignment or candidate duplicate pairs.  Everything except
the (documented) hash kernels is built-in DataFrame ops, so the plans are
shuffle-minimal:

* exact_dedup        — md5(groupBy) keep-min; one shuffle on the hash
* ngram_jaccard_pairs— shingle explode + self-join on shingle + pair agg
* minhash_lsh_pairs  — minhash signatures (xxhash64 under k seeds, JVM) ->
                       LSH band buckets -> join within bucket; candidates
                       optionally verified with exact Jaccard
* simhash_buckets    — 64-bit simhash via bit-vote aggregation (JVM),
                       Hamming-ball candidate pairing via band rotation
* embedding_dups     — cosine-near neighbors over embeddings (see
                       similarity.py) above a threshold

Skew note: stop-shingles (shingles appearing in a large fraction of docs)
explode candidate pairs quadratically; ``ngram_jaccard_pairs`` and
``minhash_lsh_pairs`` cap bucket width (``max_bucket``) — the same
head-key discipline as the reference's hot-predicate switch
(cntprops.pl:16, 68-77).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def normalize_text(col):
    """Canonical text for hashing: lowercase, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: one keeper (min id) per normalized text.
    Returns (hash, keeper_id, n_dups)."""
    h = F.md5(normalize_text(F.col(text_col)))
    return (
        docs.select(F.col(id_col), h.alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def _tokens(text_col: str):
    return F.split(normalize_text(F.col(text_col)), " ")


def word_shingles(docs: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, shingle) — k-word shingles, distinct per doc.

    Tokenizes ONCE per document: the token array is staged through its
    own projection before the shingle ``transform``/``slice`` reference
    it — a tokenizer subtree INSIDE the lambda body would re-run
    split+regexp per shingle window (O(tokens × text) per doc; measured
    ~7× of the whole LSH pass at 200k docs).  Same discipline as
    decontam's ``_gram_rows``; output values are identical."""
    staged = docs.select(
        F.col(id_col).alias("id"), _tokens(text_col).alias("_toks")
    )
    toks = F.col("_toks")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    sh = F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " "))
    return staged.select(
        "id", F.explode(F.array_distinct(sh)).alias("shingle")
    ).filter(F.length("shingle") > 0)


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    max_bucket: int = 200,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs: |A∩B| / |A∪B| >= threshold.

    Plan: shingle explode -> drop stop-shingles (> max_bucket docs; they
    only add already-covered pairs en masse) -> self-join on shingle ->
    count shared -> Jaccard via per-doc shingle counts. Pairs ordered
    id_a < id_b.
    """
    sh = word_shingles(docs, id_col, text_col, k).localCheckpoint(eager=False)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    sh_f = sh.join(freq.filter(F.col("df") <= max_bucket), "shingle", "left_semi")
    a = sh_f.select(F.col("id").alias("id_a"), "shingle")
    b = sh_f.select(F.col("id").alias("id_b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    out = (
        shared.join(sizes.withColumnsRenamed({"id": "id_a", "n_sh": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n_sh": "n_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def minhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 3, num_hashes: int = 64,
) -> DataFrame:
    """(id, sig: array<long>) — minhash over word shingles with
    ``num_hashes`` seeded xxhash64 functions (JVM, codegen'd)."""
    sh = word_shingles(docs, id_col, text_col, k)
    aggs = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(seed))).alias(f"h{seed}")
        for seed in range(num_hashes)
    ]
    sig = sh.groupBy("id").agg(*aggs)
    return sig.select("id", F.array(*[f"h{s}" for s in range(num_hashes)]).alias("sig"))


def minhash_lsh_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 3, num_hashes: int = 64, bands: int = 16,
    threshold: float = 0.7, max_bucket: int = 200, verify: bool = True,
) -> DataFrame:
    """MinHash + LSH banding near-dup candidates.

    bands of r = num_hashes/bands rows each; docs sharing any band bucket
    become candidates; candidates verified with estimated Jaccard
    (signature agreement) >= threshold when ``verify``.
    """
    r = num_hashes // bands
    sig = minhash_signatures(
        docs, id_col, text_col, k, num_hashes
    ).localCheckpoint(eager=False)
    band = sig.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(F.array_join(F.slice("sig", b * r + 1, r), "_")),
            )
        ).alias("band", "bucket"),
    )
    width = band.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("w"))
    band = band.join(width.filter(F.col("w") <= max_bucket), ["band", "bucket"], "left_semi")
    pairs = (
        band.alias("x")
        .join(band.alias("y"), ["band", "bucket"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    if not verify:
        return pairs
    sa = sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "est_jaccard",
            F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda a, b: a == b), lambda x: x))
            / F.lit(num_hashes),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )
    return est


def wordset_similarity_join(
    docs: DataFrame,
    threshold: float = 0.9,
    id_col: str = "doc_id",
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """EXACT word-set Jaccard pairs (id_a < id_b, same ``group_col``,
    J >= ``threshold``) via a prefix-filtered set-similarity join — the
    AllPairs/PPJoin candidate scheme (Bayardo et al., WWW'07; Xiao et
    al., WWW'08) instead of the naive token self-join.

    The naive plan joins every (group, word) posting list with itself:
    cost sum_w f_w^2 — 2.2e9 rows on the 50k-doc bench corpus (657 s).
    Prefix filtering is lossless for a similarity threshold t: order
    tokens by a total order (document frequency asc, then token), and
    index only each doc's first ``n - ceil(t*n) + 1`` tokens.  Any
    pair with J >= t MUST share at least one prefix token, so joining
    prefixes generates a candidate superset; candidates are then
    verified with an exact intersection count and the SAME
    double-precision comparison the naive plan uses, so the output is
    identical row-for-row.

    Three lossless prunes on top:
      * size filter — J >= t implies min(n_a,n_b) >= t*max(n_a,n_b),
        applied inside the candidate join (integer arithmetic);
      * positional filter (PPJoin) — J >= t needs an absolute overlap
        of alpha = ceil(t/(1+t) * (n_a+n_b)); a candidate matched on
        prefix positions (p_a, p_b) can reach at most
        1 + min(n_a-p_a, n_b-p_b) shared tokens, so pairs below alpha
        are dropped before the dedup shuffle (measured: 56M -> 26M
        join rows on the sf1.0 bench corpus);
      * the prefix/size/overlap threshold is derived from
        ``threshold - 0.01`` so the float-vs-rational boundary of the
        final double compare can never lose a pair the verifier keeps.

    Verification (r7, guide §2.3 "shuffle metadata, not payloads"): each
    doc's word set is encoded as a BITMASK over per-group dense word ids
    (frequency-ascending order, so prefix tokens are exactly the low
    ids), the mask rides through the candidate join, and the exact
    ``n_shared = bit_count(mask_a & mask_b)`` evaluates INSIDE the join
    — no join-back to the word arrays, no string ``array_intersect``
    over every candidate, and the exact-Jaccard filter runs BEFORE the
    pair ``distinct`` so only true result pairs (plus their multi-token
    prefix duplicates) reach that shuffle.  Measured on the 50k-doc
    10x-sf0.1 corpus: 36.4 s -> 6.0 s with identical output (the
    randomized naive-vs-optimized pytest covers the prune boundaries).
    The per-GROUP total order is valid for the prefix-filter theorem
    because pairs only form within a group.

    Scale notes (100 TB): tokens shuffle once for the per-group word-id
    rank (narrow rows: id, group, n, word-id), prefixes are ~(1-t) of
    token volume, the candidate join's posting lists hold only
    RARE-token prefixes (frequency-ascending order sends stop-words to
    the suffixes nobody indexes), and the only whole-corpus-width state
    is the per-doc mask of ceil(max-group-vocabulary / 64) longs — for
    corpora whose PER-GROUP vocabularies are web-scale the mask chunks
    grow accordingly and a hashed-id variant would be the next step,
    but every step stays non-quadratic in a token's document frequency.
    """
    from pyspark.sql.window import Window

    # integer percent threshold with the 0.01 safety margin for the
    # prefix/size prunes (verification still uses `threshold` exactly)
    tp = int(round(threshold * 100)) - 1
    d = docs.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("grp"),
        F.array_distinct(F.split(F.lower(F.col(text_col)), " ")).alias("ws"),
    ).withColumn("n", F.size("ws"))
    tok = d.select("id", "grp", "n", F.explode("ws").alias("w"))
    # per-group document frequency + dense word id (df asc, then token —
    # any total order works per group; frequency-ascending keeps posting
    # lists of indexed prefixes short)
    vocab = tok.groupBy("grp", "w").agg(F.count(F.lit(1)).alias("df"))
    vocab = vocab.withColumn(
        "wid",
        F.row_number().over(Window.partitionBy("grp").orderBy("df", "w")) - 1,
    )
    # dimension-sized (per-group vocab); a lazy local checkpoint shared by
    # the width job below and the candidate plan, so tokens aggregate once
    # (and, unlike a cache, nothing outlives the call)
    vocab = vocab.localCheckpoint(eager=False)
    # bitmask width = max per-group vocabulary (ONE dimension-sized job)
    max_v = vocab.agg(F.max("wid")).first()[0]
    n_chunks = (int(max_v) + 64) // 64 if max_v is not None else 1
    tokw = tok.join(vocab.select("grp", "w", "wid"), ["grp", "w"])
    win = Window.partitionBy("id").orderBy("wid")
    full = win.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    mask_cols = [
        F.bit_or(
            F.when(
                (F.col("wid") >= c * 64) & (F.col("wid") < (c + 1) * 64),
                F.expr(f"shiftleft(1L, int(wid - {c * 64}))"),
            ).otherwise(F.lit(0).cast("long"))
        ).over(full).alias(f"m{c}")
        for c in range(n_chunks)
    ]
    tokr = tokw.select(
        "id", "grp", "n", "wid",
        F.row_number().over(win).alias("rn"),
        *mask_cols,
    )
    # prefix length n - ceil(tp/100 * n) + 1, all-integer
    plen = F.col("n") - F.floor((F.col("n") * tp + 99) / 100).cast("int") + 1
    pref = tokr.filter(F.col("rn") <= plen)
    a = pref.select(
        F.col("id").alias("id_a"), "grp", "wid",
        F.col("n").alias("na"), F.col("rn").alias("ra"),
        *[F.col(f"m{c}").alias(f"ma{c}") for c in range(n_chunks)],
    )
    b = pref.select(
        F.col("id").alias("id_b"), "grp", "wid",
        F.col("n").alias("nb"), F.col("rn").alias("rb"),
        *[F.col(f"m{c}").alias(f"mb{c}") for c in range(n_chunks)],
    )
    # minimum absolute overlap alpha = ceil(tp/100/(1+tp/100)*(na+nb))
    # = ceil(tp*(na+nb) / (100+tp)), all-integer
    alpha = F.floor(
        (F.lit(tp) * (F.col("na") + F.col("nb")) + (100 + tp - 1)) / (100 + tp)
    ).cast("int")
    n_shared = sum(
        F.expr(f"bit_count(ma{c} & mb{c})") for c in range(n_chunks)
    )
    # A pair that shares k prefix tokens is generated k times by the join;
    # instead of a multi-million-row ``distinct`` at the end, keep ONLY
    # the instance joined on the pair's LOWEST shared word id (r7):
    # ``lower_common`` masks the shared tokens strictly below the joined
    # ``wid``, so exactly one instance per pair survives — the lowest
    # shared token is always in BOTH prefixes (prefixes are each doc's
    # lowest wids, and any shared token at or below a prefix member is a
    # prefix member too), and among instances it carries the smallest
    # (ra, rb), i.e. the LEAST restrictive positional filter, so the
    # kept instance passes the filters iff any instance does.  Every
    # duplicate is dropped by two long ANDs instead of a shuffle, and
    # the verify filters evaluate once per pair.
    lower_common = None
    for c in range(n_chunks):
        seg = F.col(f"ma{c}").bitwiseAND(F.col(f"mb{c}"))
        # k low bits as ~((-1) << k): well-defined for k in [0, 63] —
        # the naive (1 << k) - 1 overflows at k == 63 under ANSI mode
        part = (
            F.when(F.col("wid") >= (c + 1) * 64, seg)
            .when(
                F.col("wid") >= c * 64,
                seg.bitwiseAND(
                    F.expr(f"~ shiftleft(-1L, int(wid - {c * 64}))")
                ),
            )
            .otherwise(F.lit(0).cast("long"))
        )
        lower_common = part if lower_common is None else lower_common.bitwiseOR(part)
    return (
        a.join(b, ["grp", "wid"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (lower_common == 0)
            & (F.least("na", "nb") * 100 >= F.greatest("na", "nb") * tp)
            & (
                F.lit(1)
                + F.least(F.col("na") - F.col("ra"), F.col("nb") - F.col("rb"))
                >= alpha
            )
        )
        .withColumn("n_shared", n_shared)
        .filter(
            F.col("n_shared").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_shared"))
            >= threshold
        )
        .select("id_a", "id_b")
    )


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash: long) — 64-bit SimHash: per-token xxhash64, bit votes
    summed, sign -> bit.  Pure JVM: token explode + 64 conditional sums."""
    toks = docs.select(
        F.col(id_col).alias("id"), F.explode(_tokens(text_col)).alias("tok")
    ).filter(F.col("tok") != "")
    h = toks.withColumn("th", F.xxhash64("tok"))
    votes = h.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright("th", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(64)
        ]
    )
    expr = None
    for b in range(64):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(1 << b).cast("long") if b < 63 else F.when(
            F.col(f"b{b}") > 0, F.lit(-(1 << 63)).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        expr = term if expr is None else expr + term
    return votes.select("id", expr.alias("simhash"))


def simhash_near_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    max_hamming: int = 3, bands: int = 4, max_bucket: int = 500,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64 bits into ``bands`` 16-bit
    keys (pigeonhole: hamming<=bands-1 guarantees one identical band),
    join within band, verify Hamming distance <= max_hamming."""
    s = simhash(docs, id_col, text_col).localCheckpoint(eager=False)
    width = 64 // bands
    band = s.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned("simhash", i * width).bitwiseAND(F.lit((1 << width) - 1))
                for i in range(bands)
            ])
        ).alias("band", "key"),
    )
    w = band.groupBy("band", "key").agg(F.count(F.lit(1)).alias("w"))
    band = band.join(w.filter(F.col("w") <= max_bucket), ["band", "key"], "left_semi")
    pairs = (
        band.alias("x")
        .join(band.alias("y"), ["band", "key"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.col("x.simhash").alias("h_a"),
            F.col("y.simhash").alias("h_b"),
        )
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    return pairs


# ---------------------------------------------------------------------------
# paragraph-level dedup (corpus-wide boilerplate / repeated-span removal)
# ---------------------------------------------------------------------------

PARA_SPLIT = r"\n{2,}"


def _para_array(text_col: str):
    """array<string> of non-empty trimmed paragraphs (split on blank
    lines) — the SAME derivation is used for hashing and reassembly, so
    a rebuilt document is exactly its kept paragraphs joined by the
    canonical separator."""
    return F.filter(
        F.transform(F.split(F.col(text_col), PARA_SPLIT), lambda p: F.trim(p)),
        lambda p: p != "",
    )


def paragraph_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "drop_frequent",
    min_count: int = 2,
    min_para_chars: int = 20,
    out_col: str = "text_para_dedup",
) -> DataFrame:
    """Corpus-wide paragraph dedup (the CCNet/C4-style pass): rewrite
    each document with globally duplicated paragraphs removed, plus an
    ``n_paras_removed`` count.

    Two policies:

    * ``drop_frequent`` (default, the 100 TB path): a paragraph whose
      normalized form occurs >= ``min_count`` times in the corpus is
      removed EVERYWHERE (boilerplate removal).  Pure hash aggregate —
      partial (map-side) aggregation absorbs any mega-key, no sort, no
      window; the classic navbar-paragraph-in-10^9-docs key costs one
      combiner row per task.
    * ``keep_first`` (exact CCNet semantics): the first occurrence in
      (id, position) order survives, later ones are removed.  Needs a
      row_number window over the paragraph hash — a mega-key sorts its
      whole group in one task, so this mode is for moderate scale or
      post-``drop_frequent`` residues.

    Paragraphs shorter than ``min_para_chars`` are exempt (headings like
    'Introduction' would otherwise be mass-removed).

    Scale notes: only ``(id, idx, hash)`` triples ever shuffle — the
    text column stays in place; the final keep-mask join is on the
    bounded drop-list (docs that lose at least one paragraph), and the
    paragraph filter/reassembly is a JVM higher-order expression.
    """
    if mode not in ("drop_frequent", "keep_first"):
        raise ValueError(f"unknown mode: {mode}")
    from pyspark.sql.window import Window

    paras = docs.select(
        F.col(id_col), F.posexplode(_para_array(text_col)).alias("idx", "para")
    ).select(
        id_col,
        "idx",
        F.xxhash64(normalize_text(F.col("para"))).alias("h"),
        F.length("para").alias("n_chars"),
    )
    eligible = paras.filter(F.col("n_chars") >= min_para_chars)
    if mode == "drop_frequent":
        freq = (
            eligible.groupBy("h")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .filter(F.col("cnt") >= min_count)
        )
        drops = eligible.join(freq.select("h"), "h", "left_semi")
    else:
        w = Window.partitionBy("h").orderBy(id_col, "idx")
        drops = (
            eligible.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") > 1)
        )
    drop_idx = drops.groupBy(id_col).agg(
        F.sort_array(F.collect_list("idx")).alias("_drop_idxs")
    )
    rebuilt = docs.join(drop_idx, id_col, "left")
    kept = F.filter(
        _para_array(text_col),
        lambda p, i: ~F.array_contains(F.col("_drop_idxs"), i),
    )
    return (
        rebuilt.withColumn(
            out_col,
            F.when(F.col("_drop_idxs").isNull(), F.concat_ws("\n\n", _para_array(text_col)))
            .otherwise(F.concat_ws("\n\n", kept)),
        )
        .withColumn(
            "n_paras_removed",
            F.coalesce(F.size("_drop_idxs"), F.lit(0)),
        )
        .drop("_drop_idxs")
    )


# ---------------------------------------------------------------------------
# near-dup clustering (pairs -> components -> keeper pick)
# ---------------------------------------------------------------------------


def near_dup_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    **minhash_kw,
) -> DataFrame:
    """Transitive near-dup clustering: MinHash/LSH candidate pairs ->
    connected components -> one keeper per cluster.

    ``minhash_lsh_pairs`` alone answers "which pairs are similar"; a
    dedup POLICY needs the transitive closure (A~B, B~C => one cluster
    {A,B,C}, keep one).  Returns every input row + ``cluster_id`` (the
    minimum member id; singletons are their own cluster) +
    ``is_keeper`` (true for the minimum id of the cluster — the
    greedy-min policy the curation chain also uses).

    Scale notes (100 TB): the pair stage is the banded, bucket-capped
    LSH (never all-pairs); components run over MERGE EDGES only — edge
    count ~ #duplicate docs, not #docs, so the alternating-star loop
    (or its driver union-find small-regime) touches a sliver of the
    corpus.  Cluster assignment joins back on the bounded non-singleton
    id set (planner broadcasts while it fits); singleton docs never
    shuffle at all (left join + coalesce to own id).

    ``connected_components`` works on a string id domain (its own
    ordering), so ``cluster_id`` is re-derived as min(member id) in the
    ID COLUMN'S NATIVE ordering — numeric min for long ids (the
    documents table), lexicographic min for string ids (the pipeline's
    per-url curation), matching the ordering the pairwise policy uses.
    """
    from .canonicalize import connected_components

    id_type = docs.schema[id_col].dataType.simpleString()
    pairs = minhash_lsh_pairs(
        docs, id_col=id_col, text_col=text_col, threshold=threshold,
        **minhash_kw,
    )
    edges = pairs.select(
        F.col("id_a").cast("string").alias("src"),
        F.col("id_b").cast("string").alias("dst"),
    )
    comp = connected_components(edges).select(
        F.col("id").cast(id_type).alias(id_col), "component"
    )
    rep = comp.groupBy("component").agg(F.min(id_col).alias("cluster_id"))
    assign = comp.join(rep, "component").select(id_col, "cluster_id")
    out = docs.join(assign, id_col, "left")
    return out.withColumn(
        "cluster_id", F.coalesce("cluster_id", F.col(id_col))
    ).withColumn("is_keeper", F.col("cluster_id") == F.col(id_col))
