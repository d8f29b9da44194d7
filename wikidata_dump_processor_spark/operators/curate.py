"""Training-data curation as ONE composable filter chain with lineage.

The round-4 curation operators (URL canonicalization, exact dedup,
quality/repetition filters, MinHash near-dup detection, head-domain
quota sampling) existed as a library; this module chains them the way
the reference chains its post-scan stages in one DAG (wdq0.pl:188-220 —
each step consumes the previous step's output and the orchestrator
records what ran), producing a single flagged frame:

    every input row + ``_drop_reason`` (NULL = kept)

``_drop_reason`` is the FIRST failing filter in chain order, so the
audit (``curation_audit``) decomposes the corpus into disjoint buckets
whose counts sum to the input row count — per-filter lineage for the
manifest, exactly one small aggregate job.

Chain order (standard web-corpus curation order — cheap/narrow filters
before pair-generating ones, so the expensive near-dup stage sees only
survivors):

  1. url_dup       same ``canonical_url`` key, not the keeper (min id)
  2. exact_dup     same md5 of normalized text, not the keeper (min id)
  3. quality       heuristic quality score < ``quality_min`` OR
                   trimmed length < ``min_chars`` (catches docs emptied
                   by the paragraph-dedup pre-pass)
  4. repetition    Gopher-style duplicate-line / top-bigram share gates
  5. contaminated  (``benchmark`` given) shares a normalized n-gram with
                   an evaluation benchmark item (operators/decontam.py)
  6. near_dup      has a smaller-id survivor with MinHash est-Jaccard
                   >= ``minhash_threshold`` (greedy min-keeper list);
                   ``near_dup="clusters"`` instead drops every
                   non-keeper of the TRANSITIVE closure (connected
                   components over the pair stream)
  7. domain_quota  dropped by the head-domain cap (hash-Bernoulli path)

``pii_redact=True`` additionally carries a ``text_redacted`` column
(typed placeholder scrubbing, operators/pii.py) on the flagged frame —
a transform, not a filter, so it affects no drop counts.
``para_dedup=True`` rewrites the text with corpus-wide duplicated
paragraphs removed BEFORE step 1 (also a transform; original kept in
``text_orig``) so every filter judges boilerplate-stripped text.

Scale notes (100 TB): steps 1-4 are one narrow map plus two
high-cardinality-key window shuffles (row_number over the dedup key —
no mega-key: a dedup key shared by millions of rows IS the duplication
being removed, and the keeper pick reads only the key+id projection).
Step 5 runs the banded, bucket-capped LSH from operators/dedup.py over
survivors only; step 6 is the no-sort hash-Bernoulli sampler from
operators/skew.py.  The flagged base is lazily localCheckpoint-ed
before the pair stages so the window/quality work is not recomputed by
each survivor branch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.urls import with_canonical_url
from .decontam import DEFAULT_NGRAM, contamination_counts
from .dedup import minhash_lsh_pairs, normalize_text
from .pii import redact_pii
from .skew import domain_quota_sample
from .textstats import quality_score, repetition_features

DROP_REASONS = (
    "url_dup", "exact_dup", "quality", "repetition", "contaminated",
    "near_dup", "domain_quota",
)

def curate_documents(
    docs: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    url_col: str = "url",
    quality_min: float = 0.2,
    min_chars: int = 20,
    max_dup_line_frac: float = 0.30,
    max_top_bigram_frac: float = 0.18,
    near_dup: bool | str = True,
    minhash_threshold: float = 0.7,
    domain_cap: int | None = None,
    benchmark: DataFrame | None = None,
    decontam_ngram: int = DEFAULT_NGRAM,
    pii_redact: bool = False,
    para_dedup: bool = False,
    para_dedup_opts: dict | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """docs -> docs + curation features + ``_drop_reason`` (NULL = kept).

    Returns the FLAGGED frame (all input rows).  The curated corpus is
    ``filter(_drop_reason IS NULL)``; ``curation_audit`` turns the same
    frame into per-filter drop counts.  ``domain_cap=None`` disables the
    quota step, ``near_dup=False`` the LSH step; ``near_dup="clusters"``
    switches the LSH step to the transitive-closure policy.

    ``para_dedup=True`` runs corpus-wide paragraph dedup
    (``dedup.paragraph_dedup``, drop_frequent mode unless overridden via
    ``para_dedup_opts``) as a PRE-pass: downstream filters (exact dedup,
    quality, repetition, near-dup) then judge the boilerplate-stripped
    text — the standard order, since shared navbars/cookie banners would
    otherwise both mask exact duplicates (differing boilerplate) and
    manufacture near-duplicates (shared boilerplate).  The original text
    is preserved in ``text_orig``; ``n_paras_removed`` rides along.
    """
    docs_in = docs  # pre-chain input: the text rehydration source (r7)
    if para_dedup:
        from .dedup import paragraph_dedup

        docs = (
            paragraph_dedup(
                docs, id_col=id_col, text_col=text_col,
                out_col="text_para_dedup", **(para_dedup_opts or {}),
            )
            .withColumnRenamed(text_col, "text_orig")
            .withColumnRenamed("text_para_dedup", text_col)
        )
    d = with_canonical_url(docs, url_col=url_col)
    # keeper pick per dedup key: row_number over (key -> min id).  The
    # window partitions on a near-unique key, so no partition is wider
    # than the duplicate group itself.
    w_url = Window.partitionBy("canonical_url_key").orderBy(F.col(id_col))
    d = d.withColumn("_url_rank", F.row_number().over(w_url))
    d = d.withColumn("fp_md5", F.md5(normalize_text(F.col(text_col))))
    w_fp = Window.partitionBy("fp_md5").orderBy(F.col(id_col))
    d = d.withColumn("_fp_rank", F.row_number().over(w_fp))
    d = repetition_features(quality_score(d, text_col), text_col)
    base_reason = (
        F.when(F.col("_url_rank") > 1, F.lit("url_dup"))
        .when(F.col("_fp_rank") > 1, F.lit("exact_dup"))
        .when(
            (F.length(F.trim(F.col(text_col))) < min_chars)
            | (F.col("quality") < quality_min),
            F.lit("quality"),
        )
        .when(
            (F.col("dup_line_frac") > max_dup_line_frac)
            | (F.col("top_bigram_frac") > max_top_bigram_frac),
            F.lit("repetition"),
        )
    )
    d = d.withColumn("_drop_reason", base_reason).drop("_url_rank", "_fp_rank")
    orig_cols = d.columns
    rehydrate: list[str] = []
    ck = checkpoint and (near_dup or domain_cap is not None or benchmark is not None)
    if ck:
        # the survivor branches below re-read this frame; checkpoint so
        # the windows + quality features compute once (lazy: materialized
        # by the first action, shared by the rest).
        #
        # r7 (guide §5): the checkpoint holds KEYS + FLAGS only — the
        # text payload is dropped before the block store and rehydrated
        # at the end by an id join against the pre-chain input
        # (``id_col`` is the unique document id; the chain's keeper
        # windows already assume that).  With text riding through, the
        # 1.6M-page volume rehearsal needed a 48 GB driver heap; narrow
        # blocks fit the 16 GB bench default.  Under ``para_dedup`` the
        # working text is DERIVED (paragraph-stripped), so it stays in
        # the checkpoint and only ``text_orig`` (== the input text) is
        # rehydrated.
        if para_dedup:
            # the working text is DERIVED (paragraph-stripped): compute
            # it once but keep it OFF the JVM heap — a DISK_ONLY local
            # checkpoint serializes the text blocks to spark.local.dir
            # instead of holding them deserialized in executor memory
            # (and, unlike a persist, leaves no cache entry behind the
            # call), and BOTH text columns leave the narrow heap checkpoint
            from pyspark.storagelevel import StorageLevel

            text_src = d.select(id_col, text_col).localCheckpoint(
                eager=False, storageLevel=StorageLevel.DISK_ONLY
            )
            rehydrate = [text_col, "text_orig"]
        else:
            text_src = docs_in.select(id_col, text_col)
            rehydrate = [text_col]
        d = d.drop(*rehydrate).localCheckpoint(eager=False)
    else:
        text_src = docs_in.select(id_col, text_col)

    def _surv_text(dd):
        s = dd.filter(F.col("_drop_reason").isNull())
        if text_col in dd.columns:
            return s.select(id_col, text_col)
        return s.select(id_col).join(text_src, id_col)

    if benchmark is not None:
        # decontaminate BEFORE the near-dup stage so the pair-generating
        # LSH pass never sees benchmark-tainted survivors; the gram join
        # broadcasts the benchmark so only the tainted sliver shuffles
        surv = _surv_text(d)
        dirty = (
            contamination_counts(
                surv, benchmark, id_col=id_col, text_col=text_col, n=decontam_ngram
            )
            .select(F.col(id_col))
            .withColumn("_ct", F.lit(True))
        )
        if ck:
            # bounded id list, but its SUBTREE is the whole decontam
            # pass — every later branch (near-dup survivors, quota
            # survivors, the final frame) embeds this join, and Spark
            # has no cross-subtree CSE, so without a checkpoint the
            # pass re-runs once per branch (r7: measured as the chain's
            # dominant cost at 50k docs)
            dirty = dirty.localCheckpoint(eager=False)
        d = (
            d.join(dirty, id_col, "left")
            .withColumn(
                "_drop_reason",
                F.coalesce(
                    F.col("_drop_reason"),
                    F.when(F.col("_ct"), F.lit("contaminated")),
                ),
            )
            .drop("_ct")
        )
    if near_dup:
        surv = _surv_text(d)
        if near_dup == "clusters":
            # transitive policy: connected components over the pair
            # stream (dedup.near_dup_clusters) — A~B, B~C drops both B
            # and C even though A~C never paired.  One keeper (min id)
            # per closure; stricter than the pairwise default.
            from .dedup import near_dup_clusters

            losers = (
                near_dup_clusters(
                    surv, id_col=id_col, text_col=text_col,
                    threshold=minhash_threshold,
                )
                .filter(~F.col("is_keeper"))
                .select(F.col(id_col))
                .withColumn("_nd", F.lit(True))
            )
        else:
            pairs = minhash_lsh_pairs(
                surv, id_col=id_col, text_col=text_col,
                threshold=minhash_threshold,
            )
            # greedy min-keeper: drop every doc with a smaller-id
            # near-dup neighbor (pairs are emitted id_a < id_b)
            losers = (
                pairs.select(F.col("id_b").alias(id_col))
                .distinct()
                .withColumn("_nd", F.lit(True))
            )
        if ck:
            # same economy as ``dirty`` above: the quota step's survivor
            # set and the final flagged frame both embed this join, so
            # without a checkpoint the entire LSH pass runs once per
            # branch (the signature cache inside minhash_lsh_pairs only
            # covers the signatures, not banding/verify/joins)
            losers = losers.localCheckpoint(eager=False)
        d = (
            d.join(losers, id_col, "left")
            .withColumn(
                "_drop_reason",
                F.coalesce(
                    F.col("_drop_reason"),
                    F.when(F.col("_nd"), F.lit("near_dup")),
                ),
            )
            .drop("_nd")
        )
    if domain_cap is not None:
        surv = d.filter(F.col("_drop_reason").isNull()).select(id_col, url_col)
        kept = (
            domain_quota_sample(surv, cap=domain_cap, url_col=url_col, exact=False)
            .select(F.col(id_col))
            .withColumn("_dq", F.lit(True))
        )
        d = (
            d.join(kept, id_col, "left")
            .withColumn(
                "_drop_reason",
                F.coalesce(
                    F.col("_drop_reason"),
                    F.when(F.col("_dq").isNull(), F.lit("domain_quota")),
                ),
            )
            .drop("_dq")
        )
    if rehydrate:
        # re-attach the text payload dropped from the checkpoint (exact
        # values by unique-id join: derived text from the DISK_ONLY
        # persist, original text from the pre-chain input), restoring
        # the original column order so the flagged schema is unchanged
        d = d.join(text_src, id_col, "left")
        if "text_orig" in rehydrate:
            d = d.join(
                docs_in.select(
                    F.col(id_col), F.col(text_col).alias("text_orig")
                ),
                id_col,
                "left",
            )
        d = d.select(*orig_cols)
    if pii_redact:
        d = redact_pii(d, text_col=text_col)
    return d


def curation_audit(flagged: DataFrame) -> dict:
    """Per-filter lineage from the flagged frame: disjoint drop counts
    (first-failing-filter attribution) + kept count; sums to the input
    row count.  One small aggregate job — bounded output (#reasons + 1
    rows), safe to collect into a manifest."""
    rows = (
        flagged.groupBy(
            F.coalesce(F.col("_drop_reason"), F.lit("kept")).alias("reason")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    counts = {r["reason"]: r["n"] for r in rows}
    return {
        "kept": counts.get("kept", 0),
        "dropped": {k: v for k, v in counts.items() if k != "kept"},
        "input_rows": sum(counts.values()),
    }


def curated_only(flagged: DataFrame) -> DataFrame:
    """The curated corpus: kept rows, lineage/feature columns retained
    (they cost nothing at rest and make the curated snapshot
    self-describing), bookkeeping column dropped."""
    return flagged.filter(F.col("_drop_reason").isNull()).drop("_drop_reason")
