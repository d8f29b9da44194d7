"""Incremental processing (SURVEY.md §2.9 St1-St8).

The reference's outer loop polls for new dumps, diffs the remote index,
and runs the batch DAG on each new dump with idempotence guards
(wdq0.pl:86-115, wdq_fetcher.pl:80-144, wdq0b.pl:62-140).  Nothing is
event-time; "streaming" is incremental batch over new files.

Spark mapping: a file-source Structured Streaming query with
``Trigger.AvailableNow`` — process everything new since the checkpoint,
then stop; re-invoke on any schedule.  State (which files are done) lives
in the streaming checkpoint, playing the role of the reference's
PocketBase job queue (St4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import PAGES_SCHEMA


def incremental_pages_stream(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    transform=None,
    max_file_age: str | None = None,
    pre_split: bool = False,
):
    """Watch ``input_dir`` for new pages parquet files; apply ``transform``
    (default: triple extraction) to NEW files only; append to
    ``output_dir``.  Returns the finished StreamingQuery.

    Trigger.AvailableNow = the reference's --once mode (wdq0.pl:96-100);
    calling this repeatedly = the polling watch loop (St1), with the
    checkpoint as the change-detection ledger (St3/St4).

    ``max_file_age`` (e.g. ``"4h"``) is the St2 freshness gate
    (wdq_fetcher.pl:35, 80-85: only inputs newer than the window are
    considered) — mapped to the file source's ``maxFileAge`` option.

    ``pre_split=True``: arriving rows hold raw MULTI-page dump streams
    (the reference's fetch output, wkt1.pl:153-295) — run the 1->N
    ``split_multipage`` step before the transform so each ``<page>``
    frame becomes its own row.  Narrow map: composes with the streaming
    micro-batches without extra state.
    """
    from ..operators.text_extract import extract_text, split_multipage
    from ..operators.triples import extract_triples, parse_entities

    reader = spark.readStream.schema(PAGES_SCHEMA).option("maxFilesPerTrigger", 64)
    if max_file_age is not None:
        reader = reader.option("maxFileAge", max_file_age)
    stream = reader.parquet(input_dir)
    if pre_split:
        stream = split_multipage(stream)
    out = (transform or (lambda df: extract_triples(parse_entities(extract_text(df)))))(
        stream
    )
    q = (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def streaming_exact_dedup(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Custom STATEFUL streaming operator: cross-batch exact dedup.

    Documents arrive as new parquet files; each batch fingerprints its
    texts, and ``applyInPandasWithState`` keeps one boolean per
    fingerprint in the streaming state store, so a document whose
    fingerprint was emitted in ANY earlier micro-batch is dropped — the
    incremental counterpart of ``dedup.exact_dedup``, with the seen-set
    surviving restarts through the checkpoint.

    Scale: one shuffle per batch keyed by fingerprint (hash-partitioned
    state), state size = one tiny row per distinct fingerprint —
    RocksDB-backed on a real cluster.  Returns the finished query.
    """
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.dedup import normalize_text

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField(text_col, T.StringType()),
        ]
    )
    out_schema = T.StructType(
        [
            T.StructField("fp_md5", T.StringType()),
            T.StructField("keeper_id", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("seen", T.BooleanType())])

    def first_seen(key, pdfs, state: GroupState):
        if state.exists:  # fingerprint already emitted in an earlier batch
            return
        keeper = None
        for pdf in pdfs:
            m = pdf[id_col].min()
            keeper = m if keeper is None else min(keeper, m)
        state.update((True,))
        yield pd.DataFrame({"fp_md5": [key[0]], "keeper_id": [int(keeper)]})

    stream = spark.readStream.schema(schema).parquet(input_dir)
    fp = stream.withColumn("fp_md5", F.md5(normalize_text(F.col(text_col))))
    deduped = fp.groupBy("fp_md5").applyInPandasWithState(
        first_seen, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
    q = (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def incremental_pipeline_run(
    spark: SparkSession,
    input_dir: str,
    out_root: str,
    aliases: DataFrame,
    catalog: DataFrame | None = None,
    **run_pipeline_kwargs,
):
    """St1+St3 outer-loop body over MANIFEST snapshots: diff the input
    directory's parquet file list against every file recorded by earlier
    committed runs (the ledger — the reference's 'which dumps did I
    already process' check, wdq0.pl:86-115), run the full pipeline on
    ONLY the new files into a fresh ``run_<k>`` snapshot directory, and
    append the processed file list to the ledger.  Returns the
    ``run_pipeline`` result dict (plus ``"run_dir"``/``"new_files"``)
    or None when nothing is new — so re-running after an input append
    yields exactly the delta rows downstream.

    Each run's fingerprint is the hash of its new-file list, so a
    crashed incremental run resumes idempotently (same delta -> same
    fingerprint -> manifest resume), and the ledger only advances AFTER
    the run commits."""
    import glob
    import hashlib
    import json
    import os

    from ..plans.pipeline import run_pipeline

    os.makedirs(out_root, exist_ok=True)
    ledger_path = os.path.join(out_root, "_incremental_ledger.json")
    ledger = {"runs": []}
    if os.path.exists(ledger_path):
        with open(ledger_path) as f:
            ledger = json.load(f)
    # realpath-normalize both sides: the ledger must not re-ingest a file
    # because the caller spelled input_dir differently (relative vs
    # absolute, trailing slash, symlink) between runs
    seen = {os.path.realpath(f) for r in ledger["runs"] for f in r["files"]}
    new = sorted(
        f
        for f in (
            os.path.realpath(g)
            for g in glob.glob(os.path.join(input_dir, "*.parquet"))
        )
        if f not in seen
    )
    if not new:
        return None
    run_dir = os.path.join(out_root, f"run_{len(ledger['runs']):05d}")
    fp = "files=" + hashlib.md5(
        "\n".join(os.path.basename(f) for f in new).encode()
    ).hexdigest()[:12]
    pages = spark.read.schema(PAGES_SCHEMA).parquet(*new)
    res = run_pipeline(
        spark, pages, aliases, run_dir, catalog,
        fingerprint=fp, **run_pipeline_kwargs,
    )
    ledger["runs"].append({"out_dir": run_dir, "fingerprint": fp, "files": new})
    tmp = ledger_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(ledger, f, indent=1)
    os.replace(tmp, ledger_path)  # atomic, same discipline as the manifest
    res["run_dir"] = run_dir
    res["new_files"] = new
    return res
