"""End-to-end KG-construction DAG with snapshot checkpoint/resume and
per-partition lineage + metrics.

Reference model: the orchestrator DAG (wdq0.pl:142-262 / wdq0b.pl:105-124)
runs fetch -> scan/extract -> sort -> index -> persons -> geonames ->
inverted index as separate OS processes with files as the IR and
existence-checks as idempotence guards (wdq0.pl:151-155, 244; wdq0b.pl:108).
Here each stage is a DataFrame job committed as a parquet snapshot (Iceberg
stands ready — same layout — but the sandbox has no Iceberg runtime jar,
so snapshots are directories + a manifest JSON; the manifest plays the
role of Iceberg's snapshot log).

Resume: a stage whose manifest entry exists with the same input
fingerprint is skipped and its output read back (St4-St7, SURVEY.md §2.9).

Lineage + metrics (north_rule "per-partition lineage manifests and
metrics"): every materialized table carries ``_part_id`` (writing
partition) and the manifest records per-partition row counts + the
fingerprint chain stage -> input.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators import triples as TR
from ..operators.canonicalize import canonical_remap, rewrite_triples
from ..operators.linking import link_mentions, mention_triples
from ..operators.text_extract import extract_and_detect, exploded_mentions

MANIFEST = "_pipeline_manifest.json"
# extracted rows per writer salt of the pred-partitioned stages (see
# ``by_pred_salted`` in ``run_pipeline``)
ROWS_PER_SALT = 25_000


class GracefulStop(RuntimeError):
    """St7: a stop was requested; the stage that was running has COMMITTED
    (atomic snapshot) and the manifest is consistent — a later run resumes
    from here (wdq1.pl:142-143, 468: SIGINT drains the loop, stats still
    written)."""

    def __init__(self, completed: list[str]):
        super().__init__(f"graceful stop after stages {completed}")
        self.completed = completed


class IncompleteInputError(RuntimeError):
    """St6: the input fails its completeness/size sanity gate — the
    reference's 'in progress? skipping' / 'size mismatch' pre-flight
    (wdq0.pl:163-181, 278-281)."""


def preflight_input_gate(
    spark: SparkSession,
    path: str,
    min_bytes: int | None = None,
    max_bytes: int | None = None,
) -> int:
    """Size sanity gate BEFORE the first snapshot commit (St6,
    wdq0.pl:163-181: fetched < expected -> still-in-progress, skip;
    > expected -> hard error).  Uses the Hadoop FS API, so it works on
    object storage, not just a local filesystem."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    size = int(fs.getContentSummary(p).getLength())
    if min_bytes is not None and size < min_bytes:
        raise IncompleteInputError(
            f"input {path} is {size} B < expected minimum {min_bytes} B — "
            "fetch still in progress? skipping run (wdq0.pl:163-177)"
        )
    if max_bytes is not None and size > max_bytes:
        raise IncompleteInputError(
            f"input {path} is {size} B > expected maximum {max_bytes} B "
            "(wdq0.pl:278-281 size-vs-expected check)"
        )
    return size


class StageManifest:
    """Tiny snapshot log: stage -> {fingerprint, path, metrics, schema, ts}.
    A committed entry's timestamps are ``started_at``, ``written_at`` (data
    written, metrics not yet taken) and ``committed_at``.

    ``snapshot_backend`` (a name in ``snapshots.BACKENDS``: ``"json"``,
    the JSON snapshot log) additionally mirrors every stage commit into
    a snapshot catalog (plans/snapshots.py) and records the resulting
    ``snapshot_id`` on the manifest entry — time travel and St3
    incremental reads then key on snapshot ids instead of
    caller-carried file sets."""

    def __init__(self, root: str, snapshot_backend: str | None = None):
        self.root = root
        self.path = os.path.join(root, MANIFEST)
        os.makedirs(root, exist_ok=True)
        self.stages: dict[str, dict] = {}
        self._lock = threading.Lock()  # stages commit from concurrent threads
        self.snapshots = None
        if snapshot_backend:
            from .snapshots import open_catalog

            self.snapshots = open_catalog(root, snapshot_backend)
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.stages = json.load(f)

    def done(self, stage: str, fingerprint: str) -> bool:
        s = self.stages.get(stage)
        return (
            bool(s)
            and s.get("fingerprint") == fingerprint
            # legacy entries predate the state field: they were only ever
            # written on commit, so absent state means committed
            and s.get("state", "committed") == "committed"
            and os.path.exists(s.get("path", ""))
        )

    def committed(self) -> list[str]:
        return sorted(
            k for k, v in self.stages.items()
            if v.get("state", "committed") == "committed"
        )

    def plan(self, stages: list[str], fingerprint: str):
        """St4 job-queue 'pending' state (wdq_fetcher.pl:110-123,
        wdq0b.pl:62-92: the queue tracks not-yet-started jobs with
        timestamps): record every planned-but-not-yet-run stage as
        ``pending`` at pipeline start, so a monitoring read of the
        manifest distinguishes never-started (pending) from crashed
        mid-run (in_progress) from done (committed).  Stages already
        committed under the same fingerprint are left untouched (resume
        skips them)."""
        with self._lock:
            for stage in stages:
                s = self.stages.get(stage)
                if (
                    s
                    and s.get("fingerprint") == fingerprint
                    and s.get("state", "committed") == "committed"
                ):
                    continue
                self.stages[stage] = {
                    "fingerprint": fingerprint,
                    "state": "pending",
                    "planned_at": time.time(),
                }
            self._flush()

    def start(self, stage: str, fingerprint: str):
        """St4 job-queue state (wdq_fetcher.pl:110-123, wdq0b.pl:62-92):
        mark the stage in_progress BEFORE its job runs, so a crashed run
        is distinguishable from a never-started one; ``done`` treats an
        in_progress entry as not-done, so resume re-runs and recommits."""
        with self._lock:
            planned = self.stages.get(stage, {}).get("planned_at")
            self.stages[stage] = {
                "fingerprint": fingerprint,
                "state": "in_progress",
                "planned_at": planned,
                "started_at": time.time(),
            }
            self._flush()

    def commit(
        self, stage: str, fingerprint: str, path: str, metrics: dict,
        schema: StructType | None = None, written_at: float | None = None,
    ):
        with self._lock:
            started = self.stages.get(stage, {}).get("started_at")
            entry = {
                "fingerprint": fingerprint,
                "state": "committed",
                "path": path,
                "metrics": metrics,
                "started_at": started,
                "written_at": written_at,
                "committed_at": time.time(),
            }
            if schema is not None:
                entry["schema"] = schema.jsonValue()
            if self.snapshots is not None:
                entry["snapshot_id"] = self.snapshots.commit(
                    stage, path, fingerprint
                )
                entry["snapshot_backend"] = self.snapshots.backend
            self.stages[stage] = entry
            self._flush()

    def _flush(self):
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.stages, f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)  # atomic snapshot commit


def read_stage(spark: SparkSession, entry: dict) -> DataFrame:
    """A committed parquet stage, read with the schema it was written
    with, so the read plans without Spark's schema-inference job (one
    1-task job per read).  Spark still moves partition columns last and
    makes every column nullable, as inference does; a partition column
    keeps its written type where inference would guess one from the
    directory names.  Entries committed before schemas were recorded
    are inferred."""
    reader = spark.read
    if "schema" in entry:
        reader = reader.schema(StructType.fromJson(entry["schema"]))
    return reader.parquet(entry["path"])


def _with_lineage(df: DataFrame) -> DataFrame:
    return df.withColumn("_part_id", F.spark_partition_id())


def _list_stage_files(spark: SparkSession, path: str, suffix: str = ".parquet"):
    """Recursive (rel_path, bytes) data-file listing via the Hadoop FS API —
    the same client ``preflight_input_gate`` uses, so lineage metrics work
    on object storage, not just local disk (a local ``glob`` on an
    s3a:// path silently lists nothing).  Returns (scheme, base, files)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    qual = fs.makeQualified(hpath)
    scheme = qual.toUri().getScheme()
    base = str(qual.toUri().getPath())
    files: list[tuple[str, int]] = []
    it = fs.listFiles(qual, True)
    while it.hasNext():
        st = it.next()
        fpath = str(st.getPath().toUri().getPath())
        if fpath.endswith(suffix):
            files.append((os.path.relpath(fpath, base), int(st.getLen())))
    return (str(scheme) if scheme is not None else None), base, files


def _local_footer_rows(base: str, rels: list[str]) -> dict | None:
    """Per-file row counts from local parquet footers, no Spark job.
    duckdb's ``parquet_file_metadata`` reads every footer the engine
    writes (including the VARIANT logical type pyarrow rejects) in one
    in-process call (~10 ms for 64 files vs ~0.4 s for the Spark-job
    fallback); pyarrow is the fallback, None means "use a Spark job"."""
    if not rels:
        return {}
    try:
        import duckdb

        lit = ", ".join("'" + os.path.join(base, r).replace("'", "''") + "'"
                        for r in rels)
        rows = duckdb.sql(
            f"SELECT file_name, num_rows FROM parquet_file_metadata([{lit}])"
        ).fetchall()
        per_file = {os.path.relpath(f, base): int(n) for f, n in rows}
        if set(per_file) == set(rels):
            return per_file
    except Exception:  # noqa: BLE001 — any failure falls through to pyarrow
        pass
    try:
        import pyarrow.parquet as pq

        return {
            rel: pq.read_metadata(os.path.join(base, rel)).num_rows
            for rel in rels
        }
    except OSError:
        return None


def _partition_metrics(spark: SparkSession, path: str) -> dict:
    """Per-file row counts for the lineage manifest.  Local paths (bare or
    file:-scheme) list with ``os.walk`` and count rows straight from the
    parquet footers (metadata only, no Spark job, no per-file py4j round
    trips — measured 0.3-0.6 s/stage of pure driver overhead before r7);
    remote stores list through the Hadoop FS API and count with one
    bounded Spark job grouped by the ``_part_id`` lineage column."""
    local = None
    if path.startswith("file://"):
        local = path[len("file://"):]
    elif "://" not in path:
        # a bare path is NOT necessarily local: with fs.defaultFS set to
        # a remote store the stage data lives there even though a
        # same-named directory may exist on the driver's disk.  One py4j
        # call resolves the scheme (vs the per-FILE round trips this
        # fast path removes).
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        scheme = fs.makeQualified(hpath).toUri().getScheme()
        if scheme in (None, "file"):
            local = path
    if local is not None and os.path.isdir(local):
        files: list[tuple[str, int]] = []
        for root, _, fs in os.walk(local):
            for f in fs:
                if f.endswith(".parquet"):
                    fp = os.path.join(root, f)
                    files.append((os.path.relpath(fp, local), os.path.getsize(fp)))
        n_bytes = sum(b for _, b in files)
        per_file = _local_footer_rows(local, [r for r, _ in files])
        if per_file is not None:
            return {
                "rows": sum(per_file.values()),
                "bytes": n_bytes,
                "partitions": per_file,
            }
    else:
        _, _, files = _list_stage_files(spark, path)
        n_bytes = sum(b for _, b in files)
    df = spark.read.parquet(path)
    rows = df.groupBy("_part_id").count().collect() if "_part_id" in df.columns else []
    return {
        "rows": sum(r["count"] for r in rows) if rows else df.count(),
        "bytes": n_bytes,
        "partitions": {str(r["_part_id"]): r["count"] for r in rows},
        "files": dict(files),
    }


def _run_stage(
    manifest: StageManifest,
    stage: str,
    fingerprint: str,
    path: str,
    write,
    metrics,
    read,
    notify=None,
) -> DataFrame:
    """The one stage protocol: a stage committed under ``fingerprint`` is
    resumed; otherwise it is marked started, written (``write()`` returns
    the written plan's schema, or None for a non-parquet layout), stamped
    ``written_at``, measured (``metrics()``) and committed, with a notice
    on start and finish.  Fresh and resumed passes both return
    ``read(entry)`` of the committed manifest entry."""
    if not manifest.done(stage, fingerprint):
        manifest.start(stage, fingerprint)
        if notify:
            notify(f"stage {stage} started")
        schema = write()
        written_at = time.time()
        m = metrics()
        manifest.commit(stage, fingerprint, path, m, schema, written_at)
        if notify:
            notify(f"stage {stage} finished rows={m.get('rows')}")
    return read(manifest.stages[stage])


def _write_stage(
    spark: SparkSession,
    manifest: StageManifest,
    stage: str,
    fingerprint: str,
    df_fn,
    path: str,
    partition_by: list[str] | None = None,
    sort_within: list[str] | None = None,
    extra_metrics_fn=None,
    notify=None,
) -> DataFrame:
    """A parquet stage, flat or ``partition_by``-partitioned, through
    ``_run_stage``; read back through ``read_stage`` with the written
    plan's schema."""

    def write():
        df = _with_lineage(df_fn())
        if sort_within:
            df = df.sortWithinPartitions(*sort_within)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        return df.schema

    def metrics():
        m = _partition_metrics(spark, path)
        if extra_metrics_fn is not None:
            m.update(extra_metrics_fn() or {})
        return m

    return _run_stage(
        manifest, stage, fingerprint, path, write, metrics,
        functools.partial(read_stage, spark), notify,
    )


def _ensure_bucketed_table(
    spark: SparkSession, table: str, entry: dict,
    buckets: int, bucket_col: str,
) -> None:
    """Register a written bucketed layout with the session catalog when
    it is not there (resume path / new session: the default in-memory
    catalog loses table metadata between sessions, but the bucket ids are
    encoded in the parquet file names, so a CREATE TABLE with the
    matching CLUSTERED BY spec restores exchange-free join planning — the
    same re-attach Iceberg does from its own metadata).  The columns come
    from the manifest entry's recorded schema (no Spark job)."""
    if spark.catalog.tableExists(table):
        return
    fields = read_stage(spark, entry).schema.fields
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in fields)
    loc = entry["path"].replace("'", "''")  # SQL-escape quotes in the location
    spark.sql(
        f"CREATE TABLE {table} ({cols}) USING parquet "
        f"CLUSTERED BY ({bucket_col}) SORTED BY ({bucket_col}) "
        f"INTO {buckets} BUCKETS LOCATION '{loc}'"
    )


def _write_stage_bucketed(
    spark: SparkSession,
    manifest: StageManifest,
    stage: str,
    fingerprint: str,
    df_fn,
    path: str,
    table: str,
    buckets: int = 64,
    bucket_col: str = "id_num",
    notify=None,
) -> DataFrame:
    """A stage in the PDS-role bucketed layout (SURVEY.md §1.4,
    PDS.pm:136-150) through ``_run_stage``: ``write_bucketed``
    hash-buckets and sorts on ``bucket_col`` and registers ``table`` in
    the catalog, so a point-lookup or co-located join plans with NO
    Exchange on this side.  The pre-write shuffle is keyed on the bucket
    id itself (``pmod(hash(col), buckets)``, the bucket spec's Murmur3
    expression) into ``min(buckets, task slots)`` partitions: each task
    holds whole buckets, so every bucket is still exactly one file, and
    the write runs one task per slot instead of one per bucket (64
    near-empty tasks at small volume).  ``_part_id`` is the bucket id.
    Fresh and resumed passes read ``spark.table(table)`` after
    ``_ensure_bucketed_table``."""

    def write():
        bucket_id = F.pmod(F.hash(F.col(bucket_col)), F.lit(buckets))
        slots = spark.sparkContext.defaultParallelism
        df = df_fn().withColumn("_part_id", bucket_id).repartition(
            min(buckets, slots), F.col("_part_id")
        )
        write_bucketed(df, table, buckets, bucket_col, path=path)
        return df.schema

    def read(entry):
        _ensure_bucketed_table(spark, table, entry, buckets, bucket_col)
        return spark.table(table)

    return _run_stage(
        manifest, stage, fingerprint, path, write,
        lambda: dict(_partition_metrics(spark, path), buckets=buckets, table=table),
        read, notify,
    )


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    aliases: DataFrame,
    out_dir: str,
    catalog: DataFrame | None = None,
    fingerprint: str = "",
    expected_pages: tuple | None = None,
    stop_file: str | None = None,
    notifier=None,
    pre_split: bool = False,
    node_buckets: int = 64,
    curate: bool = False,
    curate_opts: dict | None = None,
    triples_by_subj: bool = False,
    graph_stats: bool = False,
    table_stats: bool = False,
    pagerank_iters: int = 10,
    export_rdf: bool = False,
    snapshot_backend: str | None = None,
) -> dict[str, DataFrame]:
    """pages + alias dictionary -> materialized KG tables.

    ``expected_pages=(min, max)``: St6 completeness gate — the page count
    must fall in range BEFORE any stage commits (either bound may be
    None).  For a path-backed input, prefer ``preflight_input_gate`` on
    raw bytes (no Spark job at all).

    ``stop_file``: St7 graceful stop — when the file appears, the run
    drains the stage group in flight (its snapshots COMMIT atomically)
    and raises ``GracefulStop``; a re-run with the same fingerprint
    resumes from the manifest (wdq1.pl:142-143, 468 SIGINT model).  The
    file is checked between stage groups on every slot count: after
    extract, after triples/items/props/mentions (+ curate), and before
    each optional stage that follows canonical + nodes (triples_by_subj,
    predicate_stats, graph_degrees, graph_pagerank, rdf_ntriples).  There
    is no check right after canonical + nodes unless an optional stage
    follows.  Every check has a test.

    ``notifier``: St9 lifecycle announcements (plans.notify.Notifier or
    any callable) — run started/finished, per-stage started/finished,
    graceful stop; skipped (resumed) stages announce nothing, matching
    the reference's announce-on-run model (wdq0b.pl:148-156).

    ``pre_split=True``: ``pages`` rows hold raw MULTI-page dump streams
    (the reference's fetch output) — run the 1->N ``split_multipage``
    step ahead of stage 1, fused into the same job (narrow map, no extra
    snapshot; the extract stage's manifest fingerprint covers it).

    Stages (each a snapshot commit, resumable):
      1. extract    — byte-identical text + parsed entity columns
      2. triples    — filter-bank claim triples + raw-record mentions
      3. items      — node catalog (counters, labels, lineage)
      4. props      — predicate catalog
      5. mentions   — trie mention detection + linking
      6. canonical  — connected-components map + rewritten triples
      7. nodes      — canonical node table, bucket-sorted by id_num
      8. curate     — (``curate=True``) training-data curation of the
         extracted documents: canonical-URL + exact-text dedup, quality/
         repetition gates, MinHash near-dup keep-list, optional
         head-domain quota (operators/curate.py) -> ``docs_curated``
         snapshot; manifest metrics carry per-filter drop counts
         (disjoint, first-failing attribution).  ``curate_opts`` passes
         through to ``curate_documents`` (e.g. ``domain_cap``).
      9. triples_by_subj — (``triples_by_subj=True``) the canonical
         triples re-materialized hash-BUCKETED + sorted on ``subj_num``
         with the SAME bucket count/key domain as the nodes table, so
         the reference's per-entity point query (wdq2.pl:347-406 —
         "all triples of Q42") is one bucket probe (bucket pruning:
         1 of ``node_buckets`` files opened) and a nodes⋈triples join
         on id plans with NO Exchange on EITHER side (co-located).
      10. graph_degrees / graph_pagerank — (``graph_stats=True``)
         per-entity in/out degree and fixed-step PageRank
         (``pagerank_iters``) over the canonical entity graph
         (operators/graph.py), both snapshot-committed + resumable.
         The pred-partitioned ``triples`` layout stays the primary —
         this is the subject-centric access path on top.
      11. predicate_stats — (``table_stats=True``) the planner-facing
         per-predicate cardinality report (HLL++ sketch path), a
         dimension-sized table the query CLI's ``--stats`` join
         ordering reads instead of re-scanning the corpus at plan time.

    Layout choices for 100 TB (SURVEY.md §7.1 'Materialize'):
      * triples partitioned by ``pred`` (the reference's P####.tsv model) —
        predicate-pruned scans for per-property queries;
      * nodes written BUCKETED (``node_buckets``, hash on ``id_num``) and
        sorted within each bucket — the PDS direct-address index role
        (wdq2.pl:168, PDS.pm:136-150): a point lookup prunes to one
        bucket file's sorted run, and any join on ``id_num`` against a
        same-bucketed table plans with NO Exchange of the nodes side.
        ``node_buckets`` is layout only (co-located joins require both
        tables to share it): 64 fits the test/bench scales; a 100 TB
        deployment picks its own (e.g. 4096) once and keeps it.  Write
        parallelism is the session's task slots, not the bucket count:
        each writer task holds whole buckets.
      * items sorted within partitions on ``id_num`` (min/max pruning).
    """
    fp = fingerprint or "default"
    if pre_split:
        from ..operators.text_extract import split_multipage

        pages = split_multipage(pages)
    if expected_pages is not None:
        lo_n, hi_n = expected_pages
        n_in = pages.count()
        if (lo_n is not None and n_in < lo_n) or (hi_n is not None and n_in > hi_n):
            raise IncompleteInputError(
                f"pages input has {n_in} rows, outside expected [{lo_n}, {hi_n}]"
            )
    man = StageManifest(out_dir, snapshot_backend=snapshot_backend)
    stage_names = [
        "extract", "triples", "items", "props", "mentions", "canonical", "nodes"
    ]
    if curate:
        stage_names.append("curate")
    if triples_by_subj:
        stage_names.append("triples_by_subj")
    if graph_stats:
        stage_names += ["graph_degrees", "graph_pagerank"]
    if table_stats:
        stage_names.append("predicate_stats")
    if export_rdf:
        stage_names.append("rdf_ntriples")
    man.plan(stage_names, fp)
    # Two jobs read the alias table (extract: the gated collect; mentions:
    # the linking broadcast).  A lazy local checkpoint runs its lineage
    # once per pass (a computed input, such as a parquet read, is not
    # re-scanned by each job; a local Arrow table is already a JVM-side
    # scan), and only a running stage makes it, so a fully resumed pass
    # never evaluates the input.
    aliases_once = functools.cache(lambda: aliases.localCheckpoint(eager=False))
    p = lambda name: os.path.join(out_dir, name)
    notify = notifier if callable(notifier) else (lambda msg: None)
    notify(f"pipeline started fingerprint={fp}")

    def _stop_check():
        if stop_file and os.path.exists(stop_file):
            notify(f"pipeline graceful stop after {man.committed()}")
            raise GracefulStop(man.committed())

    # stage 1 — FUSED extract + mention scan + parse.  Materialized once:
    # every downstream branch (triples, items, mentions) reuses the
    # parquet, and the text column crosses the Arrow JVM<->Python bus
    # exactly once — extraction and the dictionary scan run in the same
    # mapInPandas pass; the mention stage below is a pure-JVM explode.
    parsed = _write_stage(
        spark, man, "extract", fp,
        lambda: TR.parse_entities(
            extract_and_detect(pages, aliases_once()), extra_cols=("mentions",)
        ),
        p("extracted"), notify=notify,
    )

    _stop_check()

    # Stages 2-5 all depend only on `parsed`: submit them from concurrent
    # driver threads (idiomatic Spark — the scheduler interleaves their
    # tasks, so one stage's stragglers/fixed costs overlap another's
    # compute instead of serializing; biggest win at high parallelism).
    # Concurrency scales with task slots: with 1-2 slots, interleaving
    # 4 Arrow-exchange jobs through the same Python worker adds overhead
    # (and exercises a Spark 4.1 local-mode runner race) for zero overlap
    # benefit, so every stage group's pool degrades to one lane.
    slots = spark.sparkContext.defaultParallelism

    def lanes(n_jobs):
        return max(1, min(n_jobs, slots // 2))

    # Writer-salt width scales with DATA VOLUME (from the extract stage's
    # manifest row count — free, works on resume), capped by task slots:
    # ~25k pages per salt.  Volume-scaled, not slots-scaled: at small
    # volume a wide salt only fragments files and adds shuffle overhead
    # (measured +35% pipeline wall at 100k pages on 32 cores), while at
    # big volume it is what keeps a mega-predicate from serializing
    # through one writer (measured: plain repartition('pred') capped the
    # triple/canonical writes at 1.4x from 2->8 cores on 800k pages).
    n_rows = int(man.stages.get("extract", {}).get("metrics", {}).get("rows", 0))
    n_salts = max(1, min(slots, n_rows // ROWS_PER_SALT))

    def by_pred_salted(df):
        # an explicit partition count: a by-column repartition lets AQE
        # coalesce small volumes into ONE task that writes every pred=
        # file serially; with ``slots`` partitions the pred files are
        # written in parallel, and each (pred, salt) is still one file
        salt = F.pmod(F.xxhash64("subj"), F.lit(n_salts))
        return df.repartition(slots, F.col("pred"), salt)

    # one lane per submitted job (4 stages + CC remap + optional curate)
    with ThreadPoolExecutor(max_workers=lanes(5 + (1 if curate else 0))) as pool:
        f_triples = pool.submit(
            _write_stage, spark, man, "triples", fp,
            lambda: by_pred_salted(TR.extract_triples(parsed)),
            p("triples"), ["pred"], ["subj"], notify=notify,
        )
        # items: sorted-within-partition only — repartitionByRange would
        # sample (= compute the plan twice); the consumer-facing `nodes`
        # table below gets the globally range-partitioned layout instead.
        f_items = pool.submit(
            _write_stage, spark, man, "items", fp,
            lambda: TR.items_table(parsed), p("items"), None, ["id_num"],
            notify=notify,
        )
        f_props = pool.submit(
            _write_stage, spark, man, "props", fp,
            lambda: TR.props_catalog(parsed), p("props"), notify=notify,
        )
        f_linked = pool.submit(
            _write_stage, spark, man, "mentions", fp,
            lambda: link_mentions(
                exploded_mentions(parsed), aliases_once(), catalog
            ),
            p("mentions"), notify=notify,
        )
        f_curate = None
        if curate:
            from ..operators.curate import (
                curate_documents, curated_only, curation_audit,
            )

            def _curate_job():
                # ONE flagged plan shared by the snapshot write and the
                # per-filter audit (lazily checkpointed inside
                # curate_documents, so the filter chain computes once)
                flagged = curate_documents(
                    parsed.select("url", "warc_ts", "lang", "text").filter(
                        F.col("text").isNotNull()
                    ),
                    **(curate_opts or {}),
                )
                def _curate_metrics():
                    m = {"filters": curation_audit(flagged)}
                    if (curate_opts or {}).get("pii_redact"):
                        # what the redaction removed, in the manifest:
                        # bounded report (len(PII_PATTERNS)+1 rows) over
                        # the KEPT corpus
                        from ..operators.pii import pii_report

                        m["pii"] = {
                            r.pii_type: {"matches": r.matches, "docs": r.docs}
                            for r in pii_report(
                                flagged.filter(F.col("_drop_reason").isNull())
                            ).collect()
                        }
                    return m

                return _write_stage(
                    spark, man, "curate", fp,
                    lambda: curated_only(flagged),
                    p("docs_curated"),
                    extra_metrics_fn=_curate_metrics,
                    notify=notify,
                )

            f_curate = pool.submit(_curate_job)

        # NON-identity remap only (bounded by merges, not subjects): the
        # full canonical map would cost a distinct over every subject —
        # the rewrite's coalesce supplies identity mappings implicitly.
        # Identifier edges live exclusively on the AUTHCTRL predicates of
        # the CLAIM triples (mention triples carry pred='Pmention' and
        # contribute no edge).  On a FRESH run the CC loop re-derives
        # exactly that slice from the committed ``parsed`` snapshot via
        # direct ``claims[pred]`` lookups (TR.authctrl_claim_triples —
        # one scan, no claim explode), so it overlaps the triples WRITE
        # instead of serializing behind it (r7 — the group's critical
        # path was triples-write + cc_loop back to back;
        # identifier_edges sees the exact same (subj, pred, obj) rows
        # either way, pytest-asserted).  When the triples snapshot is
        # already committed as this job starts, the authctrl filter
        # partition-prunes the pred-partitioned layout, which is cheaper
        # still, so that path reads the snapshot (with its recorded
        # schema: no inference job).  That happens on resume, and on a
        # fresh pass whose pool has fewer lanes than jobs (4 slots: 2
        # lanes), where this job queues behind the triples write.
        def _remap_job():
            t0 = time.time()
            if man.done("triples", fp):
                src = read_stage(spark, man.stages["triples"]).select(
                    "subj", "pred", "obj", "src_url"
                )
            else:
                src = TR.authctrl_claim_triples(parsed)
            r = canonical_remap(src).localCheckpoint(eager=False)
            # count once (materializes the checkpoint), reuse for the
            # broadcast size gate AND the manifest metrics
            n = r.count()
            return r, n, time.time() - t0

        f_remap = (
            pool.submit(_remap_job) if not man.done("canonical", fp) else None
        )
        triples = f_triples.result()
        items = f_items.result()
        props = f_props.result()
        linked = f_linked.result()
        docs_curated = f_curate.result() if f_curate is not None else None
        remap, n_remap, cc_loop_s = (
            f_remap.result() if f_remap is not None else (None, None, None)
        )

    _stop_check()

    def _all_triples():
        return triples.select("subj", "pred", "obj", "src_url").unionByName(
            mention_triples(linked.select("url", "qid"))
        )

    def _canonical():
        return by_pred_salted(
            rewrite_triples(_all_triples(), remap, remap_count=n_remap)
        )

    def _nodes():
        base = items.drop("_part_id")
        if remap is None:
            # canonical was committed before this pass: its snapshot holds
            # the canonical subjects
            ids = read_stage(spark, man.stages["canonical"]).select(
                F.col("subj").alias("id")
            ).distinct()
            return base.join(ids, "id", "left_semi")
        # canonical node set = items appearing as subjects, minus the
        # merge losers.  distinct() BEFORE the semi-join matters: the
        # partial (map-side) aggregation collapses the subject column to
        # ~#items rows before the exchange; the anti-join against the
        # merge-bounded remap stays unhinted (planner broadcasts it when
        # small, same discipline as rewrite_triples).
        subj_ids = _all_triples().select(F.col("subj").alias("id")).distinct()
        return base.join(subj_ids, "id", "left_semi").join(
            remap.select("id"), "id", "left_anti"
        )

    # catalog identity for the bucketed nodes table: stable per out_dir
    # (re-runs of the same pipeline overwrite it; concurrent pipelines in
    # one session get distinct names)
    nodes_table = "kg_nodes_" + hashlib.md5(
        os.path.abspath(out_dir).encode()
    ).hexdigest()[:10]
    # The canonical rewrite+write was the pipeline's serial tail (~11 s
    # alone at 8 cores on 800k pages while nodes waited ~4 s more);
    # overlapping the two independent writes removes it.
    with ThreadPoolExecutor(max_workers=lanes(2)) as pool:
        f_cano = pool.submit(
            _write_stage, spark, man, "canonical", fp, _canonical,
            p("canonical_triples"), ["pred"], ["subj"],
            lambda: {"remap_rows": n_remap, "cc_loop_s": cc_loop_s}, notify,
        )
        f_nodes = pool.submit(
            _write_stage_bucketed, spark, man, "nodes", fp, _nodes, p("nodes"),
            nodes_table, node_buckets, "id_num", notify,
        )
        canonical_triples = f_cano.result()
        nodes = f_nodes.result()

    tbs = None
    if triples_by_subj:
        _stop_check()
        # co-located with nodes: same bucket count, same long key domain
        # (subj_num == the subject's id_num), so nodes⋈triples_by_subj
        # plans exchange-free on both sides and "all triples of Q42" is
        # one pruned bucket's sorted run (wdq2.pl:347-406 point query).
        tbs_table = "kg_triples_subj_" + hashlib.md5(
            os.path.abspath(out_dir).encode()
        ).hexdigest()[:10]
        tbs = _write_stage_bucketed(
            spark, man, "triples_by_subj", fp,
            lambda: canonical_triples.drop("_part_id").withColumn(
                "subj_num",
                F.regexp_extract("subj", r"^[QL](\d+)$", 1).try_cast("long"),
            ),
            p("triples_by_subj"), table=tbs_table, buckets=node_buckets,
            bucket_col="subj_num", notify=notify,
        )

    pred_stats = None
    if table_stats:
        _stop_check()
        # planner-facing per-predicate cardinalities over the canonical
        # triples (operators/triples.predicate_stats, HLL++ sketch
        # path) — materialized so the query CLI's stats-driven BGP join
        # ordering reads a dimension-sized table instead of re-scanning
        # the corpus at plan time (the reference's cntprops.pl use_cnt
        # bookkeeping, amortized the same way).
        pred_stats = _write_stage(
            spark, man, "predicate_stats", fp,
            lambda: TR.predicate_stats(canonical_triples),
            p("predicate_stats"), notify=notify,
        )

    degrees = pr_ranks = None
    if graph_stats:
        _stop_check()
        # graph-structural analytics over the CANONICAL id space (post
        # connected-components merge), snapshot-committed + resumable
        # like every other stage.  PageRank runs fixed-step (tol=None):
        # at volume the per-iteration L1-delta job is pure overhead.
        from ..operators.graph import degree_stats, entity_edges, pagerank

        degrees = _write_stage(
            spark, man, "graph_degrees", fp,
            lambda: degree_stats(canonical_triples),
            p("graph_degrees"), notify=notify,
        )
        _stop_check()
        pr_ranks = _write_stage(
            spark, man, "graph_pagerank", fp,
            lambda: pagerank(
                entity_edges(canonical_triples),
                max_iter=pagerank_iters, tol=None,
            ),
            p("graph_pagerank"),
            extra_metrics_fn=lambda: {"iterations": pagerank_iters},
            notify=notify,
        )

    rdf_lines = None
    if export_rdf:
        _stop_check()
        # 11. rdf_ntriples — the canonical triples serialized as W3C
        # N-Triples (functions/rdf.py: Wikidata IRI scheme, ECHAR
        # escaping, a narrow JVM map) into gzip text part-files, under
        # the same snapshot/resume contract as every parquet stage.
        # Text files carry no parquet footers, so the lineage row count
        # is one bounded job over the SOURCE parquet (the exported
        # non-null triple count), and bytes come from the same Hadoop-FS
        # listing the parquet stages use (suffix .gz).
        from ..functions.rdf import write_ntriples

        rpath = p("rdf_ntriples")

        def _rdf_metrics():
            n_rows = canonical_triples.filter(
                F.col("subj").isNotNull()
                & F.col("pred").isNotNull()
                & F.col("obj").isNotNull()
            ).count()
            _, _, gz_files = _list_stage_files(spark, rpath, suffix=".gz")
            return {
                "rows": n_rows,
                "bytes": sum(b for _, b in gz_files),
                "files": len(gz_files),
            }

        rdf_lines = _run_stage(
            man, "rdf_ntriples", fp, rpath,
            lambda: write_ntriples(canonical_triples, rpath),
            _rdf_metrics,
            lambda entry: spark.read.text(entry["path"]).withColumnRenamed(
                "value", "line"
            ),
            notify,
        )

    notify(f"pipeline finished stages={man.committed()}")
    out = {
        "extracted": parsed,
        "triples": triples,
        "items": items,
        "props": props,
        "mentions": linked,
        "canonical_triples": canonical_triples,
        "nodes": nodes,
        "manifest": man,
    }
    if curate:
        out["docs_curated"] = docs_curated
    if triples_by_subj:
        out["triples_by_subj"] = tbs
    if graph_stats:
        out["graph_degrees"] = degrees
        out["graph_pagerank"] = pr_ranks
    if table_stats:
        out["predicate_stats"] = pred_stats
    if export_rdf:
        out["rdf_ntriples"] = rdf_lines
    return out


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int = 64,
    bucket_col: str = "id_num",
    sort_col: str | None = None,
    path: str | None = None,
) -> None:
    """Bucketed, sorted table write — the co-located-join layout
    (SURVEY.md §1.4: the PDS direct-address index role).  Two tables
    bucketed on the same key join with NO exchange of either side, and a
    point lookup prunes to one bucket; at 100 TB this is the layout for
    the node catalog and anything repeatedly joined on entity id.
    (Iceberg's bucket partition transform is the same idea; the sandbox
    uses the Spark catalog's native bucketing.)"""
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, bucket_col)
        .sortBy(sort_col or bucket_col)
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def point_triples(spark: SparkSession, table: str, entity_id: str) -> DataFrame:
    """All triples of ONE entity from the subject-bucketed layout — the
    reference's per-entity point query (``wdq2.pl Q42``, wdq2.pl:347-406)
    as one pruned bucket probe (``SelectedBucketsCount: 1 out of N``).

    The filter prunes on ``subj_num`` (the bucket column) and exact-matches
    ``subj`` (Q42 and L42 share a numeric id; the string match
    disambiguates inside the one bucket).  Spark's
    DisableUnnecessaryBucketedScan rule turns OFF the bucketed scan for a
    bare filter (no join/agg needs the distribution), which would read
    every bucket file — so the query executes eagerly inside a scoped
    ``autoBucketedScan.enabled=false`` window (a point query's result is
    bounded; eager execution is what pins the pruned plan)."""
    import re

    m = re.match(r"^([QL])(\d+)$", entity_id)
    if not m:
        raise ValueError(f"not an entity id: {entity_id!r}")
    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        return (
            spark.table(table)
            .filter(
                (F.col("subj_num") == int(m.group(2)))
                & (F.col("subj") == entity_id)
            )
            .localCheckpoint(eager=True)
        )
    finally:
        spark.conf.set(key, old)


def register_kg_views(spark: SparkSession, tables: dict) -> list[str]:
    """Expose the pipeline's materialized tables to ``spark.sql`` as
    temp views (kg_triples, kg_nodes, ...) so users query the graph
    declaratively — Catalyst sees the parquet scans directly, partition
    pruning on ``pred`` included."""
    names = []
    for name, df in tables.items():
        if not isinstance(df, DataFrame):
            continue
        view = f"kg_{name}"
        df.createOrReplaceTempView(view)
        names.append(view)
    return names
