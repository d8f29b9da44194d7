"""End-to-end pipeline: materialization, lineage+metrics, checkpoint resume."""

import json
import os
import re
import shutil
from collections import Counter

import pytest
from pyspark.sql import functions as F

from wikidata_dump_processor_spark import datagen
from wikidata_dump_processor_spark.plans import pipeline
from wikidata_dump_processor_spark.plans.pipeline import (
    MANIFEST,
    ROWS_PER_SALT,
    StageManifest,
    run_pipeline,
)

N = 200
# patched in for the salted run: 4 salts at N extracted rows
SALTED_ROWS_PER_SALT = N // 4
# Spark's bucket file names end in _<bucket id>[.c000].<codec>.parquet
BUCKET_IN_NAME = r"_(\d{5})(?:\.c\d{3})?\.[\w.]*parquet$"


@pytest.fixture(scope="module")
def out(tmp_path_factory):
    return str(tmp_path_factory.mktemp("pipe"))


@pytest.fixture(scope="module")
def result(spark, out):
    pages = datagen.gen_pages(spark, N)
    return run_pipeline(
        spark, pages, datagen.gen_aliases(spark), out,
        datagen.gen_entity_catalog(spark), fingerprint=f"n={N}",
    )


@pytest.fixture(scope="module")
def salted_out(spark, tmp_path_factory):
    """The `result` pass with ROWS_PER_SALT patched low, so the
    pred-partitioned writes run under several salts."""
    out = str(tmp_path_factory.mktemp("pipe_salted"))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(pipeline, "ROWS_PER_SALT", SALTED_ROWS_PER_SALT)
        run_pipeline(
            spark, datagen.gen_pages(spark, N), datagen.gen_aliases(spark),
            out, datagen.gen_entity_catalog(spark), fingerprint=f"n={N}",
        )
    return out


def test_all_tables_materialized(result, out):
    for t in ["triples", "items", "props", "mentions", "canonical_triples", "nodes"]:
        assert result[t].count() > 0, t
        assert os.path.exists(os.path.join(out, "_pipeline_manifest.json"))


def test_returned_schemas_equal_inferred(result, spark, out):
    """Stages are read back with the schema recorded at commit; what the
    pipeline returns is what Spark infers from the files."""
    m = json.load(open(os.path.join(out, MANIFEST)))
    for key, stage in [("extracted", "extract"), ("triples", "triples"),
                       ("items", "items"), ("props", "props"),
                       ("mentions", "mentions"),
                       ("canonical_triples", "canonical"), ("nodes", "nodes")]:
        assert "schema" in m[stage], stage
        inferred = spark.read.parquet(m[stage]["path"]).schema
        assert result[key].schema == inferred, key


def test_triples_partitioned_by_pred(out):
    # P####.tsv model: predicate-partitioned layout -> partition pruning
    parts = [d for d in os.listdir(os.path.join(out, "triples")) if d.startswith("pred=")]
    assert "pred=P31" in parts and len(parts) > 3


def test_nodes_one_file_per_bucket(result, spark, out):
    """Writer tasks hold whole buckets: every non-empty bucket of `nodes`
    is exactly one file, the bucket id in its name is the bucket spec's
    pmod(hash(id_num), 64) of every row in it, and `_part_id` is that
    bucket id."""
    nodes = os.path.join(out, "nodes")
    files = [f for f in os.listdir(nodes) if f.endswith(".parquet")]
    named = {}
    for f in files:
        m = re.search(BUCKET_IN_NAME, f)
        assert m, f
        named.setdefault(int(m.group(1)), []).append(f)
    assert all(len(fs) == 1 for fs in named.values()), named
    rows = (
        spark.read.parquet(nodes)
        .select(
            F.regexp_extract(F.input_file_name(), BUCKET_IN_NAME, 1)
            .cast("int").alias("file_bucket"),
            F.pmod(F.hash("id_num"), F.lit(64)).alias("bucket"),
            "_part_id",
        )
        .groupBy("file_bucket", "bucket", "_part_id").count()
        .collect()
    )
    assert rows and {r.file_bucket for r in rows} == set(named)
    for r in rows:
        assert r.file_bucket == r.bucket == r._part_id, r


@pytest.mark.parametrize("table, salted", [
    pytest.param("triples", False, id="triples"),
    pytest.param("canonical_triples", False, id="canonical_triples"),
    pytest.param("triples", True, id="triples-salted"),
    pytest.param("canonical_triples", True, id="canonical_triples-salted"),
])
def test_pred_partitioned_writes_parallel_one_file_per_salt(
    result, salted_out, spark, out, table, salted
):
    """Predicate-partitioned stages keep their file shape: the rows of
    one (pred, salt) lie in exactly one file, and a pred= directory
    holds at most n_salts files (salts may share a writer partition,
    pmod(murmur3(pred, salt), slots)); with one salt that is one file
    per pred.  More than one task writes when the session has more than
    one slot.  The salted run splits P31 over several files and holds
    the unsalted run's rows."""
    path = os.path.join(salted_out if salted else out, table)
    m = json.load(open(os.path.join(out, MANIFEST)))
    slots = spark.sparkContext.defaultParallelism
    rows_per_salt = SALTED_ROWS_PER_SALT if salted else ROWS_PER_SALT
    n_salts = max(1, min(slots, m["extract"]["metrics"]["rows"] // rows_per_salt))
    assert n_salts > 1 if salted else n_salts == 1
    df = spark.read.parquet(path)
    per_pair = (
        df.select(
            "pred", F.pmod(F.xxhash64("subj"), F.lit(n_salts)).alias("salt"),
            F.input_file_name().alias("file"),
        )
        .groupBy("pred", "salt")
        .agg(F.countDistinct("file").alias("n_files"))
        .collect()
    )
    assert per_pair and all(r.n_files == 1 for r in per_pair), per_pair
    files = {
        d[len("pred="):]: sum(
            f.endswith(".parquet") for f in os.listdir(os.path.join(path, d))
        )
        for d in os.listdir(path) if d.startswith("pred=")
    }
    assert set(files) == {r.pred for r in per_pair}
    assert all(n <= n_salts for n in files.values()), files
    if salted:
        assert files["P31"] > 1, files
        got = df.drop("_part_id")
        want = spark.read.parquet(os.path.join(out, table)).select(got.columns)
        assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    if slots > 1:
        assert df.select("_part_id").distinct().count() > 1


def test_manifest_lineage_metrics(out):
    m = json.load(open(os.path.join(out, MANIFEST)))
    assert set(m) >= {"extract", "triples", "items", "props", "mentions", "canonical", "nodes"}
    for stage, entry in m.items():
        assert entry["metrics"]["rows"] >= 0
        assert entry["metrics"]["bytes"] > 0  # Hadoop-FS listing sizes
        assert entry["fingerprint"] == f"n={N}"
        assert entry["state"] == "committed" and entry["started_at"] is not None
        # per-partition row counts present (north_rule lineage+metrics)
        assert isinstance(entry["metrics"]["partitions"], dict)
    assert m["canonical"]["metrics"]["remap_rows"] >= 0  # cached CC count


def test_resume_skips_completed_stages(spark, out, result):
    # kill-and-rerun (SURVEY.md §5 item 5): same fingerprint -> stage
    # outputs are reused; committed_at timestamps must not change
    before = json.load(open(os.path.join(out, MANIFEST)))
    res2 = run_pipeline(
        spark, datagen.gen_pages(spark, N), datagen.gen_aliases(spark), out,
        datagen.gen_entity_catalog(spark), fingerprint=f"n={N}",
    )
    after = json.load(open(os.path.join(out, MANIFEST)))
    for stage in before:
        assert after[stage]["committed_at"] == before[stage]["committed_at"], stage
    assert res2["triples"].count() == result["triples"].count()


def test_partial_resume_recomputes_missing_stage(spark, out):
    # simulate a crash after stage 2: drop 'canonical' + 'nodes' snapshots
    man_path = os.path.join(out, MANIFEST)
    m = json.load(open(man_path))
    before_triples = m["triples"]["committed_at"]
    shutil.rmtree(os.path.join(out, "canonical_triples"))
    for s in ["canonical", "nodes"]:
        m.pop(s)
    json.dump(m, open(man_path, "w"))
    res = run_pipeline(
        spark, datagen.gen_pages(spark, N), datagen.gen_aliases(spark), out,
        datagen.gen_entity_catalog(spark), fingerprint=f"n={N}",
    )
    m2 = json.load(open(man_path))
    assert m2["triples"]["committed_at"] == before_triples  # untouched
    assert "canonical" in m2 and "nodes" in m2  # recomputed
    assert res["canonical_triples"].count() > 0


def test_fingerprint_change_invalidates(spark, out):
    man = StageManifest(out)
    assert man.done("triples", f"n={N}")
    assert not man.done("triples", "n=999")


def test_canonical_subjects_are_merged(result, spark, out):
    # merged humans (shared VIAF) never appear as subjects post-rewrite.
    # re-read from disk: earlier resume tests rewrote the snapshot files.
    tr = result["triples"].select("subj", "pred", "obj")
    cano = spark.read.parquet(os.path.join(out, "canonical_triples"))
    viaf_groups = (
        tr.filter(F.col("pred") == "P214")
        .groupBy("obj").agg(F.collect_set("subj").alias("m"), F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .collect()
    )
    assert viaf_groups
    cano_subjects = {r.subj for r in cano.select("subj").distinct().collect()}
    for g in viaf_groups:
        members = sorted(g.m, key=lambda q: (len(q), q))
        for loser in members[1:]:
            assert loser not in cano_subjects


def test_partition_metrics_hadoop_fs_listing(spark, tmp_path):
    """Lineage metrics enumerate files through the Hadoop FS API — a
    file:-URI path (explicit scheme, where a local glob on the raw string
    would list nothing) must still yield per-file row counts + bytes."""
    from wikidata_dump_processor_spark.plans.pipeline import _partition_metrics

    p = str(tmp_path / "t")
    spark.range(100).repartition(4).write.parquet(p)
    for path in (p, "file://" + p):
        m = _partition_metrics(spark, path)
        assert m["rows"] == 100, path
        assert m["bytes"] > 0
        assert len(m["partitions"]) == 4
        assert all(rel.endswith(".parquet") for rel in m["partitions"])


@pytest.mark.parametrize("layout", ["flat", "pred_partitioned"])
def test_read_committed_stage_submits_no_job(spark, tmp_path, jobs_in, layout):
    """A committed stage is read with the schema recorded at commit: no
    schema-inference job, no listing job (a pred= layout with more than
    32 leaf dirs lists on the driver under a local master), and the
    returned schema, column order included, is the one Spark infers.
    The resume branch of ``_write_stage`` takes the same read."""
    from wikidata_dump_processor_spark.plans.pipeline import _write_stage, read_stage

    out = str(tmp_path / "pipe")
    path = os.path.join(out, "stage")
    partition_by = ["pred"] if layout == "pred_partitioned" else None
    df_fn = lambda: spark.range(400, numPartitions=4).select(  # noqa: E731
        F.concat(F.lit("Q"), F.col("id").cast("string")).alias("subj"),
        F.concat(F.lit("P"), (F.col("id") % 40).cast("string")).alias("pred"),
        F.parse_json(F.lit('{"k": 1}')).alias("v"),
        F.col("id").alias("n"),
    )
    man = StageManifest(out)
    fresh = _write_stage(spark, man, "s", "fp", df_fn, path, partition_by, ["subj"])
    if partition_by:
        assert sum(d.startswith("pred=") for d in os.listdir(path)) == 40
    inferred = spark.read.parquet(path).schema
    assert fresh.schema == inferred

    entry = StageManifest(out).stages["s"]
    assert "schema" in entry
    read, jobs = jobs_in(lambda: read_stage(spark, entry))
    assert jobs == [] and read.schema == inferred

    def resume():
        return _write_stage(
            spark, StageManifest(out), "s", "fp", df_fn, path, partition_by, ["subj"]
        )

    resumed, jobs = jobs_in(resume)
    assert jobs == [] and resumed.schema == inferred
    assert resumed.count() == 400

    # an entry committed before schemas were recorded is still readable
    legacy = {k: v for k, v in entry.items() if k != "schema"}
    assert read_stage(spark, legacy).schema == inferred


def test_interrupted_stage_shows_in_progress_then_recommits(spark, tmp_path):
    """St4 job-queue states (wdq_fetcher.pl:110-123): a stage that starts
    but crashes leaves state=in_progress in the manifest (distinguishable
    from never-started); a re-run re-runs it and flips to committed with
    the original started_at preserved."""
    from wikidata_dump_processor_spark.plans.pipeline import _write_stage

    out = str(tmp_path / "pipe")
    man = StageManifest(out)

    def boom():
        raise RuntimeError("simulated executor loss")

    with pytest.raises(RuntimeError, match="simulated"):
        _write_stage(spark, man, "s1", "fp", boom, os.path.join(out, "s1"))
    m = json.load(open(os.path.join(out, MANIFEST)))
    assert m["s1"]["state"] == "in_progress" and "started_at" in m["s1"]
    t_started = m["s1"]["started_at"]
    man2 = StageManifest(out)  # fresh process resuming
    assert not man2.done("s1", "fp")
    assert man2.committed() == []
    _write_stage(spark, man2, "s1", "fp", lambda: spark.range(10), os.path.join(out, "s1"))
    m2 = json.load(open(os.path.join(out, MANIFEST)))
    assert m2["s1"]["state"] == "committed"
    assert m2["s1"]["metrics"]["rows"] == 10
    assert m2["s1"]["started_at"] >= t_started
    assert man2.committed() == ["s1"]


def test_pipeline_pre_split_multipage_input(spark, tmp_path):
    """run_pipeline(pre_split=True): a corpus of raw multi-page dump rows
    yields the same triples as the equivalent one-page-per-row corpus."""
    import pandas as pd

    from wikidata_dump_processor_spark.schemas import PAGES_SCHEMA

    idxs = list(range(1, 31))
    rows, chunk = [], []
    for k, i in enumerate(idxs):
        chunk += datagen.page_xml(i).split("\n")[1:-1]
        if (k + 1) % 10 == 0:  # 3 stream rows of 10 pages each
            rows.append({
                "url": f"https://dumps.example/part-{len(rows)}",
                "warc_ts": datagen.page_row(0)["warc_ts"],
                "html": "\n".join(["<mediawiki>"] + chunk + ["</mediawiki>"]).encode(),
                "text": None,
                "lang": "en",
            })
            chunk = []
    raw = spark.createDataFrame(pd.DataFrame(rows), PAGES_SCHEMA)
    res = run_pipeline(
        spark, raw, datagen.gen_aliases(spark), str(tmp_path / "pipe"),
        fingerprint="ms1", pre_split=True,
    )
    got = res["extracted"].count()
    assert got == len(idxs)
    # triples equal the per-page-corpus derivation for the same indexes
    per_page = datagen.gen_pages(spark, 31).filter(F.col("url").rlike("Page_([1-9]|[12][0-9]|30)$"))
    from wikidata_dump_processor_spark.operators.text_extract import extract_text
    from wikidata_dump_processor_spark.operators.triples import extract_triples, parse_entities

    want = {
        (r.subj, r.pred, r.obj)
        for r in extract_triples(parse_entities(extract_text(per_page))).collect()
    }
    have = {(r.subj, r.pred, r.obj) for r in res["triples"].collect()}
    assert have == want


def test_lifecycle_notifications(spark, tmp_path):
    """St9 (wdq0.pl:123-140, wdq0b.pl:148-156): started/finished
    announcements per run and per stage; resumed (skipped) stages are
    silent; the file sink records one line per event; a raising sink
    never fails the run."""
    from wikidata_dump_processor_spark.plans.notify import Notifier, file_sink

    pages = datagen.gen_pages(spark, 40).localCheckpoint(eager=True)
    out = str(tmp_path / "pipe")
    log = str(tmp_path / "notify.log")
    msgs = []
    n = Notifier(sink=lambda m: (msgs.append(m), file_sink(log)(m)))
    run_pipeline(spark, pages, datagen.gen_aliases(spark), out,
                 fingerprint="n1", notifier=n)
    assert any("pipeline started" in m for m in msgs)
    assert any("stage extract started" in m for m in msgs)
    assert any("stage extract finished rows=40" in m for m in msgs)
    assert any("stage nodes finished" in m for m in msgs)
    assert msgs[-1].startswith("wdq: pipeline finished stages=")
    assert len(open(log).read().splitlines()) == len(msgs)
    # resume: stages all skip -> only run start/finish announced
    msgs.clear()
    run_pipeline(spark, pages, datagen.gen_aliases(spark), out,
                 fingerprint="n1", notifier=n)
    assert not any(m.startswith("wdq: stage ") for m in msgs) and len(msgs) == 2
    # a raising sink must not break the pipeline (fire-and-forget)
    bad = Notifier(sink=lambda m: 1 / 0)
    run_pipeline(spark, pages, datagen.gen_aliases(spark), out,
                 fingerprint="n1", notifier=bad)


def test_preflight_gates(spark, tmp_path):
    """St6 (wdq0.pl:163-181, 278-281): completeness/size sanity gates fail
    BEFORE any stage commits."""
    from wikidata_dump_processor_spark.plans.pipeline import (
        IncompleteInputError,
        preflight_input_gate,
    )

    pages = datagen.gen_pages(spark, 50)
    ppath = str(tmp_path / "pages")
    pages.write.parquet(ppath)
    size = preflight_input_gate(spark, ppath, min_bytes=1)
    assert size > 0
    with pytest.raises(IncompleteInputError, match="in progress"):
        preflight_input_gate(spark, ppath, min_bytes=size + 1)
    with pytest.raises(IncompleteInputError, match="maximum"):
        preflight_input_gate(spark, ppath, max_bytes=size - 1)
    # row-count gate inside run_pipeline: nothing commits on failure
    out2 = str(tmp_path / "pipe")
    with pytest.raises(IncompleteInputError, match="outside expected"):
        run_pipeline(
            spark, spark.read.parquet(ppath), datagen.gen_aliases(spark), out2,
            expected_pages=(1000, None),
        )
    assert not os.path.exists(os.path.join(out2, "extracted"))


def test_graceful_stop_and_resume(spark, tmp_path):
    """St7: a stop request drains the committed stages, raises
    GracefulStop with a consistent manifest, and a re-run resumes."""
    from wikidata_dump_processor_spark.plans.pipeline import GracefulStop

    pages = datagen.gen_pages(spark, 60).localCheckpoint(eager=True)
    out = str(tmp_path / "pipe")
    stop = str(tmp_path / "STOP")
    open(stop, "w").close()
    with pytest.raises(GracefulStop) as ei:
        run_pipeline(spark, pages, datagen.gen_aliases(spark), out,
                     fingerprint="g1", stop_file=stop)
    assert "extract" in ei.value.completed  # stage 1 committed before stop
    man = json.load(open(os.path.join(out, MANIFEST)))
    assert man["extract"]["state"] == "committed"
    # St4: never-started stages read `pending` after a mid-run stop —
    # distinguishable from a crashed `in_progress` stage
    assert man["canonical"]["state"] == "pending"
    assert man["nodes"]["state"] == "pending"
    assert man["canonical"]["planned_at"] is not None
    os.remove(stop)
    res = run_pipeline(spark, pages, datagen.gen_aliases(spark), out,
                       fingerprint="g1")
    assert res["canonical_triples"].count() > 0


# run_pipeline's stop checks in order: the stage whose "finished" notice
# requests the stop, and the stages that run commits before the check
STOP_CHECKS = [
    ("extract", ["extract"]),
    ("triples", ["triples", "items", "props", "mentions"]),
    ("nodes", ["canonical", "nodes"]),
    ("triples_by_subj", ["triples_by_subj"]),
    ("predicate_stats", ["predicate_stats"]),
    ("graph_degrees", ["graph_degrees"]),
    ("graph_pagerank", ["graph_pagerank"]),
]


def _stage_rows(df):
    """A stage's rows without ``_part_id``; doubles rounded to 12 places,
    since a PageRank sum may add its partials in another order."""
    cols = [c for c in df.columns if c != "_part_id"]
    return Counter(
        repr(tuple(round(v, 12) if isinstance(v, float) else v for v in r))
        for r in df.select(cols).collect()
    )


def test_graceful_stop_at_every_check(spark, tmp_path):
    """St7 at each of run_pipeline's 7 stop checks, all optional stages
    on: a stop requested as a stage finishes drains its group, raises
    GracefulStop with the stages committed so far, and the next run
    resumes after them.  The run with no stop file commits only
    rdf_ntriples, and every stage holds the rows of a clean run."""
    from wikidata_dump_processor_spark.plans.pipeline import GracefulStop

    pages = datagen.gen_pages(spark, 80).localCheckpoint(eager=True)
    al, cat = datagen.gen_aliases(spark), datagen.gen_entity_catalog(spark)
    kw = dict(
        fingerprint="stops", node_buckets=4, triples_by_subj=True,
        table_stats=True, graph_stats=True, pagerank_iters=3, export_rdf=True,
    )
    clean = run_pipeline(spark, pages, al, str(tmp_path / "clean"), cat, **kw)
    out, stop = str(tmp_path / "stopped"), str(tmp_path / "STOP")
    committed = []
    for stage, group in STOP_CHECKS:
        def request_stop(msg, stage=stage):
            if msg.startswith(f"stage {stage} finished"):
                open(stop, "w").close()

        with pytest.raises(GracefulStop) as ei:
            run_pipeline(spark, pages, al, out, cat, stop_file=stop,
                         notifier=request_stop, **kw)
        os.remove(stop)
        committed += group
        assert sorted(ei.value.completed) == sorted(committed), stage

    def committed_at():
        man = json.load(open(os.path.join(out, MANIFEST)))
        return {k: v.get("committed_at") for k, v in man.items()}

    before = committed_at()
    res = run_pipeline(spark, pages, al, out, cat, stop_file=stop, **kw)
    after = committed_at()
    assert [k for k in after if after[k] != before[k]] == ["rdf_ntriples"]
    for name, df in clean.items():
        if name != "manifest":
            assert _stage_rows(res[name]) == _stage_rows(df), name


# stop after extract, resume, then resume a complete run; prints the
# session's slots and the stages the last pass committed again
_LANES_RUN = """
import json, os, sys
from wikidata_dump_processor_spark import datagen
from wikidata_dump_processor_spark.plans.pipeline import (
    MANIFEST, GracefulStop, run_pipeline,
)
from wikidata_dump_processor_spark.session import get_spark

cpus, out = int(sys.argv[1]), sys.argv[2]
spark = get_spark("lanes", cpus=cpus, shuffle_partitions=8, master=f"local[{cpus}]")
pages = datagen.gen_pages(spark, 300).localCheckpoint(eager=True)
al, cat = datagen.gen_aliases(spark), datagen.gen_entity_catalog(spark)
run = lambda **kw: run_pipeline(spark, pages, al, out, cat, fingerprint="lanes", **kw)
stop = out + ".STOP"
open(stop, "w").close()
try:
    run(stop_file=stop)
    sys.exit("the stop file did not stop the run")
except GracefulStop:
    os.remove(stop)
run()
committed = lambda: {k: v["committed_at"] for k, v in
                     json.load(open(os.path.join(out, MANIFEST))).items()}
before = committed()
run()
print(json.dumps({
    "slots": spark.sparkContext.defaultParallelism,
    "recommitted": sorted(k for k, t in committed().items() if before.get(k) != t),
}))
spark.stop()
"""


def test_one_lane_run_matches_two_lanes(spark, tmp_path):
    """Below 4 slots every stage group runs in one lane (canonical, then
    nodes).  A local[2] run, stopped after extract and resumed, writes the
    same canonical triples and nodes rows as a local[4] run (two lanes),
    and a resume of either complete run commits nothing new."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    rows = {}
    for cpus in (2, 4):
        out = str(tmp_path / f"local{cpus}")
        r = subprocess.run(
            [sys.executable, "-c", _LANES_RUN, str(cpus), out],
            capture_output=True, text=True, timeout=600, cwd=repo, env=env,
        )
        assert r.returncode == 0, r.stderr[-3000:]
        summary = json.loads(r.stdout.strip().splitlines()[-1])
        assert summary == {"slots": cpus, "recommitted": []}, summary
        rows[cpus] = {
            t: Counter(repr(tuple(r)) for r in spark.read.parquet(
                os.path.join(out, t)).drop("_part_id").collect())
            for t in ("canonical_triples", "nodes")
        }
    for t in ("canonical_triples", "nodes"):
        assert rows[2][t] and rows[2][t] == rows[4][t], t


def test_warm_pass_compiles_no_generated_class(spark, tmp_path):
    """A second identical pass finds every whole-stage and expression
    class in Spark's generated-class cache: a pass needs ~146 distinct
    classes, so under Spark's default cap of 100 (LRU) each was evicted
    before the next pass asked for it and every pass recompiled ~140."""
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    counts = []
    for i in range(2):
        before = compiles.getCount()
        run_pipeline(
            spark, datagen.gen_pages(spark, N), datagen.gen_aliases(spark),
            str(tmp_path / f"pass{i}"), datagen.gen_entity_catalog(spark),
            fingerprint=f"n={N}",
        )
        counts.append(compiles.getCount() - before)
    assert counts[1] == 0, counts


def test_sql_views_over_pipeline_outputs(result, spark):
    """register_kg_views: the materialized graph is queryable via
    spark.sql, with predicate pruning available on the pred-partitioned
    triples."""
    from wikidata_dump_processor_spark.plans.pipeline import register_kg_views

    # re-read from the manifest: earlier resume tests rewrite the stage
    # files, so the fixture's cached DataFrames may point at stale files
    man = result["manifest"]
    fresh = {
        "canonical_triples": spark.read.parquet(man.stages["canonical"]["path"]),
        "nodes": spark.read.parquet(man.stages["nodes"]["path"]),
    }
    views = register_kg_views(spark, fresh)
    assert "kg_canonical_triples" in views and "kg_nodes" in views
    top = spark.sql(
        """
        SELECT pred, count(*) AS n FROM kg_canonical_triples
        GROUP BY pred ORDER BY n DESC, pred LIMIT 3
        """
    ).collect()
    assert top and top[0].n >= top[-1].n
    joined = spark.sql(
        """
        SELECT count(*) AS n
        FROM kg_canonical_triples t JOIN kg_nodes s ON t.subj = s.id
        WHERE t.pred = 'P31'
        """
    ).first()
    assert joined.n > 0


def test_html_report_writer(spark, tmp_path):
    """K4 (doi-count.pl:168-287): capped HTML table report."""
    from wikidata_dump_processor_spark.functions.validators import write_html_report

    df = spark.createDataFrame(
        [("10.1000", "good", 5), ("10.38", "denylisted", None)],
        "prefix string, verdict string, cnt int",
    )
    p = str(tmp_path / "report.html")
    n = write_html_report(df, p, cap=1, title="doi <report>")
    html = open(p).read()
    assert n == 1 and html.count("<tr>") == 2  # header + 1 capped row
    assert "doi &lt;report&gt;" in html


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located join: two tables bucketed on the same key join without
    shuffling either side (no Exchange in the executed plan), and the
    sort-merge join reuses the bucket sort."""
    from wikidata_dump_processor_spark.plans.pipeline import write_bucketed

    a = spark.range(0, 5000).select(F.col("id").alias("id_num"),
                                    (F.col("id") * 2).alias("x"))
    b = spark.range(0, 5000, 7).select(F.col("id").alias("id_num"),
                                       (F.col("id") + 1).alias("y"))
    write_bucketed(a, "t_bkt_a", buckets=8, path=str(tmp_path / "a"))
    write_bucketed(b, "t_bkt_b", buckets=8, path=str(tmp_path / "b"))
    try:
        # force SMJ (tiny test tables would auto-broadcast): the point is
        # that the bucket layout removes the hash-partition shuffle
        j = spark.table("t_bkt_a").hint("merge").join(spark.table("t_bkt_b"), "id_num")
        n = j.count()
        assert n == b.count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan[:2000]
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bkt_a")
        spark.sql("DROP TABLE IF EXISTS t_bkt_b")


def test_pipeline_nodes_bucketed_point_lookup(result, spark, out):
    """The pipeline's own `nodes` output ships the PDS-role bucketed
    layout (PDS.pm:136-150): a point-lookup join on id_num plans with NO
    Exchange on the nodes side — only the probe side shuffles to the
    bucket count."""
    man = StageManifest(out)
    tbl = man.stages["nodes"]["metrics"]["table"]
    assert spark.catalog.tableExists(tbl)
    assert man.stages["nodes"]["metrics"]["buckets"] == 64
    ids = spark.range(0, 50).select(F.col("id").alias("id_num"))
    j = spark.table(tbl).hint("merge").join(ids, "id_num")
    j.count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    # exactly one hash exchange: the probe (ids) side; nodes reads its
    # bucketed files in place
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]


def test_nodes_table_reregistered_on_resume(spark, tmp_path):
    """A fresh session loses the in-memory catalog's table metadata; the
    resume path re-registers the bucketed nodes layout via DDL from the
    manifest, restoring exchange-free planning."""
    out = str(tmp_path / "kg")
    pages = datagen.gen_pages(spark, 40).localCheckpoint(eager=True)
    al, cat = datagen.gen_aliases(spark), datagen.gen_entity_catalog(spark)
    res = run_pipeline(spark, pages, al, out, cat, fingerprint="f")
    tbl = res["manifest"].stages["nodes"]["metrics"]["table"]
    n = res["nodes"].count()
    # external table: DROP removes metadata only, files stay
    spark.sql(f"DROP TABLE {tbl}")
    assert not spark.catalog.tableExists(tbl)
    res2 = run_pipeline(spark, pages, al, out, cat, fingerprint="f")
    assert spark.catalog.tableExists(tbl)
    assert res2["nodes"].count() == n
    plan = (
        spark.table(tbl).hint("merge")
        .join(spark.range(5).select(F.col("id").alias("id_num")), "id_num")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]


def test_pipeline_triples_by_subj_colocated(spark, tmp_path):
    """VERDICT r4 #3: subject-bucketed triples layout — the reference's
    per-entity point query (wdq2.pl:347-406) is one pruned bucket, and a
    nodes join on id plans with NO Exchange on EITHER side (co-located:
    same bucket count, same long key domain)."""
    out = str(tmp_path / "kg")
    pages = datagen.gen_pages(spark, 120).localCheckpoint(eager=True)
    al, cat = datagen.gen_aliases(spark), datagen.gen_entity_catalog(spark)
    res = run_pipeline(
        spark, pages, al, out, cat, fingerprint="f", triples_by_subj=True
    )
    man = res["manifest"]
    tbs_tbl = man.stages["triples_by_subj"]["metrics"]["table"]
    nodes_tbl = man.stages["nodes"]["metrics"]["table"]
    tbs = spark.table(tbs_tbl)
    cano = res["canonical_triples"]
    assert tbs.count() == cano.count()

    # s6-style point query: all triples of one entity -> ONE bucket file
    from wikidata_dump_processor_spark.plans.pipeline import point_triples

    row = tbs.filter(F.col("subj_num").isNotNull()).select("subj", "subj_num").first()
    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    spark.conf.set(key, "false")
    try:
        q = tbs.filter(F.col("subj_num") == row.subj_num)
        plan = q._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, "true")
    assert "SelectedBucketsCount: 1 out of 64" in plan, plan[:2000]
    pq = point_triples(spark, tbs_tbl, row.subj)
    assert pq.count() == cano.filter(F.col("subj") == row.subj).count() > 0

    # co-located join: zero exchanges on BOTH sides
    nodes = spark.table(nodes_tbl)
    j = nodes.hint("merge").join(tbs, nodes.id_num == tbs.subj_num)
    assert j.count() > 0
    jplan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in jplan
    assert "Exchange" not in jplan, jplan[:3000]

    # resume: stage skipped, table re-registered from the manifest DDL
    before = man.stages["triples_by_subj"]["committed_at"]
    spark.sql(f"DROP TABLE {tbs_tbl}")
    res2 = run_pipeline(
        spark, pages, al, out, cat, fingerprint="f", triples_by_subj=True
    )
    assert res2["manifest"].stages["triples_by_subj"]["committed_at"] == before
    assert spark.catalog.tableExists(tbs_tbl)
    assert res2["triples_by_subj"].count() == cano.count()


def test_pipeline_table_stats_stage(spark, tmp_path):
    """table_stats=True materializes the predicate_stats report as a
    resumable stage; the query planner's stats ordering then reads a
    dimension-sized table instead of re-scanning the corpus."""
    from wikidata_dump_processor_spark.operators.triples import (
        predicate_stats,
    )
    from wikidata_dump_processor_spark.plans.bgp import match_patterns

    out = str(tmp_path / "kg")
    pages = datagen.gen_pages(spark, 120).localCheckpoint(eager=True)
    al, cat = datagen.gen_aliases(spark), datagen.gen_entity_catalog(spark)
    res = run_pipeline(
        spark, pages, al, out, cat, fingerprint="f", table_stats=True
    )
    st = res["predicate_stats"]
    assert set(st.columns) >= {"pred", "n_triples", "n_subj", "n_obj"}
    man = res["manifest"]
    assert man.stages["predicate_stats"]["state"] == "committed"
    # values match a direct computation (n_triples is exact either way)
    got = {r["pred"]: r["n_triples"] for r in st.collect()}
    want = {
        r["pred"]: r["n_triples"]
        for r in predicate_stats(res["canonical_triples"]).collect()
    }
    assert got == want
    # and it drives the planner: a query with stats= still answers right
    q = match_patterns(
        res["canonical_triples"],
        [("?x", "P31", "?c"), ("?x", "P214", "?v")],
        stats=st.drop("_part_id"),
    )
    assert q.count() > 0
    # resume: second run skips the stage
    before = man.stages["predicate_stats"]["committed_at"]
    res2 = run_pipeline(
        spark, pages, al, out, cat, fingerprint="f", table_stats=True
    )
    assert res2["manifest"].stages["predicate_stats"]["committed_at"] == before


def test_attach_labels_bucketed_no_exchange_on_nodes(spark, tmp_path):
    """wdq2 'labels' render mode (wdq2.pl:484-502) over the pipeline's
    bucketed nodes table: labels come back exactly, and the lookup join
    keeps the nodes side exchange-free (single numeric bucket key; the
    exact-id check is a residual condition, never a second hash key)."""
    from wikidata_dump_processor_spark.plans.bgp import (
        attach_labels,
        match_patterns,
    )

    out = str(tmp_path / "kg")
    pages = datagen.gen_pages(spark, 120).localCheckpoint(eager=True)
    al, cat = datagen.gen_aliases(spark), datagen.gen_entity_catalog(spark)
    res = run_pipeline(spark, pages, al, out, cat, fingerprint="f")
    nodes = spark.table(res["manifest"].stages["nodes"]["metrics"]["table"])
    q = match_patterns(res["canonical_triples"], [("?x", "P31", "?cls")])
    lab = attach_labels(q, nodes, columns=["x"])
    rows = lab.collect()
    assert rows
    nd = {r["id"]: r["label"] for r in nodes.select("id", "label").collect()}
    for r in rows:
        assert r["x_label"] == nd.get(r["x"]), r

    # at-scale plan (broadcast disabled): SMJ against the bucketed scan,
    # every hash exchange is on the probe side — none repartitions nodes
    saved = {}
    for k in (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ):
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, "-1")
    try:
        lab2 = attach_labels(q, nodes, columns=["x"])
        lab2.collect()
        plan = (
            lab2._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
        assert "SortMergeJoin" in plan and "Bucketed: true" in plan
        ex = [
            ln for ln in plan.splitlines()
            if "Exchange hashpartitioning" in ln
        ]
        assert ex and all("__lab" not in ln for ln in ex), plan[:3000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_attach_labels_single_nodes_scan_multi_column(spark, tmp_path):
    """r7 single-scan rework: rendering THREE entity columns scans the
    bucketed nodes table exactly once (probe union -> semi-join ->
    one reused broadcast of the needed label rows), with per-column
    labels identical to the per-column-join semantics."""
    from pyspark.sql import functions as F

    from wikidata_dump_processor_spark.plans.bgp import (
        attach_labels,
        match_patterns,
    )

    out = str(tmp_path / "kg")
    pages = datagen.gen_pages(spark, 120).localCheckpoint(eager=True)
    al, cat = datagen.gen_aliases(spark), datagen.gen_entity_catalog(spark)
    res = run_pipeline(spark, pages, al, out, cat, fingerprint="f")
    nodes = spark.table(res["manifest"].stages["nodes"]["metrics"]["table"])
    q = match_patterns(res["canonical_triples"], [("?x", "P31", "?cls")])
    q3 = q.withColumn("y", F.col("x"))
    lab = attach_labels(q3, nodes, columns=["x", "cls", "y"])
    rows = lab.collect()
    assert rows
    nd = {r["id"]: r["label"] for r in nodes.select("id", "label").collect()}
    for r in rows:
        assert r["x_label"] == nd.get(r["x"]), r
        assert r["y_label"] == r["x_label"], r
        assert r["cls_label"] == nd.get(r["cls"]), r
    plan = (
        lab._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    # ONE FileScan of the nodes table for 3 label columns (bucketed
    # reading may be disabled by the planner when the probe side
    # broadcasts — the single-scan property is what matters here; the
    # EXPLAIN audit covers the broadcast-disabled bucketed shape)
    n_scans = len([
        ln for ln in plan.splitlines()
        if "FileScan" in ln and "kg_nodes_" in ln
    ])
    assert n_scans == 1, plan[:3000]
    assert "ReusedExchange" in plan, plan[:3000]


def test_cli_module_entry_end_to_end(spark, tmp_path):
    """VERDICT r4 #4 (packaging): `python -m wikidata_dump_processor_spark
    PAGES OUT --aliases A --catalog C` runs the fixture pipeline end to
    end in a fresh process and prints a one-line JSON summary.  (pip
    install -e . needs the `wheel` package this sandbox lacks; the module
    entry is the installation-free deployment path and what CI drives.)"""
    import subprocess
    import sys

    pages_dir = str(tmp_path / "pages")
    al_dir = str(tmp_path / "aliases")
    cat_dir = str(tmp_path / "catalog")
    out = str(tmp_path / "out")
    datagen.gen_pages(spark, 60).write.parquet(pages_dir)
    datagen.gen_aliases(spark).write.parquet(al_dir)
    datagen.gen_entity_catalog(spark).write.parquet(cat_dir)
    bench_dir = str(tmp_path / "benchmark")
    spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog tonight",)],
        "text string",
    ).write.parquet(bench_dir)
    r = subprocess.run(
        [sys.executable, "-m", "wikidata_dump_processor_spark",
         pages_dir, out, "--aliases", al_dir, "--catalog", cat_dir,
         "--cpus", "4", "--curate", "--pii-redact", "--para-dedup",
         "--benchmark", bench_dir, "--decontam-ngram", "6",
         "--fingerprint", "cli-test"],
        capture_output=True, text=True, timeout=600,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert r.returncode == 0, r.stderr[-3000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["fingerprint"] == "cli-test"
    assert set(summary["stages"]) >= {
        "extract", "triples", "items", "props", "mentions",
        "canonical", "nodes", "curate",
    }
    assert summary["curate_filters"]["input_rows"] > 0
    assert os.path.exists(os.path.join(out, MANIFEST))
    assert os.path.isdir(os.path.join(out, "docs_curated"))
    # the CLI's --pii-redact flag reached the curation chain
    cur = spark.read.parquet(os.path.join(out, "docs_curated"))
    assert "text_redacted" in cur.columns

    # query subcommand (wdq2.pl invocation shape): BGP over the run's
    # canonical triples, TSV out
    q1 = subprocess.run(
        [sys.executable, "-m", "wikidata_dump_processor_spark", "query",
         out, "?x P31 ?cls", "--cpus", "4", "--limit", "5"],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert q1.returncode == 0, q1.stderr[-3000:]
    lines = [ln for ln in q1.stdout.splitlines() if "\t" in ln]
    assert lines[0] == "cls\tx" and len(lines) == 6

    # --labels render mode + MINUS negation in one invocation: entity
    # cells render as 'Qid (label)' from the bucketed nodes table, and
    # the --minus group drops authority-controlled subjects
    q3 = subprocess.run(
        [sys.executable, "-m", "wikidata_dump_processor_spark", "query",
         out, "?x P31 ?cls", "--minus", "?x P214 ?v",
         "--labels", "--stats", "--cpus", "4", "--limit", "5"],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert q3.returncode == 0, q3.stderr[-3000:]
    l3 = [ln for ln in q3.stdout.splitlines() if "\t" in ln]
    assert l3[0] == "cls\tx"
    # at least one x cell rendered with its node label
    assert any(
        "(" in ln.split("\t")[1] and ln.split("\t")[1].endswith(")")
        for ln in l3[1:]
    ), q3.stdout

    # bare-id point query, ndjson out
    subj = spark.read.parquet(
        os.path.join(out, "canonical_triples")
    ).select("subj").first()[0]
    q2 = subprocess.run(
        [sys.executable, "-m", "wikidata_dump_processor_spark", "query",
         out, subj, "--cpus", "4", "--json"],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert q2.returncode == 0, q2.stderr[-3000:]
    recs = [json.loads(ln) for ln in q2.stdout.splitlines()
            if ln.startswith("{")]
    assert recs and all(set(r) == {"pred", "obj"} for r in recs)


def test_pipeline_graph_stats_stage(spark, tmp_path):
    """graph_stats=True adds snapshot-committed degree + PageRank
    stages over the canonical graph, resumable like every stage."""
    out = str(tmp_path / "gs")
    pages = datagen.gen_pages(spark, 80)
    kw = dict(fingerprint="gs-test", graph_stats=True, pagerank_iters=5)
    res = run_pipeline(
        spark, pages, datagen.gen_aliases(spark), out,
        datagen.gen_entity_catalog(spark), **kw,
    )
    deg = res["graph_degrees"]
    pr = res["graph_pagerank"]
    assert set(deg.columns) == {"id", "out_deg", "in_deg", "_part_id"}
    assert set(pr.columns) == {"id", "rank", "_part_id"}
    assert abs(pr.agg({"rank": "sum"}).first()[0] - 1.0) < 1e-9
    # degree ids live in the canonical id space
    canon = res["canonical_triples"]
    subj_ids = {r.subj for r in canon.select("subj").distinct().collect()}
    assert {r.id for r in deg.collect() if r.out_deg > 0} <= subj_ids
    man = json.load(open(os.path.join(out, "_pipeline_manifest.json")))
    assert man["graph_pagerank"]["metrics"]["iterations"] == 5
    assert man["graph_degrees"]["state"] == "committed"

    # resume: a second run skips both stages (same snapshot bytes)
    f1 = os.path.getmtime(os.path.join(out, "graph_pagerank", "_SUCCESS"))
    run_pipeline(
        spark, pages, datagen.gen_aliases(spark), out,
        datagen.gen_entity_catalog(spark), **kw,
    )
    assert os.path.getmtime(
        os.path.join(out, "graph_pagerank", "_SUCCESS")
    ) == f1


def test_export_rdf_stage_and_resume(spark, tmp_path):
    """export_rdf=True: the rdf_ntriples stage commits gzip N-Triples
    matching to_ntriples(canonical) line-for-line, carries row/byte
    lineage in the manifest, and a re-run resumes (no rewrite)."""
    from wikidata_dump_processor_spark.functions.rdf import to_ntriples

    out = str(tmp_path / "rdf_pipe")
    pages = datagen.gen_pages(spark, 120)
    res = run_pipeline(
        spark, pages, datagen.gen_aliases(spark), out,
        fingerprint="n=120", export_rdf=True,
    )
    got = sorted(r.line for r in res["rdf_ntriples"].collect())
    want = sorted(
        r.line for r in to_ntriples(res["canonical_triples"]).collect()
    )
    assert got == want and len(got) > 0
    m = json.load(open(os.path.join(out, MANIFEST)))
    assert m["rdf_ntriples"]["state"] == "committed"
    assert m["rdf_ntriples"]["metrics"]["rows"] == len(got)
    assert m["rdf_ntriples"]["metrics"]["bytes"] > 0
    # resume: committed_at unchanged on re-run
    before = m["rdf_ntriples"]["committed_at"]
    run_pipeline(
        spark, datagen.gen_pages(spark, 120), datagen.gen_aliases(spark),
        out, fingerprint="n=120", export_rdf=True,
    )
    after = json.load(open(os.path.join(out, MANIFEST)))
    assert after["rdf_ntriples"]["committed_at"] == before
