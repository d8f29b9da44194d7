"""Snapshot catalog (plans/snapshots.py, VERDICT r5 #4): snapshot ids,
time travel, and St3 start-snapshot-id incremental reads behind the
StageManifest, parameterized over every name in ``snapshots.BACKENDS``."""

import os

import pytest
from pyspark.sql import functions as F

from wikidata_dump_processor_spark import datagen
from wikidata_dump_processor_spark.plans.pipeline import (
    StageManifest,
    run_pipeline,
)
from wikidata_dump_processor_spark.plans.snapshots import (
    BACKENDS,
    open_catalog,
    read_at,
    read_delta,
)


def _write(spark, path, lo, hi, mode="overwrite"):
    spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).coalesce(2).write.mode(mode).parquet(path)


@pytest.mark.parametrize("backend", BACKENDS)
def test_every_backend_name_opens_a_catalog(tmp_path, backend):
    cat = open_catalog(str(tmp_path / "out"), backend)
    assert cat.backend == backend and cat.current_snapshot_id("s") is None


@pytest.mark.parametrize("backend", ["iceberg", "pyiceberg", "auto"])
def test_unknown_backend_names_raise(tmp_path, backend):
    """Names outside ``BACKENDS`` are refused by the catalog and by the
    CLI's ``--snapshot-backend`` (argparse exits 2 before any Spark)."""
    from wikidata_dump_processor_spark.__main__ import main

    with pytest.raises(ValueError, match="unknown snapshot backend"):
        open_catalog(str(tmp_path / "out"), backend)
    with pytest.raises(SystemExit) as e:
        main(["-", str(tmp_path / "cli"), "--snapshot-backend", backend])
    assert e.value.code == 2


@pytest.mark.parametrize("backend", BACKENDS)
def test_commit_time_travel_and_delta(spark, tmp_path, backend):
    root = str(tmp_path / "out")
    stage_dir = os.path.join(root, "stage_a")
    cat = open_catalog(root, backend)

    _write(spark, stage_dir, 0, 10)
    s1 = cat.commit("stage_a", stage_dir, "fp1")
    _write(spark, stage_dir, 10, 25, mode="append")
    s2 = cat.commit("stage_a", stage_dir, "fp2")
    assert s1 != s2
    assert cat.current_snapshot_id("stage_a") == s2
    assert set(cat.snapshot_ids("stage_a")) >= {s1, s2}

    # time travel: AS OF s1 sees only the first write
    at1 = read_at(spark, cat, "stage_a", s1)
    assert sorted(r.id for r in at1.collect()) == list(range(10))
    at2 = read_at(spark, cat, "stage_a", s2)
    assert at2.count() == 25

    # St3 incremental: delta since s1 = exactly the appended rows
    delta = read_delta(spark, cat, "stage_a", s1)
    assert sorted(r.id for r in delta.collect()) == list(range(10, 25))
    # nothing new since the current snapshot -> empty, schema intact
    none = read_delta(spark, cat, "stage_a", s2)
    assert none.count() == 0
    assert set(none.columns) == {"id", "v"}


@pytest.mark.parametrize("backend", BACKENDS)
def test_catalog_reopen_preserves_snapshots(spark, tmp_path, backend):
    root = str(tmp_path / "out")
    stage_dir = os.path.join(root, "s")
    cat = open_catalog(root, backend)
    _write(spark, stage_dir, 0, 5)
    s1 = cat.commit("s", stage_dir, "fp")
    # a fresh process/session reads the same log
    cat2 = open_catalog(root, backend)
    assert cat2.current_snapshot_id("s") == s1
    assert read_at(spark, cat2, "s", s1).count() == 5


@pytest.mark.parametrize("backend", BACKENDS)
def test_pipeline_resume_with_snapshot_backend(spark, tmp_path, backend):
    """Resume semantics with the snapshot tier on: a re-run under the
    same fingerprint skips every stage and the committed snapshot ids
    stay EXACTLY as the first run left them; manifest metrics carry the
    same row counts as a backend-less run."""
    out = str(tmp_path / "kg")
    pages = datagen.gen_pages(spark, 80).localCheckpoint(eager=True)
    al, cat_df = datagen.gen_aliases(spark), datagen.gen_entity_catalog(spark)
    res = run_pipeline(
        spark, pages, al, out, cat_df, fingerprint="f",
        snapshot_backend=backend,
    )
    man = res["manifest"]
    sids = {
        s: e["snapshot_id"]
        for s, e in man.stages.items()
        if e.get("state") == "committed"
    }
    assert sids and all(isinstance(v, int) for v in sids.values())
    assert all(
        e.get("snapshot_backend") == backend
        for e in man.stages.values()
        if e.get("state") == "committed"
    )

    res2 = run_pipeline(
        spark, pages, al, out, cat_df, fingerprint="f",
        snapshot_backend=backend,
    )
    man2 = res2["manifest"]
    for s, sid in sids.items():
        assert man2.stages[s]["snapshot_id"] == sid, s  # resume: no re-commit

    # metrics parity with the plain manifest (backend must not perturb)
    out_plain = str(tmp_path / "kg_plain")
    res3 = run_pipeline(spark, pages, al, out_plain, cat_df, fingerprint="f")
    for s in sids:
        assert (
            res3["manifest"].stages[s]["metrics"]["rows"]
            == man.stages[s]["metrics"]["rows"]
        ), s

    # time travel through the catalog matches the live stage output
    cat = StageManifest(out, snapshot_backend=backend).snapshots
    tt = read_at(spark, cat, "triples", sids["triples"])
    assert tt.count() == res["triples"].count()
