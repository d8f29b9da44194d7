"""Source/sink operators, incremental streaming, validators."""

import pytest
import os

from pyspark.sql import functions as F

from wikidata_dump_processor_spark import datagen
from wikidata_dump_processor_spark.functions.ids import id_kind, id_num
from wikidata_dump_processor_spark.functions.validators import doi_report, doi_verdict
from wikidata_dump_processor_spark.sources.readers import (
    point_lookup,
    read_pages,
    read_tsv,
    write_tsv,
)
from wikidata_dump_processor_spark.streaming.incremental import incremental_pages_stream


def test_pages_roundtrip_and_point_lookup(spark, tmp_path):
    p = str(tmp_path / "pages")
    datagen.gen_pages(spark, 50).write.parquet(p)
    df = read_pages(spark, p)
    assert df.count() == 50
    got = point_lookup(df, ["https://en.head-domain.example/wiki/Page_0"], "url")
    assert got.count() == 1
    # long list goes through the broadcast semi-join path
    urls = [r.url for r in df.select("url").collect()][:120]
    assert point_lookup(df, urls, "url").count() == min(120, 50)


def test_tsv_roundtrip_with_array_join(spark, tmp_path):
    p = str(tmp_path / "tsv")
    df = spark.createDataFrame(
        [(1, ["a", "b"], "x"), (2, [], "y")], "id int, tags array<string>, s string"
    )
    write_tsv(df, p)
    back = read_tsv(spark, p)
    rows = {r.id: r.tags for r in back.select(F.col("id").cast("int").alias("id"), "tags").collect()}
    assert rows["1"] == "a,b" if isinstance(next(iter(rows)), str) else rows[1] == "a,b"


def test_incremental_stream_processes_only_new_files(spark, tmp_path):
    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(src, exist_ok=True)
    datagen.gen_pages(spark, 40).coalesce(1).write.mode("append").parquet(src)
    incremental_pages_stream(spark, src, ckpt, out)
    n1 = spark.read.parquet(out).count()
    assert n1 > 0
    # new batch arrives -> only the delta is processed on the next trigger
    datagen.gen_pages(spark, 80).filter(F.col("url").endswith("_77")).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    incremental_pages_stream(spark, src, ckpt, out)
    n2 = spark.read.parquet(out).count()
    assert n2 >= n1
    # third trigger with nothing new: output unchanged
    incremental_pages_stream(spark, src, ckpt, out)
    assert spark.read.parquet(out).count() == n2


def test_incremental_stream_pre_split_multipage(spark, tmp_path):
    """pre_split=True: a streamed file whose rows hold multi-page dump
    streams yields one extracted row per <page> frame."""
    import pandas as pd

    from wikidata_dump_processor_spark.operators.text_extract import extract_text
    from wikidata_dump_processor_spark.schemas import PAGES_SCHEMA

    idxs = [1, 2, 3, 4]
    inner = []
    for i in idxs:
        inner += datagen.page_xml(i).split("\n")[1:-1]
    stream_doc = "\n".join(["<mediawiki>"] + inner + ["</mediawiki>"])
    src, ckpt, out = (str(tmp_path / d) for d in ("in", "ckpt", "out"))
    os.makedirs(src, exist_ok=True)
    spark.createDataFrame(
        pd.DataFrame(
            [{
                "url": "https://dumps.example/dump-0",
                "warc_ts": datagen.page_row(0)["warc_ts"],
                "html": stream_doc.encode(),
                "text": None,
                "lang": "en",
            }]
        ),
        PAGES_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(src)
    incremental_pages_stream(
        spark, src, ckpt, out, transform=extract_text, pre_split=True
    )
    rows = {r.url: r.text for r in spark.read.parquet(out).collect()}
    assert len(rows) == len(idxs)
    for k, i in enumerate(idxs, start=1):
        assert rows[f"https://dumps.example/dump-0#page={k}"] == datagen.expected_text(i)


def test_id_functions(spark):
    df = spark.createDataFrame(
        [("Q42",), ("P31",), ("L99",), ("banana",)], "id string"
    ).select("id", id_kind(F.col("id")).alias("kind"), id_num(F.col("id")).alias("num"))
    got = {r.id: (r.kind, r.num) for r in df.collect()}
    assert got["Q42"] == ("item", 42)
    assert got["P31"] == ("property", 31)
    assert got["L99"] == ("lexeme", 99)
    assert got["banana"] == ("invalid", None)


def test_doi_validator(spark):
    rows = [
        ("s1", "P356", "10.1234/j.good.1", None),
        ("s2", "P356", "DOI: 10.1234/other", None),
        ("s3", "P356", "10.38/denied", None),
        ("s4", "P356", "9.999/nope", None),
        ("s5", "P356", "10.1234", None),
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string, src_url string")
    v = {r.obj: r.verdict for r in t.select("obj", doi_verdict(F.col("obj")).alias("verdict")).collect()}
    assert v["10.1234/j.good.1"] == "good"
    assert v["DOI: 10.1234/other"] == "good"
    assert v["10.38/denied"] == "denylisted"
    assert v["9.999/nope"] == "bad_prefix"
    assert v["10.1234"] == "no_suffix"
    rep = doi_report(t).collect()
    assert sum(r.cnt for r in rep) == 5


def test_doi_fixture_flows_through_engine(spark):
    from wikidata_dump_processor_spark.operators.text_extract import extract_text
    from wikidata_dump_processor_spark.operators.triples import extract_triples, parse_entities

    tr = extract_triples(parse_entities(extract_text(datagen.gen_pages(spark, 300))))
    rep = {(r.prefix, r.verdict): r.cnt for r in doi_report(tr).collect()}
    assert any(k[1] == "good" for k in rep)
    assert any(k[1] == "denylisted" for k in rep)  # datagen plants 10.38/...


def test_json_writers_roundtrip(spark, tmp_path):
    """K3 (wdq1.pl:759-768, 822-828): ndjson sink, streamed JSON array,
    and the single-object props.json export."""
    import json

    from wikidata_dump_processor_spark.sources.readers import (
        read_json_lines,
        write_json,
        write_json_array,
        write_props_json,
    )

    df = spark.createDataFrame(
        [("Q1", 2, ["a", "b"]), ("Q2", 0, [])],
        "id string, n int, tags array<string>",
    )
    # ndjson roundtrip
    p = str(tmp_path / "nd")
    write_json(df, p)
    back = read_json_lines(spark, p, schema=df.schema)
    assert back.count() == 2 and {r.id for r in back.collect()} == {"Q1", "Q2"}
    # streamed array: valid JSON array of the same objects
    ap = str(tmp_path / "authctrl.json")
    write_json_array(df, ap)
    arr = json.load(open(ap))
    assert isinstance(arr, list) and {r["id"] for r in arr} == {"Q1", "Q2"}
    # props.json: single object keyed by the key column
    pp = str(tmp_path / "props.json")
    write_props_json(df, pp, key_col="id")
    obj = json.load(open(pp))
    assert set(obj) == {"Q1", "Q2"} and obj["Q1"]["n"] == 2


def test_ns_usage_catalog(spark):
    """A10 (wkt1.pl:176-180, 297-307): per-namespace page counts joined to
    the scanned namespace catalog."""
    from wikidata_dump_processor_spark.operators.text_extract import (
        extract_text,
        ns_usage,
    )

    ext = extract_text(datagen.gen_pages(spark, 100))
    rows = ns_usage(ext).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.ns_id == "0" and r.n_pages == 100
    assert r.ns_name == "Main" and r.ns_case == "first-letter"


def test_streaming_stateful_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState cross-batch dedup: a fingerprint emitted in
    batch 1 must never re-emit in batch 2 (state lives in the
    checkpoint), new fingerprints still flow."""
    from wikidata_dump_processor_spark.streaming.incremental import (
        streaming_exact_dedup,
    )

    inp, chk, outp = (str(tmp_path / d) for d in ("in", "chk", "out"))
    os.makedirs(inp)

    def write_batch(name, rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)\
            .write.parquet(f"{inp}/{name}")
        # file-source streams need files directly under input_dir
        import glob
        import shutil
        for i, f in enumerate(glob.glob(f"{inp}/{name}/*.parquet")):
            shutil.move(f, f"{inp}/{name}_{i}.parquet")
        shutil.rmtree(f"{inp}/{name}")

    write_batch("b1", [(1, "alpha beta"), (2, "alpha beta"), (3, "gamma")])
    streaming_exact_dedup(spark, inp, chk, outp)
    got1 = {(r.fp_md5, r.keeper_id) for r in spark.read.parquet(outp).collect()}
    assert len(got1) == 2  # two distinct fingerprints
    assert {k for _, k in got1} == {1, 3}  # min doc_id wins within batch

    write_batch("b2", [(4, "alpha beta"), (5, "delta")])
    streaming_exact_dedup(spark, inp, chk, outp)
    got2 = {(r.fp_md5, r.keeper_id) for r in spark.read.parquet(outp).collect()}
    new = got2 - got1
    # 'alpha beta' seen in batch 1 -> suppressed; only 'delta' emits
    assert len(new) == 1 and next(iter(new))[1] == 5


def test_windowed_stream_watermark_drops_late(spark, tmp_path):
    """Event-time windows with watermark: a window emits once when the
    watermark passes it; an event arriving later than the watermark is
    dropped and never re-opens the window."""
    from datetime import datetime

    from wikidata_dump_processor_spark.streaming.windowed import (
        windowed_event_stream,
    )

    inp, chk, outp = (str(tmp_path / d) for d in ("in", "chk", "out"))
    os.makedirs(inp)

    def write_batch(name, rows):
        import glob
        import shutil

        spark.createDataFrame(
            rows, "event_id long, ts timestamp, event_type string, value double"
        ).coalesce(1).write.parquet(f"{inp}/{name}")
        for i, f in enumerate(glob.glob(f"{inp}/{name}/*.parquet")):
            shutil.move(f, f"{inp}/{name}_{i}.parquet")
        shutil.rmtree(f"{inp}/{name}")

    t = lambda h, m=0: datetime(2025, 3, 1, h, m)
    write_batch("b1", [(1, t(0, 10), "click", 1.0), (2, t(0, 40), "click", 1.0),
                       (3, t(6, 0), "view", 1.0)])  # 6:00 pushes watermark to 4:00
    windowed_event_stream(spark, inp, chk, outp, "1 hour", "2 hours")
    got1 = {(str(r.window_start), r.event_type, r.cnt)
            for r in spark.read.parquet(outp).collect()}
    # the 00:00 window closed (watermark 4:00 > 1:00); the 6:00 window did not
    assert ("2025-03-01 00:00:00", "click", 2) in got1
    assert not any(w.startswith("2025-03-01 06") for w, _, _ in got1)

    # a late event for the already-closed 00:00 window: dropped
    write_batch("b2", [(4, t(0, 50), "click", 1.0), (5, t(7, 0), "view", 1.0)])
    windowed_event_stream(spark, inp, chk, outp, "1 hour", "2 hours")
    got2 = {(str(r.window_start), r.event_type, r.cnt)
            for r in spark.read.parquet(outp).collect()}
    assert ("2025-03-01 00:00:00", "click", 2) in got2  # unchanged, no cnt=3 row
    assert not any(c == 3 for _, _, c in got2)
    # watermark is now 5:00 (7:00 - 2h), below the 6:00 window's 7:00 end:
    # that window stays open and unemitted
    assert not any(w.startswith("2025-03-01 06") for w, _, _ in got2)


def _pages_file(path: str, lo: int, hi: int):
    """One standalone parquet FILE of pages [lo, hi) (pyarrow write —
    Spark writes directories; the incremental ledger diffs files)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = pd.DataFrame([datagen.page_row(i) for i in range(lo, hi)])
    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),  # Spark-readable INT64
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema), path)


def test_incremental_pipeline_run_delta_only(spark, tmp_path):
    """VERDICT r4 #9 (St3 over manifest snapshots): re-running after an
    input append processes EXACTLY the delta — the new files' rows, one
    fresh run snapshot, ledger advanced; a no-change re-run is a no-op."""
    from wikidata_dump_processor_spark.operators.text_extract import extract_text
    from wikidata_dump_processor_spark.operators import triples as TR
    from wikidata_dump_processor_spark.schemas import PAGES_SCHEMA
    from wikidata_dump_processor_spark.streaming.incremental import (
        incremental_pipeline_run,
    )

    inp = tmp_path / "inp"
    inp.mkdir()
    out_root = str(tmp_path / "runs")
    al, cat = datagen.gen_aliases(spark), datagen.gen_entity_catalog(spark)
    _pages_file(str(inp / "dump_a.parquet"), 0, 40)
    r1 = incremental_pipeline_run(spark, str(inp), out_root, al, cat)
    assert r1 is not None and len(r1["new_files"]) == 1
    assert r1["extracted"].count() == 40
    # nothing new -> no run at all
    assert incremental_pipeline_run(spark, str(inp), out_root, al, cat) is None
    # append a second dump file: the next run sees ONLY its pages
    _pages_file(str(inp / "dump_b.parquet"), 40, 80)
    r2 = incremental_pipeline_run(spark, str(inp), out_root, al, cat)
    assert [os.path.basename(f) for f in r2["new_files"]] == ["dump_b.parquet"]
    assert r2["extracted"].count() == 40
    assert r2["run_dir"] != r1["run_dir"]
    # delta triples == the batch derivation over pages 40..80 alone
    import pandas as pd

    pages_b = spark.createDataFrame(
        pd.DataFrame([datagen.page_row(i) for i in range(40, 80)]), PAGES_SCHEMA
    )
    expected = {
        (r.subj, r.pred, r.obj)
        for r in TR.extract_triples(
            TR.parse_entities(extract_text(pages_b))
        ).collect()
    }
    got = {(r.subj, r.pred, r.obj) for r in r2["triples"].collect()}
    assert got == expected and expected
