"""Source operators (SURVEY.md §2.1 S1-S7).

The reference reads pipe-decompressed line streams, header-first TSVs,
ndjson, and does point record fetches through its PDS index.  Spark
equivalents — all pushdown-friendly:

* S1/S7: ``read_json_lines`` — spark.read.json / text with explicit schema
* S2: the JSON-array-per-line quirks live in triples.normalize_raw_json
* S4: ``read_tsv`` — header-first TSV with explicit schema
* S6: ``point_lookup`` — id-list probe; bucket/sort layout on disk +
  predicate pushdown is the PDS replacement (wdq2.pl:347-406)
* pages: ``read_pages`` — the engine's canonical input table
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import PAGES_SCHEMA
from ..session import local_df


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Canonical pages input (input_hint shape). Parquet/Iceberg path."""
    return spark.read.schema(PAGES_SCHEMA).parquet(path)


def read_tsv(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """Header-first TSV scan (S4: cntprops.pl:33-39, geonames.pl:61-70).
    Codec (gz/bz2/zstd) inferred from the extension, like the reference's
    pipe-decompression (wkutils.pm:3-25)."""
    r = spark.read.option("sep", "\t").option("header", True)
    if schema is not None:
        r = r.schema(schema)
    else:
        r = r.option("inferSchema", False)
    return r.csv(path)


def read_json_lines(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """ndjson scan (S7: filter_values1.pl:45-64), PERMISSIVE with a corrupt
    record column — the skip-and-log-to-diag model (wdq1.pl:497-503)."""
    r = spark.read.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt"
    )
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


def point_lookup(table: DataFrame, ids: list, id_col: str = "id") -> DataFrame:
    """S6/J3: id-list probe (wdq2.pl:347-406).  For short lists an ``isin``
    (pushed to the scan as an IN filter — row-group pruning on a
    sort-ordered layout); for long lists a semi-join against a local
    table, which Spark broadcasts by size."""
    if len(ids) <= 100:
        return table.filter(F.col(id_col).isin(ids))
    dtype = table.schema[id_col].dataType.simpleString()
    ids_df = local_df(table.sparkSession, [(i,) for i in ids], f"{id_col} {dtype}")
    return table.join(ids_df, id_col, "left_semi")


def write_json(df: DataFrame, path: str, single_file: bool = False) -> None:
    """K3 JSON sink, distributed form: one JSON object per line (the
    shape every downstream engine reads back).  The reference's
    authctrl.json is a streamed array of the same objects
    (wdq1.pl:759-768) — see ``write_json_array`` for byte-shape parity."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").json(path)


def write_json_array(df: DataFrame, path: str) -> None:
    """K3: the reference's streamed-JSON-array export format
    (wdq1.pl:441-445, 759-768, 789-791): '[', comma-separated records,
    ']'.  Streams through ``toLocalIterator`` — one partition in flight,
    never the whole table on the driver; an export-format shim for
    catalog-sized outputs, not a data-plane sink."""
    import json as _json

    with open(path, "w") as f:
        f.write("[\n")
        first = True
        for row in df.toLocalIterator():
            if not first:
                f.write(",\n")
            first = False
            f.write(_json.dumps(row.asDict(recursive=True), default=str))
        f.write("\n]\n")


def write_props_json(props: DataFrame, path: str, key_col: str = "prop") -> None:
    """K3: props.json single-object export (wdq1.pl:822-828):
    {prop_id: {catalog row}}.  The predicate catalog is dimension-sized
    (one row per property ever seen), so a driver-side dict is the right
    physical shape."""
    import json as _json

    obj = {}
    for row in props.toLocalIterator():
        d = row.asDict(recursive=True)
        obj[d.pop(key_col)] = d
    with open(path, "w") as f:
        _json.dump(obj, f, sort_keys=True, default=str)


def write_tsv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """K2 TSV sink (Filter.pm:39-74 / wdq1.pl:165-175): header + tab rows.
    Array columns are comma-joined at export only (wdq1.pl:750-751)."""
    out = df
    for f in df.schema.fields:
        if f.dataType.typeName() == "array":
            out = out.withColumn(f.name, F.array_join(F.col(f.name), ","))
    if single_file:
        out = out.coalesce(1)
    out.write.mode("overwrite").option("sep", "\t").option("header", True).csv(path)
