"""Skew-handling gate (SURVEY.md §5 item 6): a head key holding ~30% of
rows must not concentrate a shuffle partition once salted.  (Skewed
joins are split at run time by AQE; tests/test_plan_rules.py checks the
one broadcast gate.)

Model: the reference's cardinality-adaptive hot-key switch
(cntprops.pl:16, 68-77); north_rule requires explicit salting for head
domains / mega-entities.
"""

import statistics

from pyspark.sql import functions as F

from wikidata_dump_processor_spark.operators.skew import (
    two_phase_count,
    with_salt,
)

N = 20_000
N_SALTS = 8


def _skewed_fact(spark):
    # key 'hot' on ~30% of rows, the rest spread over 1000 keys
    return spark.range(N).select(
        F.when(F.col("id") % 10 < 3, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 1000).cast("string")))
        .alias("k"),
        F.col("id").alias("v"),
    )


def test_salting_bounds_partition_ratio(spark):
    """Shuffling on the salted key must keep max/median partition weight
    bounded; shuffling on the raw key concentrates ~30% in one partition."""
    fact = _skewed_fact(spark)
    parts = 8

    def weights(df, cols):
        rows = (
            df.repartition(parts, *[F.col(c) for c in cols])
            .withColumn("_p", F.spark_partition_id())
            .groupBy("_p")
            .count()
            .collect()
        )
        by_p = {r._p: r["count"] for r in rows}
        return [by_p.get(i, 0) for i in range(parts)]

    raw = weights(fact, ["k"])
    salted = weights(with_salt(fact, N_SALTS), ["k", "_salt"])
    assert max(raw) >= 0.3 * N  # the fixture really is skewed
    med = statistics.median([w for w in salted if w > 0])
    assert max(salted) / med <= 2.5, (salted, med)


def test_two_phase_count_equals_naive(spark):
    fact = _skewed_fact(spark)
    naive = {(r.k, r["count"]) for r in fact.groupBy("k").count().collect()}
    two = {(r.k, r["count"]) for r in two_phase_count(fact, ["k"], num_salts=N_SALTS).collect()}
    assert two == naive
    assert dict(naive)["hot"] == 3 * N // 10


def test_domain_quota_sample_exact_golden(spark):
    """Head-domain cap, exact path: per-domain top-`cap` by xxhash64
    priority — re-derived in pure Python with the bit-exact xxh64
    replica, so selection (not just counts) is golden-checked."""
    from collections import Counter
    from urllib.parse import urlparse

    from wikidata_dump_processor_spark.operators.skew import domain_quota_sample
    from wikidata_dump_processor_spark.xxh64 import spark_xxhash64

    rows = [(f"https://head.example/doc{i}", i) for i in range(40)]
    rows += [
        (f"https://tail{t}.example/doc{i}", 100 + t * 10 + i)
        for t in range(5)
        for i in range(3)
    ]
    df = spark.createDataFrame(rows, "url string, doc_id long")
    got = domain_quota_sample(df, cap=10, seed=7).collect()
    by_dom: dict[str, list[str]] = {}
    for u, _ in rows:
        by_dom.setdefault(urlparse(u).netloc, []).append(u)
    expected = sorted(
        u
        for us in by_dom.values()
        for u in sorted(us, key=lambda x: (spark_xxhash64(x, ("int", 7)), x))[:10]
    )
    assert sorted(r.url for r in got) == expected
    c = Counter(r.domain for r in got)
    assert c["head.example"] == 10 and all(v <= 10 for v in c.values())


def test_domain_quota_sample_approx_rate(spark):
    """Scale path (hash-Bernoulli, no per-domain sort): under-cap
    domains untouched, head domain reduced to ~cap in expectation,
    fully deterministic across runs."""
    from collections import Counter

    from wikidata_dump_processor_spark.operators.skew import domain_quota_sample

    rows = [(f"https://head.example/d{i}", i) for i in range(2000)]
    rows += [(f"https://tail.example/d{i}", 10000 + i) for i in range(5)]
    df = spark.createDataFrame(rows, "url string, doc_id long")
    got = domain_quota_sample(df, cap=200, seed=1, exact=False).collect()
    c = Counter(r.domain for r in got)
    assert c["tail.example"] == 5
    assert 120 <= c["head.example"] <= 300, c["head.example"]
    again = Counter(
        r.domain
        for r in domain_quota_sample(df, cap=200, seed=1, exact=False).collect()
    )
    assert again == c
    # bit-exact golden: the keep decision is pure — u = pmod(xxhash64(
    # url, seed), 2^32)/2^32 < cap/n — so the pure-Python xxh64 replica
    # re-derives the EXACT selected set, not just its size
    from wikidata_dump_processor_spark.xxh64 import spark_xxhash64

    def keep(url, n):
        if n <= 200:
            return True
        u = (spark_xxhash64(url, ("int", 1)) % (1 << 32)) / float(1 << 32)
        return u < 200 / n

    n_by_dom = {"head.example": 2000, "tail.example": 5}
    expected = sorted(
        u for u, _ in rows
        if keep(u, n_by_dom["head.example" if "head" in u else "tail.example"])
    )
    assert sorted(r.url for r in got) == expected


def test_with_salt_never_hashes_payload(spark):
    """VERDICT r4 #6: the salt is partition-local (no content hash at
    all — and retry-stable, unlike a monotonically_increasing_id
    round-robin), so a wide text payload never enters the salt
    expression."""
    df = spark.createDataFrame(
        [(1, "x" * 1000, 2)], "k int, text string, v long"
    )
    plan = with_salt(df, 8)._jdf.queryExecution().analyzed().toString()
    assert "xxhash64" not in plan  # the salt touches no content


def test_domain_quota_sample_null_domain_parity(spark):
    """ADVICE r4: malformed URLs (try_parse_url -> NULL host) coalesce to
    the '' sentinel domain, so BOTH paths keep them up to cap — the
    hash-Bernoulli path previously dropped every null-domain row via its
    null-key join filter."""
    from collections import Counter

    from wikidata_dump_processor_spark.operators.skew import domain_quota_sample

    rows = [(f"https://ok.example/d{i}", i) for i in range(5)]
    rows += [(f"junk url {i} with spaces", 100 + i) for i in range(5)]
    df = spark.createDataFrame(rows, "url string, doc_id long")
    for exact in (True, False):
        got = domain_quota_sample(df, cap=10, exact=exact).collect()
        assert len(got) == 10, (exact, len(got))
        assert {r.domain for r in got} == {"", "ok.example"}
    c = Counter(r.domain for r in domain_quota_sample(df, cap=3, exact=True).collect())
    assert c[""] == 3 and c["ok.example"] == 3
