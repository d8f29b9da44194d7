"""Time one catalog query, or dump its physical plan.

    python tools/query_profile.py query <sf_dir> <name> [reps]
    python tools/query_profile.py plan  <sf_dir> <name> <out>

``name`` is a key of ``queries_catalog.SPARK_QUERIES`` (the driver
queries) or of ``queries_catalog.PYTEST_ORACLES``.  ``query`` runs it
once to warm up, then ``reps`` times (default 3) into Spark's noop sink,
so a rep times the query's computation without a collect or a write, and
prints one JSON line with the reps, their median and ``compiles``: the
generated classes Spark compiled during the timed reps (0 once the
warm-up has filled the codegen cache; more means the query's classes
fall out of it).  ``plan`` writes the query's ``explain("formatted")``
plan to ``<out>``.  The session is ``get_spark()``'s, sized to this host.

The KG pass is timed by ``perfbench/run.py`` (``--trace 1`` for its
per-stage spans), not here.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

USAGE = __doc__.split("\n\n")[1]


def main(argv: list[str]) -> None:
    if len(argv) < 3 or argv[0] not in ("query", "plan") or (
        argv[0] == "plan" and len(argv) != 4
    ):
        sys.exit(f"usage:\n{USAGE}")
    mode, sf_dir, name = argv[:3]
    from wikidata_dump_processor_spark.queries_catalog import (
        PYTEST_ORACLES,
        SPARK_QUERIES,
    )
    from wikidata_dump_processor_spark.session import get_spark

    fn = SPARK_QUERIES.get(name) or PYTEST_ORACLES.get(name, (None,))[0]
    if fn is None:
        sys.exit(f"unknown query {name!r}\nusage:\n{USAGE}")
    spark = get_spark("profile")
    sc = spark.sparkContext

    if mode == "plan":
        df = fn(spark, sf_dir)
        plan = sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(argv[3], "w") as f:
            f.write(plan)
        print(f"wrote {argv[3]} ({len(plan)} bytes)")
        return

    reps = int(argv[3]) if len(argv) > 3 else 3
    compiled = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def rep(r: int) -> float:
        sc.setJobDescription(f"{name}:rep{r}")
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    rep(-1)  # warms up codegen and the JIT
    warm = compiled.getCount()
    times = [rep(r) for r in range(reps)]
    print(json.dumps({
        "query": name, "sf_dir": sf_dir, "slots": sc.defaultParallelism,
        "reps": times, "median": round(statistics.median(times), 3),
        "compiles": compiled.getCount() - warm,
    }))


if __name__ == "__main__":
    main(sys.argv[1:])
