"""Engine side of the benchmark: one fresh Spark process per run.

    python3 perfbench/engine.py CONFIG.json

``run.py`` writes the config (input paths, cores, seconds, trace flag) and
reads the result JSON this process writes to ``config["result"]``.  The
set-up is session start, input registration, and a full-size warm-up that
is the resume scenario: a run stopped after the extract stage, then its
timed resume.  Full ``run_pipeline`` passes follow for the configured
seconds (at least one), while peak memory of the process tree is sampled.

With ``trace`` set, Spark's event log is on, and after the timed pass one
traced pass runs, then an untraced one, then each layer's public calls on
their own against the traced pass's snapshots, then the headline queries.
Every traced call runs in a span (``Tracer``) that also sets the Spark job
group.  Tasks are attributed to spans by launch time, because
``run_pipeline``'s stage threads do not inherit the caller's job group.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

sys.path.insert(0, os.getcwd())

from bench import HEADLINE  # noqa: E402
from wikidata_dump_processor_spark import datagen  # noqa: E402
from wikidata_dump_processor_spark.plans import pipeline as PL  # noqa: E402
from wikidata_dump_processor_spark.session import get_spark  # noqa: E402

_T0 = time.perf_counter()


def log(what: str):
    """Progress line in the engine log: seconds since process start."""
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {what}", flush=True)


def tree_rss_mb(root: int) -> float:
    """Resident MB of ``root`` and all its descendants (JVM, Python workers),
    as proportional set size: forked Python workers share pages, and plain
    RSS would count each shared page once per worker alive at the sample."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    total_kb, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total_kb += next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))
        except (OSError, StopIteration, IndexError, ValueError):
            pass
    return total_kb / 1024


class RssSampler:
    """Peak of ``tree_rss_mb(own pid)`` sampled every ``period`` seconds."""

    def __init__(self, period: float = 0.25):
        self.period, self.peak = period, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(os.getpid()))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


class Tracer:
    """Spans (name, start, end) around calls from the benchmark's side."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[tuple[str, float, float]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.time()))
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wall(self, name: str) -> float:
        return sum(t1 - t0 for n, t0, t1 in self.spans if n == name)


def event_counts(log_dir: str, spans: list[tuple[str, float, float]]) -> dict:
    """Per-span task count, GC, shuffle-write and spill from the event log."""
    out = {n: {"tasks": 0, "gc_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0}
           for n, _, _ in spans}
    files = [os.path.join(d, n) for d, _, ns in os.walk(log_dir)
             for n in ns if n.startswith(("events_", "local-", "app-"))]
    for path in files:
        with open(path, errors="replace") as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                launch = ev["Task Info"]["Launch Time"] / 1000
                span = next((n for n, t0, t1 in spans if t0 <= launch <= t1), None)
                if span is None:
                    continue
                m = ev.get("Task Metrics") or {}
                c = out[span]
                c["tasks"] += 1
                c["gc_s"] += m.get("JVM GC Time", 0) / 1000
                c["shuffle_mb"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
                )
                c["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / 1e6
    return out


def start_session(cfg: dict, event_log: str | None = None):
    work = cfg["work"]
    # the heap comes from SPARK_DRIVER_MEM, which run.py sizes to this host
    # and session.py pins and pre-touches
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_log,
                     "spark.eventLog.compress": "false"})
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cfg["cpus"],
                      shuffle_partitions=max(cfg["cpus"], 8), extra_conf=conf)
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def register(spark, cfg: dict):
    pages = spark.read.parquet(cfg["pages"])
    pages.count()
    return pages, datagen.gen_aliases(spark), datagen.gen_entity_catalog(spark)


def kg_pass(spark, inputs, out_dir: str, fingerprint: str, stop_file=None):
    """One full pipeline pass, counted through ``canonical_triples``."""
    pages, aliases, catalog = inputs
    t0 = time.perf_counter()
    res = PL.run_pipeline(spark, pages, aliases, out_dir, catalog,
                          fingerprint=fingerprint, stop_file=stop_file)
    n = res["canonical_triples"].count()
    return time.perf_counter() - t0, n, res


def discard(spark, out_dir: str):
    """Drop the pass's bucketed nodes table, then its files (bench.py order)."""
    path = os.path.join(out_dir, PL.MANIFEST)
    if os.path.exists(path):
        with open(path) as f:
            tbl = json.load(f).get("nodes", {}).get("metrics", {}).get("table")
        if tbl:
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    shutil.rmtree(out_dir, ignore_errors=True)
    spark.catalog.clearCache()


def _committed_at(out_dir: str) -> dict:
    with open(os.path.join(out_dir, PL.MANIFEST)) as f:
        return {k: v.get("committed_at") for k, v in json.load(f).items()
                if v.get("state") == "committed"}


def run(cfg: dict) -> dict:
    """Set-up (with the resume), timed passes; then, when tracing, the
    traced pass, the layer calls and the headline queries."""
    work, r = cfg["work"], {"attempted": 0, "failed": 0, "walls": []}
    log_dir = os.path.join(work, "eventlog") if cfg["trace"] else None

    def attempt(fn):
        r["attempted"] += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 — counted, and the run goes on
            traceback.print_exc()
            r["failed"] += 1
            return None

    # set-up: session, input registration, and a warm-up at full size that
    # is itself the resume scenario.  The stop file exists before the first
    # run, so GracefulStop fires at the fixed check after the extract stage;
    # the re-run with the same fingerprint and out_dir, which runs every
    # later stage for the first time in this process as a restarted job
    # would, is timed as resume_s.
    t0 = time.perf_counter()
    spark, r["session_s"] = start_session(cfg, event_log=log_dir)
    inputs = register(spark, cfg)
    rdir, stop = os.path.join(work, "resume"), os.path.join(work, "STOP")
    open(stop, "w").close()

    def stopped_run():
        try:
            kg_pass(spark, inputs, rdir, "resume", stop_file=stop)
        except PL.GracefulStop:
            return True
        raise RuntimeError("the stop file did not stop the run")

    attempt(stopped_run)
    os.remove(stop)
    before = _committed_at(rdir)
    got = attempt(lambda: kg_pass(spark, inputs, rdir, "resume"))
    if got:
        r["resume_s"] = got[0]
        after = _committed_at(rdir)
        r["resume_skipped"] = sum(after.get(k) == t for k, t in before.items())
    r["resume_out"] = rdir
    r["setup_s"] = time.perf_counter() - t0
    log("set-up done")

    last = None
    with RssSampler() as rss:
        t_start = time.perf_counter()
        while not r["walls"] or time.perf_counter() - t_start < cfg["seconds"]:
            out = os.path.join(work, f"pass{r['attempted']}")
            got = attempt(lambda: kg_pass(spark, inputs, out, out))
            if not got:
                discard(spark, out)
                break
            if last:  # the checks read the last complete pass
                discard(spark, last)
            last = out
            r["walls"].append(got[0])
            r["canonical_triples"] = got[1]
    r["peak_rss_mb"], r["last_out"] = rss.peak, last
    log("timed passes done")

    if cfg["trace"]:
        tr = Tracer(spark)
        r["layers"] = trace_layers(spark, tr, inputs, cfg)
        spark.stop()
        r["layers"].update(layer_counts(tr, event_counts(log_dir, tr.spans)))
    else:
        spark.stop()
    return r


def _manifest_metrics(out_dir: str, wall: float, t_start: float) -> dict:
    """Stage spans, skew ratios and the pass wall no stage span covers."""
    with open(os.path.join(out_dir, PL.MANIFEST)) as f:
        stages = json.load(f)
    m, spans = {}, []
    for name in ("extract", "triples", "items", "props", "mentions", "canonical", "nodes"):
        s = stages[name]
        m[f"pipeline.{name}.span_s"] = s["committed_at"] - s["started_at"]
        spans.append((s["started_at"], s["committed_at"]))
    for name in ("triples", "canonical", "nodes"):
        rows = sorted(stages[name]["metrics"]["partitions"].values())
        m[f"pipeline.{name}.skew_ratio"] = rows[-1] / max(statistics.median(rows), 1)
    covered, end = 0.0, t_start
    for a, b in sorted(spans):
        a = max(a, end)
        if b > a:
            covered, end = covered + b - a, b
    m["pipeline.uncovered_s"] = wall - covered
    m["pipeline.files"] = sum(
        f.endswith(".parquet") for _, _, fs in os.walk(out_dir) for f in fs
    )
    return m


def trace_layers(spark, tr: Tracer, inputs, cfg: dict) -> dict:
    """One traced pipeline pass, then each layer's public calls on their own
    against that pass's snapshots, then the headline queries."""
    from wikidata_dump_processor_spark.operators import canonicalize as CA
    from wikidata_dump_processor_spark.operators import linking as LI
    from wikidata_dump_processor_spark.operators import text_extract as TX
    from wikidata_dump_processor_spark.operators import triples as TR
    from wikidata_dump_processor_spark.queries_catalog import SPARK_QUERIES

    pages, aliases, catalog = inputs
    m: dict = {}

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    out = os.path.join(cfg["work"], "traced")
    t_start = time.time()
    with tr.span("pipeline"):
        kg_pass(spark, inputs, out, "traced")
    m["pipeline.wall_s"] = tr.wall("pipeline")
    m.update(_manifest_metrics(out, m["pipeline.wall_s"], t_start))
    # an untraced pass after the traced one as well, so that the overhead
    # is not the JIT warming between the passes
    after = os.path.join(cfg["work"], "untraced")
    m["untraced_after_s"] = kg_pass(spark, inputs, after, "untraced")[0]
    discard(spark, after)

    log("traced pass done")
    snap = spark.read.parquet(os.path.join(out, "extracted"))
    with tr.span("text_extract"):
        noop(TX.extract_and_detect(pages, aliases))
    with tr.span("linking"):
        noop(LI.link_mentions(TX.exploded_mentions(snap), aliases, catalog))
    m["linking.mentions_in"] = TX.exploded_mentions(snap).count()
    m["linking.linked_share"] = LI.link_mentions(
        TX.exploded_mentions(snap), aliases, catalog
    ).count() / max(m["linking.mentions_in"], 1)
    # on the parsed snapshot, as the pipeline calls them; parse_entities is
    # a projection fused into the extract stage's write
    with tr.span("triples"):
        for df in (TR.extract_triples(snap), TR.items_table(snap), TR.props_catalog(snap)):
            noop(df)
    with open(os.path.join(out, PL.MANIFEST)) as f:
        stages = json.load(f)
    m["triples.rows_out"] = sum(stages[s]["metrics"]["rows"] for s in ("triples", "items", "props"))
    claims = spark.read.parquet(os.path.join(out, "triples")).select(
        "subj", "pred", "obj", "src_url")
    with tr.span("canonicalize.cc"):
        remap = CA.canonical_remap(claims).localCheckpoint(eager=False)
        m["canonicalize.remap_rows"] = remap.count()
    with tr.span("canonicalize.rewrite"):
        noop(CA.rewrite_triples(claims, remap, remap_count=m["canonicalize.remap_rows"]))
    discard(spark, out)

    log("layer calls done")
    qdir = cfg["query_tables"]
    m["queries_catalog.lineitem_splits"] = spark.read.parquet(
        f"{qdir}/lineitem.parquet").rdd.getNumPartitions()
    # one closed-loop pass; each result is collected for the oracle check
    results = {}
    for name in HEADLINE:
        with tr.span(f"q.{name}.plan"):
            df = SPARK_QUERIES[name](spark, qdir)
        with tr.span(f"q.{name}.exec"):
            results[name] = df.toPandas()
    m["queries_catalog.cached_rdds_after_pass"] = len(
        spark.sparkContext._jsc.getPersistentRDDs())
    spark.catalog.clearCache()
    log("query pass done")
    m["queries"] = oracle_check(spark, results, qdir, cfg["fixture_tables"])
    return m


def layer_counts(tr: Tracer, ev: dict) -> dict:
    """Per-layer metrics that come from the spans and the event log."""
    m = {
        "text_extract.busy_s": tr.wall("text_extract"),
        "text_extract.gc_s": ev["text_extract"]["gc_s"],
        "text_extract.tasks": ev["text_extract"]["tasks"],
        "linking.busy_s": tr.wall("linking"),
        "triples.busy_s": tr.wall("triples"),
        "triples.shuffle_mb": ev["triples"]["shuffle_mb"],
        "canonicalize.cc_s": tr.wall("canonicalize.cc"),
        "canonicalize.rewrite_s": tr.wall("canonicalize.rewrite"),
        "canonicalize.shuffle_mb": ev["canonicalize.cc"]["shuffle_mb"]
        + ev["canonicalize.rewrite"]["shuffle_mb"],
        "pipeline.tasks": ev["pipeline"]["tasks"],
        "pipeline.spill_mb": ev["pipeline"]["spill_mb"],
        "pipeline.gc_s": ev["pipeline"]["gc_s"],
    }
    for name in HEADLINE:
        m[f"q.{name}.plan_s"] = tr.wall(f"q.{name}.plan")
        m[f"q.{name}.exec_s"] = tr.wall(f"q.{name}.exec")
        m[f"q.{name}.tasks"] = ev[f"q.{name}.exec"]["tasks"]
    return m


def oracle_check(spark, results: dict, qdir: str, fixture_dir: str) -> dict:
    """Per query: does the Spark result match its oracle?  SQL oracles run
    on DuckDB over the same tables; kg8/kg9, whose oracles are golden.py
    re-derivations, run again on the fixture-scale documents table."""
    import duckdb
    import pandas as pd

    from tools.check_oracle import canon
    from wikidata_dump_processor_spark import golden
    from wikidata_dump_processor_spark.queries_catalog import ORACLE_SQL, SPARK_QUERIES

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{qdir}/{t}.parquet'")
    golden.SF_DIR = fixture_dir
    fixtures = {"kg8_minhash_near_dups": golden._t_minhash_pairs,
                "kg9_simhash_near_dups": golden._t_simhash_pairs}
    ok = {}
    for name, got in results.items():
        try:
            if name in fixtures:
                got = SPARK_QUERIES[name](spark, fixture_dir).toPandas()
                want = pd.DataFrame(fixtures[name]()[0], columns=list(got.columns))
            else:
                want = con.sql(ORACLE_SQL[name]).df()
            ok[name] = sorted(got.columns) == sorted(want.columns) and canon(got) == canon(want)
        except Exception:  # noqa: BLE001 — a failed query is a failed check
            traceback.print_exc()
            ok[name] = False
    return ok


def stop_jvm():
    """Shut the py4j gateway and wait for its JVM, so that nothing this
    process started outlives it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)


def main():
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    try:
        result = run(cfg)
    finally:
        stop_jvm()
    with open(cfg["result"], "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
