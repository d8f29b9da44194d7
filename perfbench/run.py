"""KG-construction benchmark: one workload and one seed per call.

    python3 perfbench/run.py --workload extract_heavy --seed 1 --seconds 8 --trace 0

Run from the repository root.  The call generates the workload's pages
from the seed (cached per seed under ``.perfbench_work/``), runs the
engine in a fresh process sized to this host (``engine.py``), checks the
outputs outside the timed region, and prints one JSON object as the last
line of stdout: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end ones.  With
``--trace 1`` the engine process also runs the traced pass, the layer
calls and the headline queries (``engine.trace_layers``), and the metrics
are the per-layer ones.

Workloads (why each exists):

* ``extract_heavy``: long alias-dense bodies, short entity records; the
  fused extract + mention-scan Python pass and linking dominate.
* ``claim_skew``: short bodies, claim-dense records with a mega-predicate
  and shared authority ids; triples, the CC loop and the pred-partitioned
  writes dominate.

The run takes ``tools/bench_lock``'s lock, and it fails without a result
when a Spark JVM it does not own runs before or during the measurement.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import Counter

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("extract_heavy", "claim_skew")
TRIPLE_COLS = ["subj", "pred", "obj", "src_url"]
# with input generation, the wait for the engine's processes and the
# checks, a run stays inside 180 s
ENGINE_TIMEOUT_S = 140


def host_shape() -> tuple[int, str]:
    """Cores this process may use (what ``nproc`` reports) and the heap of
    the one Spark JVM: a quarter of available memory, 1 to 2 GB, which
    holds these inputs many times over."""
    with open("/proc/meminfo") as f:
        avail_gb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemAvailable")) / 2**20
    return len(os.sched_getaffinity(0)), f"{max(1, min(2, int(avail_gb / 4)))}g"


def wait_for_job(timeout: float = 15.0):
    """Wait until no process of this run but this one is left: every child
    inherits the bench lock's ``BENCH_LOCK_PID`` token.  Kill stragglers."""
    from tools.bench_lock import _environ_token

    token, deadline = os.environ["BENCH_LOCK_PID"], time.time() + timeout
    while True:
        left = [int(p) for p in os.listdir("/proc") if p.isdigit()
                and int(p) != os.getpid() and _environ_token(int(p)) == token]
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.2)


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "ratio" if name.endswith(("_share", "_ratio")) else "count"


def run_engine(cfg: dict, env: dict) -> dict:
    path = os.path.join(cfg["work"], "engine.json")
    log = os.path.join(cfg["work"], "engine.log")
    with open(path, "w") as f:
        json.dump(dict(cfg, result=path + ".out"), f)
    with open(log, "w") as out:
        proc = subprocess.run([sys.executable, os.path.join(HERE, "engine.py"), path],
                              cwd=ROOT, env=env, stdout=out, stderr=subprocess.STDOUT,
                              timeout=ENGINE_TIMEOUT_S)
    with open(log, errors="replace") as f:
        text = f.read()
    if proc.returncode != 0:
        sys.stderr.write(text[-4000:])
        sys.exit(f"engine exited with {proc.returncode}")
    with open(path + ".out") as f:
        result = json.load(f)
    if result["failed"]:
        sys.stderr.write(text[-8000:])
    sys.stderr.writelines(ln + "\n" for ln in text.splitlines() if "[perfbench " in ln)
    return result


def _rows(path: str, columns: list[str] = TRIPLE_COLS) -> Counter:
    """Row multiset of a parquet file or a (hive-partitioned) Spark output
    directory; read with DuckDB, which reads Spark 4's parquet footers."""
    import duckdb

    glob = path if path.endswith(".parquet") else f"{path}/**/*.parquet"
    return Counter(duckdb.sql(
        f"SELECT {', '.join(columns)} FROM read_parquet('{glob}', hive_partitioning=true)"
    ).fetchall())


def check_outputs(inputs: str, last_out: str, resume_out: str) -> dict:
    """Triple P/R against the golden records, per-url text identity, and
    resumed canonical triples against a fresh pass's."""
    want_text = _rows(f"{inputs}/expected_text.parquet", ["url", "text"])
    got_text = _rows(f"{last_out}/extracted", ["url", "text"])
    same = sum(min(n, got_text[k]) for k, n in want_text.items())
    want = set(_rows(f"{inputs}/golden_triples.parquet"))
    emitted = set(_rows(f"{last_out}/triples"))
    hit = len(want & emitted)
    return {
        "triple_precision": hit / max(len(emitted), 1),
        "triple_recall": hit / max(len(want), 1),
        "text_identical_share": same / max(sum(want_text.values()), 1),
        "resume_identical": _rows(f"{resume_out}/canonical_triples")
        == _rows(f"{last_out}/canonical_triples"),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seed < 0:
        ap.error("--seed must be a non-negative integer")
    if not os.path.isdir(os.path.join(ROOT, "wikidata_dump_processor_spark")):
        sys.exit("run from the repository root: the engine package is not here")

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import inputs as I
    from tools.bench_lock import acquire_bench_lock, foreign_spark_jvms

    os.makedirs(WORK, exist_ok=True)
    acquire_bench_lock(os.path.join(WORK, "bench.lock"))
    if foreign_spark_jvms():
        sys.exit(f"foreign Spark JVMs running {foreign_spark_jvms()}: not measuring")

    data = os.path.join(WORK, "inputs", f"{args.workload}-{args.seed}")
    if not os.path.exists(f"{data}/info.json"):
        shutil.rmtree(data, ignore_errors=True)
        info = I.write_pages(args.workload, args.seed, data)
        with open(f"{data}/info.json", "w") as f:
            json.dump(info, f)
    with open(f"{data}/info.json") as f:
        info = json.load(f)
    qdata = os.path.join(WORK, "inputs", f"queries-{args.seed}")
    if args.trace and not os.path.exists(f"{qdata}/_DONE"):
        shutil.rmtree(qdata, ignore_errors=True)
        I.write_query_tables(args.seed, f"{qdata}/tables", f"{qdata}/fixture")
        open(f"{qdata}/_DONE", "w").close()

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cpus, heap = host_shape()
    env = dict(os.environ, PYTHONPATH=ROOT, TMPDIR=os.path.join(run_dir, "tmp"),
               SPARK_DRIVER_MEM=heap, PYSPARK_PYTHON=sys.executable,
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir}/tmp")
    cfg = {"work": run_dir, "pages": f"{data}/pages", "cpus": cpus,
           # a traced run takes one untraced pass before the traced one
           "seconds": 0 if args.trace else args.seconds, "trace": bool(args.trace),
           "query_tables": f"{qdata}/tables",
           "fixture_tables": f"{qdata}/fixture"}
    try:
        timed = run_engine(cfg, env)
    finally:
        wait_for_job()
    traced = timed.get("layers")
    if foreign_spark_jvms():
        sys.exit(f"foreign Spark JVMs appeared {foreign_spark_jvms()}: not reporting")

    walls = timed["walls"]
    kg_wall = statistics.median(walls) if walls else 0.0
    checks = (check_outputs(data, timed["last_out"], timed["resume_out"])
              if walls and "resume_s" in timed else {})
    ok_share = (timed["attempted"] - timed["failed"]) / timed["attempted"]
    e2e = {
        "setup_s": (timed["setup_s"], "s"),
        "kg_wall_s": (kg_wall, "s"),
        "pages_per_s": (info["pages"] / kg_wall if kg_wall else 0.0, "1/s"),
        "triples_per_s": (timed.get("canonical_triples", 0) / kg_wall if kg_wall else 0.0, "1/s"),
        "resume_s": (timed.get("resume_s", 0.0), "s"),
        "peak_rss_mb": (timed["peak_rss_mb"], "MB"),
        "ops_ok_share": (ok_share, "ratio"),
        "triple_precision": (checks.get("triple_precision", 0.0), "ratio"),
        "triple_recall": (checks.get("triple_recall", 0.0), "ratio"),
        "text_identical_share": (checks.get("text_identical_share", 0.0), "ratio"),
    }
    correct = (
        ok_share == 1.0
        and all(e2e[k][0] == 1.0 for k in ("triple_precision", "triple_recall",
                                             "text_identical_share"))
        and checks.get("resume_identical") is True
        and timed.get("resume_skipped") == 1
    )
    metrics, oracle = e2e, None
    if traced is not None:
        oracle = traced.pop("queries")
        correct = correct and all(oracle.values())
        overhead = traced.pop("pipeline.wall_s") - statistics.median(
            walls + [traced.pop("untraced_after_s")])
        metrics = {k: (v, _unit(k)) for k, v in traced.items()}
        metrics.update({
            "text_extract.html_mb": (info["html_mb"], "MB"),
            "session.start_s": (timed["session_s"], "s"),
            "pipeline.resume_skipped": (timed.get("resume_skipped", 0), "count"),
            "queries_catalog.oracle_match_share": (sum(oracle.values()) / len(oracle), "ratio"),
            "trace.overhead_s": (overhead, "s"),
        })
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "cpus": cpus, "heap": heap,
        "pages": info["pages"], "html_mb": info["html_mb"], "session_s": timed["session_s"],
        "pass_walls_s": walls,
        "passes": len(walls), "canonical_triples": timed.get("canonical_triples"),
        "resume_skipped": timed.get("resume_skipped"), "checks": checks,
        "queries_oracle": oracle,
    }))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": bool(correct), "attempted": timed["attempted"], "failed": timed["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
