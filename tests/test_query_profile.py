"""tools/query_profile.py, the one catalog-query profiler, runs end to end."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.01"
QUERY = "a1_pricing_summary"  # a driver query


def _profile(*args):
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "query_profile.py"), *args],
        capture_output=True, text=True, timeout=600, cwd=REPO,
        env=dict(os.environ, SPARK_DRIVER_MEM="1g"),
    )
    assert r.returncode == 0, r.stderr[-3000:]
    return r.stdout


def test_profile_query_prints_median():
    line = json.loads(_profile("query", SF_DIR, QUERY, "2").strip().splitlines()[-1])
    assert line["query"] == QUERY
    assert len(line["reps"]) == 2
    assert line["median"] > 0
    # the warm-up rep compiled every generated class the reps need
    assert line["compiles"] == 0


def test_profile_plan_writes_plan(tmp_path):
    out = tmp_path / "plan.txt"
    _profile("plan", SF_DIR, QUERY, str(out))
    plan = out.read_text()
    assert plan.startswith("== Physical Plan ==") and "Scan parquet" in plan
