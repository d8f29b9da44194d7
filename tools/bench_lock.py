"""Bench exclusivity guard (VERDICT r5 #5).

The paired-window scaling protocol is only as good as its isolation:
ONE concurrent Spark job on this box (even an unrelated test session)
contaminates both legs of a window and the run must be excluded by
hand — round 5's run S was.  Two mechanisms make that automatic:

* ``acquire_bench_lock()`` — an ``flock`` on a well-known lock file so
  two bench/scaling harnesses can never measure at once.  Non-blocking
  and LOUD: a held lock aborts the run with the holder's identity
  instead of silently producing a contaminated artifact.  Child bench
  processes (the paired-window fresh JVMs are ``bench.py`` re-invoked
  via subprocess) inherit the exclusivity through the
  ``BENCH_LOCK_HELD=1`` environment flag — the lock is per-JOB, not
  per-process.

* ``foreign_spark_jvms()`` — a /proc sweep for Spark JVMs that do NOT
  belong to this bench job, recorded into the artifact as
  ``concurrent_spark_detected`` so a reader (or the judge) can discard
  the window without forensic archaeology.  A JVM belongs to the job
  when any of its ancestors is a ``bench.py`` / ``scaling_bench.py``
  process: that covers the harness's own driver JVM, the fresh-JVM
  window children, and the (stopped but still-alive) gateway JVM of a
  parent bench orchestrating windows.  The flock guarantees no OTHER
  bench job runs, so the ancestor rule never excludes a true foreigner.

Only stdlib + /proc — no psutil in the sandbox, and /proc is what a
cluster-side watchdog would read anyway.
"""

from __future__ import annotations

import fcntl
import os
import sys
import time

LOCK_PATH = os.environ.get("BENCH_LOCK_PATH", "/tmp/wdp_spark_bench.lock")
# every lock-taking measurement entrypoint — a JVM whose ancestry carries
# none of these is foreign (a missing marker makes the entrypoint's own
# child JVM flag itself as foreign)
_BENCH_MARKERS = ("bench.py", "scaling_bench.py")

# module-level so the fd (and with it the flock) lives for the process
_LOCK_FH = None


def _cmdline(pid: int) -> list[str]:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            raw = f.read()
    except OSError:
        return []
    return [a.decode("utf-8", "replace") for a in raw.split(b"\0") if a]


def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    # field 4, after the parenthesized comm (which may contain spaces)
    try:
        return int(stat.rsplit(")", 1)[1].split()[1])
    except (IndexError, ValueError):
        return None


def _ancestors(pid: int, max_depth: int = 64) -> list[int]:
    chain = []
    p = _ppid(pid)
    while p and p > 1 and len(chain) < max_depth:
        chain.append(p)
        p = _ppid(p)
    return chain


def _environ_token(pid: int) -> str | None:
    """The BENCH_LOCK_PID value in a process's environment, if any."""
    try:
        with open(f"/proc/{pid}/environ", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    for part in raw.split(b"\0"):
        if part.startswith(b"BENCH_LOCK_PID="):
            return part.split(b"=", 1)[1].decode("ascii", "replace")
    return None


def foreign_spark_jvms() -> list[int]:
    """PIDs of Spark JVMs not belonging to this bench job.

    Ownership anchor (ADVICE r6): the lock holder exports
    ``BENCH_LOCK_PID=<holder pid>`` BEFORE any Spark JVM starts, so
    every JVM of this job (driver/gateway, fresh-JVM window children,
    even one orphaned and reparented to PID 1) carries the token in its
    environment — a job-specific anchor instead of matching script
    basenames, which both masked real contamination from any unrelated
    script that happened to be called bench.py and false-flagged
    orphaned own JVMs.  A JVM is OWNED when the calling process is
    among its ancestors, or its environment carries OUR lock token.
    The basename-marker heuristic survives only as the fallback for
    callers outside a lock-holding job (no token in our environment).
    Cheap: one /proc sweep."""
    self_pid = os.getpid()
    own_token = os.environ.get("BENCH_LOCK_PID")
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        pid = int(entry)
        argv = _cmdline(pid)
        if not argv or os.path.basename(argv[0]) != "java":
            continue
        if "spark" not in " ".join(argv).lower():
            continue
        owned = False
        if own_token is not None and _environ_token(pid) == own_token:
            owned = True
        for anc in ([] if owned else _ancestors(pid)):
            if anc == self_pid:
                owned = True
                break
            if own_token is not None:
                if _environ_token(anc) == own_token:
                    owned = True
                    break
            else:
                cmd = " ".join(_cmdline(anc))
                if any(m in cmd for m in _BENCH_MARKERS):
                    owned = True
                    break
        if not owned:
            out.append(pid)
    return sorted(out)


def acquire_bench_lock(
    path: str = LOCK_PATH, wait_secs: float | None = None
) -> str:
    """Take the exclusive bench flock, or die loudly.

    Returns ``"held"`` when this process took the lock, ``"inherited"``
    when a parent bench already holds it (``BENCH_LOCK_HELD=1`` in the
    environment — the flock fd is per-job).  On conflict: waits up to
    ``wait_secs`` (or ``$BENCH_LOCK_WAIT``), then ``sys.exit(3)`` with
    the holder's identity — a contaminated measurement is worse than no
    measurement."""
    global _LOCK_FH
    if os.environ.get("BENCH_LOCK_HELD") == "1":
        return "inherited"
    if wait_secs is None:
        wait_secs = float(os.environ.get("BENCH_LOCK_WAIT", "0"))
    fh = open(path, "a+")  # noqa: SIM115 — held for process lifetime
    deadline = time.time() + wait_secs
    while True:
        try:
            fcntl.flock(fh.fileno(), fcntl.LOCK_EX | fcntl.LOCK_NB)
            break
        except OSError:
            if time.time() >= deadline:
                fh.seek(0)
                holder = fh.read().strip() or "unknown holder"
                fh.close()
                print(
                    f"bench lock {path} is held by [{holder}] — another "
                    "bench/scaling run is measuring; refusing to "
                    "contaminate its windows (set BENCH_LOCK_WAIT=secs "
                    "to wait instead)",
                    file=sys.stderr,
                )
                sys.exit(3)
            time.sleep(0.5)
    fh.truncate(0)
    fh.write(f"pid={os.getpid()} argv={' '.join(sys.argv[:3])}")
    fh.flush()
    _LOCK_FH = fh
    os.environ["BENCH_LOCK_HELD"] = "1"  # children inherit the job lock
    # job-specific ownership token for the foreign-JVM sweep: exported
    # BEFORE any Spark JVM starts, inherited by every child (ADVICE r6)
    os.environ["BENCH_LOCK_PID"] = str(os.getpid())
    return "held"
