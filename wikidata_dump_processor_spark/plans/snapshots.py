"""Snapshot catalog behind the StageManifest (VERDICT r5 #4).

Stage outputs are parquet directories; the manifest JSON records which
files a committed stage consists of.  That file-set IS the snapshot
identity — what Iceberg's snapshot log tracks natively
(MIGRATION.md "The Iceberg seam").  This module makes the snapshot a
first-class object: snapshot ids, time travel (``read_at``) and
``start-snapshot-id`` incremental reads (St3, ``read_delta``).

``JsonSnapshotCatalog`` is the one backend: a ``_snapshots.json`` log
per output dir, one entry per commit holding the stage's full file
list, committed with the manifest's atomic ``os.replace`` discipline.
``open_catalog`` and the CLI's ``--snapshot-backend`` both take their
names from ``BACKENDS``; an Iceberg backend joins it only where it can
be tested.

Reads at scale: ``read_at``/``read_delta`` pass explicit file lists to
``spark.read.parquet``, keyed on a snapshot id.
"""

from __future__ import annotations

import glob
import json
import os
import time

from ..session import local_df

# every name ``open_catalog`` accepts
BACKENDS = ("json",)


def _stage_files(path: str) -> list[str]:
    """The committed parquet files of a stage dir (recursive — the
    canonical triples stage partitions by pred)."""
    return sorted(
        glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


class JsonSnapshotCatalog:
    """Snapshot log as a JSON side file.

    ``commit`` records the stage's CURRENT full file set (overwrite and
    append writes both reduce to "this is the committed state"); ids
    are monotonically increasing ints per stage."""

    backend = "json"

    def __init__(self, root: str):
        self.root = root
        self.path = os.path.join(root, "_snapshots.json")
        os.makedirs(root, exist_ok=True)
        self.log: dict[str, list[dict]] = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.log = json.load(f)

    def commit(self, stage: str, path: str, fingerprint: str = "") -> int:
        snaps = self.log.setdefault(stage, [])
        sid = (snaps[-1]["id"] + 1) if snaps else 1
        snaps.append(
            {
                "id": sid,
                "fingerprint": fingerprint,
                "ts": time.time(),
                "files": [os.path.relpath(f, path) for f in _stage_files(path)],
                "path": path,
            }
        )
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.log, f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)  # atomic, like the manifest
        return sid

    def snapshot_ids(self, stage: str) -> list[int]:
        return [s["id"] for s in self.log.get(stage, [])]

    def current_snapshot_id(self, stage: str) -> int | None:
        ids = self.snapshot_ids(stage)
        return ids[-1] if ids else None

    def files_at(self, stage: str, snapshot_id: int) -> set[str]:
        for s in self.log.get(stage, []):
            if s["id"] == snapshot_id:
                return {os.path.join(s["path"], f) for f in s["files"]}
        raise KeyError(f"stage {stage!r} has no snapshot {snapshot_id}")


def open_catalog(root: str, backend: str = "json"):
    """The snapshot catalog of an output dir; ``backend`` is one of
    ``BACKENDS``."""
    if backend not in BACKENDS:
        raise ValueError(f"unknown snapshot backend {backend!r}")
    return JsonSnapshotCatalog(root)


def read_at(spark, cat, stage: str, snapshot_id: int, schema=None):
    """Time travel: the stage AS OF a snapshot id — Spark scans exactly
    that snapshot's file set."""
    files = sorted(cat.files_at(stage, snapshot_id))
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    if not files:
        raise ValueError(f"snapshot {snapshot_id} of {stage!r} is empty")
    return r.parquet(*files)


def read_delta(spark, cat, stage: str, since_snapshot_id: int, schema=None):
    """St3 incremental read, Iceberg's ``start-snapshot-id`` shape: only
    the files ADDED after ``since_snapshot_id`` (empty DataFrame with
    the current snapshot's schema when nothing is new)."""
    cur = cat.current_snapshot_id(stage)
    base = cat.files_at(stage, since_snapshot_id)
    now = cat.files_at(stage, cur) if cur is not None else set()
    new = sorted(now - base)
    if not new:
        if schema is not None:
            return local_df(spark, [], schema)
        if not (now or base):
            # JsonSnapshotCatalog.commit permits zero-file commits; with
            # no schema and no files anywhere there is nothing to infer
            # from — raise clearly instead of letting
            # spark.read.parquet() fail on an empty path list (ADVICE r6)
            raise ValueError(
                f"stage {stage!r} has no files in either snapshot and no "
                "schema was given — pass schema= to read an empty delta"
            )
        ref = spark.read.parquet(*sorted(now or base)).schema
        return local_df(spark, [], ref)
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.parquet(*new)
