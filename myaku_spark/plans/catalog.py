"""Index catalog: an atomically-swapped pointer to versioned index dirs.

The round-1 compaction swapped segment/doc directories with
shutil.rmtree + move, which a concurrent reader could observe as a
missing index. This catalog gives the local-parquet layout the snapshot
model Iceberg provides natively: every compaction writes NEW versioned
directories (segments_v{N}, docs_v{N}, tombstones_v{N}) and then
publishes one pointer file with os.replace — atomic on POSIX — so any
reader resolves a CONSISTENT (segments, docs, tombstones) triple from a
single catalog read. Old versions stay on disk for in-flight readers
until a later compaction garbage-collects them.

On a real deployment this file IS the Iceberg table snapshot pointer
(metadata.json); the resolve/publish contract is identical.
"""

from __future__ import annotations

import json
import os

CATALOG_FILE = "CATALOG.json"

_V0 = {
    "version": 0,
    "segments": "segments",
    "docs": "docs",
    "tombstones": "tombstones",
    "term_stats": "term_stats",
    "corpus_stats": "corpus_stats",
}

COMPONENTS = ("segments", "docs", "tombstones", "term_stats", "corpus_stats")


def current(index_dir: str) -> dict:
    """The live catalog entry; defaults to the v0 legacy layout so
    indexes built before any compaction resolve unchanged. Components
    missing from an older persisted entry default to their v0 names."""
    p = os.path.join(index_dir, CATALOG_FILE)
    if os.path.exists(p):
        with open(p, encoding="utf-8") as f:
            entry = json.load(f)
        for k, v in _V0.items():
            entry.setdefault(k, v)
        return entry
    return dict(_V0)


def resolve(index_dir: str) -> tuple[dict, dict]:
    """ONE catalog read → (entry, absolute component paths).

    Every reader/writer that touches more than one component must go
    through this so a compaction publishing between reads can never mix
    versions (e.g. v0 tombstones with v1 docs)."""
    entry = current(index_dir)
    paths = {c: os.path.join(index_dir, entry[c]) for c in COMPONENTS}
    return entry, paths


def _normalized(entry: dict) -> dict:
    e = dict(entry)
    for k, v in _V0.items():
        e.setdefault(k, v)
    return e


def versions(index_dir: str) -> list[int]:
    """Version numbers reachable from the live pointer, newest first —
    the snapshot history an Iceberg metadata.json carries."""
    entry: dict | None = current(index_dir)
    out = []
    while entry is not None:
        out.append(int(entry.get("version", 0)))
        prev = entry.get("previous")
        entry = _normalized(prev) if prev is not None else None
    return out


def at_version(index_dir: str, version: int) -> tuple[dict, dict]:
    """Time travel: resolve the catalog entry of a PAST version still
    referenced by the live pointer's previous-chain — the Iceberg
    read-at-snapshot-id contract. Raises KeyError when the version is
    not in the chain and FileNotFoundError when its component dirs were
    already garbage-collected (GC keeps {current, previous}; older
    snapshots are readable only until then).

    Caveat: compaction and rescore publish NEW immutable versions, but
    an incremental delta appends a partition group into the LIVE
    version's component dirs — past versions' segments/docs are frozen,
    the live one advances in place. Two sharing notes: (a) a published
    entry may carry an earlier version's tombstones/stats dirs FORWARD
    by name, so a later incremental's tombstone append is visible to a
    pinned read of such a version; (b) full append-snapshot granularity
    would pin the delta-group list and version the tombstone file set
    per publish — the part of this model Iceberg provides natively."""
    entry: dict | None = current(index_dir)
    while entry is not None and int(entry.get("version", 0)) != int(version):
        prev = entry.get("previous")
        entry = _normalized(prev) if prev is not None else None
    if entry is None:
        raise KeyError(
            f"version {version} not in catalog chain "
            f"{versions(index_dir)} of {index_dir}"
        )
    paths = {c: os.path.join(index_dir, entry[c]) for c in COMPONENTS}
    gone = [
        c for c in ("segments", "docs") if not parquet_exists(paths[c])
    ]
    if gone:
        raise FileNotFoundError(
            f"version {version} components {gone} were garbage-collected"
        )
    return entry, paths


def path_of(index_dir: str, component: str) -> str:
    return os.path.join(index_dir, current(index_dir)[component])


def publish(index_dir: str, entry: dict) -> None:
    """Atomically swap the catalog pointer (write temp + os.replace)."""
    p = os.path.join(index_dir, CATALOG_FILE)
    tmp = p + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(entry, f)
    os.replace(tmp, p)


def parquet_exists(path: str) -> bool:
    """Local-fs existence check for an optional parquet dir — avoids the
    AnalysisException + ERROR-log noise of probing with spark.read (the
    round-1 bench tail pollution). On an object store this is a catalog
    lookup instead."""
    return os.path.isdir(path) and bool(os.listdir(path))


def gc_names(index_dir: str, keep_names: set[str]) -> list[str]:
    """Delete versioned component dirs whose NAME is not referenced by
    any entry the caller wants live (current + previous). Name-based,
    not version-number-based: an entry may reuse an older version's
    component (e.g. a rescore carries tombstones_v1 forward into v2),
    which number-based GC would wrongly delete."""
    import re
    import shutil

    removed = []
    pat = re.compile(
        r"^(segments|docs|tombstones|term_stats|corpus_stats)_v(\d+)$"
    )
    for name in os.listdir(index_dir):
        if pat.match(name) and name not in keep_names:
            shutil.rmtree(os.path.join(index_dir, name), ignore_errors=True)
            removed.append(name)
    return removed
