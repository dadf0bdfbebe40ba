"""The manifest commit shared by the versioned stores (snapshots,
vector_index, lexical_index) — all-or-nothing job output, the
reference's early_exit contract, as a write-then-pointer-swap commit.

A store writes all of a version's data, then `commit` writes the
immutable record manifest-<ver>.json and only then swaps the pointer
manifest.json to it. The pointer swap is the commit point: a crash
before it leaves the previous version live, with the new record
still resolvable by a pinned read. Every JSON write is a `<path>.tmp`
write plus one atomic rename, so no crash leaves a truncated file.
"""

from __future__ import annotations

import json
import os

MANIFEST_VERSION = 1


def write_json_atomic(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _path(base_dir: str, version: int | None) -> str:
    name = "manifest.json" if version is None else f"manifest-{version:03d}.json"
    return os.path.join(base_dir, name)


def commit(base_dir: str, version: int, manifest: dict) -> str:
    """Record `version`, then swap the pointer. Returns the pointer path."""
    write_json_atomic(_path(base_dir, version), manifest)
    write_json_atomic(_path(base_dir, None), manifest)
    return _path(base_dir, None)


def committed_versions(base_dir: str) -> list[int]:
    """Every version with a commit record, ascending."""
    return sorted(
        int(name[len("manifest-") : -len(".json")])
        for name in os.listdir(base_dir)
        if name.startswith("manifest-") and name.endswith(".json")
    )


def resolve(base_dir: str, version: int | None = None) -> dict:
    """The latest manifest, or a pinned historical version's record."""
    with open(_path(base_dir, version)) as f:
        return json.load(f)
