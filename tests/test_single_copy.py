"""Each shared mechanism has exactly one implementation in the package:
the memory-sink finite replay lives only in streaming/replay.py and
the atomic JSON rename only in storage/manifest.py. A second copy
would drift from the first (sink options, commit ordering) without
any test noticing."""

from __future__ import annotations

from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "mapreduce_distributed_systems_spark"


def _sites(needle: str) -> list[str]:
    return [
        path.relative_to(PKG).as_posix()
        for path in sorted(PKG.rglob("*.py"))
        for line in path.read_text().splitlines()
        if needle in line
    ]


def test_one_memory_sink():
    assert _sites('format("memory")') == ["streaming/replay.py"]


def test_one_atomic_rename():
    assert _sites("os.replace(") == ["storage/manifest.py"]
