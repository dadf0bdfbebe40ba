"""Process-scoped scratch-space root (round 8). Query fns allocate
working dirs (stream sources and checkpoints, snapshot bases, index
dirs) that their lazy result may still read after the fn returns, so
none can be removed eagerly.

ensure_process_scratch() points `tempfile.tempdir` at one fresh
per-process root that an atexit hook removes, so every mkdtemp in the
process lands under it and dies with the process. It is wired into
session.get_spark() (tests/bench/replay) and the __spark_entry__
import, whose caller brings its own SparkSession.

scratch_dir() names a directory under that root explicitly; the
memory-sink replays (streaming/replay.py) and the index queries use
it. Seven plain tempfile.mkdtemp() sites remain, six of them inside
certified fn bodies (the three snapshot queries,
bm25_index_streaming_append, bm25_index_version_diff): placement
changes no result, so moving them is not worth re-certification
slots.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

_ROOT: str | None = None


def ensure_process_scratch() -> str:
    global _ROOT
    if _ROOT is None:
        # create the root BEFORE retargeting tempfile.tempdir (mkdtemp
        # consults it), then point all future default-dir temp
        # allocations inside it
        _ROOT = tempfile.mkdtemp(prefix="spark_graft_scratch_")
        tempfile.tempdir = _ROOT
        atexit.register(shutil.rmtree, _ROOT, ignore_errors=True)
    return _ROOT


def scratch_dir(prefix: str) -> str:
    """A fresh directory under the per-process scratch root."""
    return tempfile.mkdtemp(prefix=prefix, dir=ensure_process_scratch())
