"""Process-scoped scratch-space root (round 8, generalizing ADVICE
r7's vector_index finding): ~26 sites across the streaming twins,
snapshot queries, and robustness checks allocate tempfile.mkdtemp()
working dirs (stream source symlink dirs, checkpoint locations,
snapshot bases) that a query's lazy result may still read after the
fn returns — so none can rmtree eagerly, and every certification/
bench/replay run used to strand them in /tmp.

ensure_process_scratch() points `tempfile.tempdir` at one fresh
per-process root that an atexit hook removes, so EVERY mkdtemp in the
package (and anything else in-process) lands under it and dies with
the process — the first moment the artifacts are provably dead. This
deliberately avoids editing the ~26 call sites: temp-dir placement
does not change any query's RESULT, so rewriting certified fn bodies
(and burning a 26-slot driver re-certification window) for a lifecycle
fix would be cost without signal. Wired into both session.get_spark()
(tests/bench/replay) and __spark_entry__ import (the external driver,
which brings its own SparkSession and never calls get_spark).

scratch_dir() gives the self-contained index queries (ann_ivf_persisted,
doc_bm25_serve, ...) a named directory under the same root: they build
a real on-disk artifact and RETURN lazy DataFrames that read it only
when the caller materializes them, so a per-call try/finally would
delete the index before it is scanned.
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
