"""The shared manifest commit (storage/manifest.py) under a crash in
its commit window: the versioned record is written, then the pointer
swap fails. Every versioned store must keep serving the previous
version on a latest read while the new version's record still
resolves on a pinned read — the all-or-nothing output contract."""

from __future__ import annotations

import os
import tempfile

import pytest

from mapreduce_distributed_systems_spark.storage import (
    read_ivf_index,
    read_snapshot,
    write_ivf_index,
    write_snapshot,
)
from mapreduce_distributed_systems_spark.storage.lexical_index import (
    read_bm25_index,
    write_bm25_index,
)


# each store: (write version v holding one row keyed v, read -> (version, keys))
def _snapshot_write(spark, base, v):
    state = spark.createDataFrame(
        [(f"k{v}", f"v{v}", v)],
        "key string, final_value string, n_effective_ops long",
    )
    write_snapshot(state, base, cutoff_repr=f"c{v}", version=v)


def _snapshot_read(spark, base, version=None):
    snap, manifest = read_snapshot(spark, base, version=version)
    return manifest["version"], [r.key for r in snap.collect()]


def _ivf_write(spark, base, v):
    codes = spark.createDataFrame(
        [(v, [v, 0], 0)], "vec_id long, qv array<bigint>, cell int"
    )
    cells = spark.createDataFrame([(0, [v, 0])], "cell int, cv array<bigint>")
    write_ivf_index(codes, cells, base, meta={"n_cells": 1}, version=v)


def _ivf_read(spark, base, version=None):
    codes, _cells, manifest = read_ivf_index(spark, base, version=version)
    return manifest["version"], [r.vec_id for r in codes.collect()]


def _bm25_write(spark, base, v):
    post = spark.createDataFrame(
        [("term", v, 1, 3)], "term string, doc_id long, tf long, dl long"
    )
    terms = spark.createDataFrame([("term", 1)], "term string, df long")
    doclens = spark.createDataFrame([(v, 3)], "doc_id long, dl long")
    stats = {"n_docs": 1, "avgdl": 3.0, "posting_cap": 10}
    write_bm25_index(post, terms, doclens, stats, base, version=v)


def _bm25_read(spark, base, version=None):
    post, _terms, _dl, manifest = read_bm25_index(spark, base, version=version)
    return manifest["version"], [r.doc_id for r in post.collect()]


STORES = {
    "snapshot": (_snapshot_write, _snapshot_read, lambda v: f"k{v}"),
    "ivf": (_ivf_write, _ivf_read, lambda v: v),
    "bm25": (_bm25_write, _bm25_read, lambda v: v),
}


@pytest.mark.parametrize("store", sorted(STORES))
def test_crash_before_pointer_swap_keeps_previous_version(
    spark, monkeypatch, store
):
    write, read, key = STORES[store]
    base = tempfile.mkdtemp(prefix=f"crash_{store}_")
    write(spark, base, 1)

    real_replace = os.replace

    def crash_on_pointer(src, dst):
        if os.path.basename(dst) == "manifest.json":
            raise OSError("crash before the pointer swap")
        return real_replace(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "replace", crash_on_pointer)
        with pytest.raises(OSError, match="pointer swap"):
            write(spark, base, 2)

    # the swap never happened: latest still resolves version 1
    assert read(spark, base) == (1, [key(1)])
    # version 2's data and record were committed before the swap
    assert read(spark, base, version=2) == (2, [key(2)])
