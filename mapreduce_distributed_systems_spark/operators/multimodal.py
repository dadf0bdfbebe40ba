"""Multimodal column handling (north star): image/audio/video as
opaque `binary` columns with typed metadata, processed by Arrow-batched
Pandas UDFs (`mapInPandas`) — the Spark-side plumbing (schema,
partitioning, UDF signature, batch shape) is real and oracle-tested;
the actual codec step is STUBBED (no image/audio libs in this
container) behind `decode_image`, which raises NotImplementedError
unless the deterministic fake is requested.

The driver testdata has no binary table, so `documents.text` is
encoded to utf-8 bytes as the stand-in payload; everything downstream
treats it as an opaque blob.

Scale design (100 TB of blobs):
- metadata extraction is mapInPandas over the blob column only
  (column pruning keeps other columns out of the Arrow transfer);
- batches are bounded by spark.sql.execution.arrow.maxRecordsPerBatch,
  so executor memory is independent of blob-table size;
- frame sampling emits one row per sampled frame (explode AFTER the
  UDF, keeping the UDF 1-row-in/1-row-out and shuffle-free).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_distributed_systems_spark.plans.registry import register
from mapreduce_distributed_systems_spark.sources import load_table


def decode_image(blob: bytes, fake: bool = False) -> dict:
    """STUB: real decode needs an image lib not present here.

    With fake=True returns deterministic pseudo-metadata derived from
    the bytes (stable across engines and runs)."""
    if not fake:
        raise NotImplementedError(
            "image decoding requires an imaging library; not available in "
            "this environment — use fake=True for the deterministic stub"
        )
    return {
        "width": blob[0] % 64 + 1 if blob else 1,
        "height": blob[1] % 64 + 1 if len(blob) > 1 else 1,
        "n_bytes": len(blob),
    }


BLOB_FEATURES_SCHEMA = (
    "doc_id long, n_bytes long, content_md5 string, "
    "fake_width int, fake_height int"
)


def _blob_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: per-blob metadata, vectorized per Arrow batch."""
    for pdf in batches:
        blobs = pdf["blob"]
        meta = [decode_image(b, fake=True) for b in blobs]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": [m["n_bytes"] for m in meta],
                "content_md5": [hashlib.md5(b).hexdigest() for b in blobs],
                "fake_width": [m["width"] for m in meta],
                "fake_height": [m["height"] for m in meta],
            }
        )


MULTIMODAL_ORACLE = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_md5,
       ascii(substring(text, 1, 1)) % 64 + 1 AS fake_width,
       ascii(substring(text, 2, 1)) % 64 + 1 AS fake_height
FROM documents
"""


@register(
    "multimodal_features",
    oracle=MULTIMODAL_ORACLE,
    tags=("multimodal", "pandas-udf"),
    doc="Opaque-blob metadata extraction via Arrow-batched mapInPandas "
    "(deterministic fake decode; real codec stubbed).",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    blobs = docs.select("doc_id", F.encode("text", "utf-8").alias("blob"))
    return blobs.mapInPandas(_blob_features, schema=BLOB_FEATURES_SCHEMA)


FRAME_SAMPLE_SCHEMA = "doc_id long, frame_idx int, frame_md5 string"
FRAME_BYTES = 16
FRAME_STRIDE = 4  # keep every 4th frame


def _sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Treat each blob as a 'video': fixed 16-byte frames, keep every
    4th frame, emit (doc_id, frame_idx, md5(frame))."""
    for pdf in batches:
        out_doc, out_idx, out_md5 = [], [], []
        for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
            n_frames = len(blob) // FRAME_BYTES
            for idx in range(0, n_frames, FRAME_STRIDE):
                frame = blob[idx * FRAME_BYTES : (idx + 1) * FRAME_BYTES]
                out_doc.append(doc_id)
                out_idx.append(idx)
                out_md5.append(hashlib.md5(frame).hexdigest())
        yield pd.DataFrame(
            {"doc_id": out_doc, "frame_idx": out_idx, "frame_md5": out_md5}
        )


FRAME_ORACLE = f"""
SELECT doc_id,
       CAST(idx AS INTEGER) AS frame_idx,
       md5(substring(text, idx * {FRAME_BYTES} + 1, {FRAME_BYTES})) AS frame_md5
FROM documents,
     (SELECT unnest(range(0, 10000, {FRAME_STRIDE})) AS idx)
WHERE idx < length(text) // {FRAME_BYTES}
"""


@register(
    "multimodal_frame_sample",
    oracle=FRAME_ORACLE,
    tags=("multimodal", "pandas-udf"),
    doc="'Video' frame sampling over opaque blobs: fixed-size frames, "
    "stride sampling, per-frame hash — mapInPandas fan-out.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    blobs = docs.select("doc_id", F.encode("text", "utf-8").alias("blob"))
    return blobs.mapInPandas(_sample_frames, schema=FRAME_SAMPLE_SCHEMA)


# --------------------------------------------------------------------------
# Resize (round 7): the remaining op of the north star's
# decode / feature-extract / RESIZE / frame-sample quartet. The blob is
# treated as a fake w x h byte image (w from the first byte, like
# decode_image's fake metadata; h capped at 64 rows), downsampled by
# stride 2 in both dimensions — nearest-neighbor, the deterministic
# byte-level core of any real resize kernel. A real codec would replace
# the byte-grid view with decoded pixels behind the same seam
# (decode_image), leaving the Spark-side contract — pruned columns into
# Arrow, 1-row-in/1-row-out UDF, bounded batches — unchanged.
# --------------------------------------------------------------------------

RESIZE_SCHEMA = "doc_id long, out_w int, out_h int, resized_md5 string"
MAX_ROWS = 64  # fake image height cap


def _resize_blobs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Nearest-neighbor stride-2 downsample of the fake byte image:
    keep bytes at even (row, col), row-major order."""
    for pdf in batches:
        out_doc, out_w, out_h, out_md5 = [], [], [], []
        for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
            w = (blob[0] % 64 + 1) if blob else 1
            h = min(len(blob) // w, MAX_ROWS)
            if h < 1:
                continue  # blob smaller than one row (filtered in SQL too)
            resized = bytes(
                blob[y * w + x]
                for y in range(0, h, 2)
                for x in range(0, w, 2)
            )
            out_doc.append(doc_id)
            out_w.append((w + 1) // 2)
            out_h.append((h + 1) // 2)
            out_md5.append(hashlib.md5(resized).hexdigest())
        yield pd.DataFrame(
            {
                "doc_id": out_doc,
                "out_w": out_w,
                "out_h": out_h,
                "resized_md5": out_md5,
            }
        )


# ASCII invariant (ADVICE r7): the Spark side indexes UTF-8 BYTES of
# the blob while this oracle indexes CHARACTERS of the text (ascii(),
# length(), substring()), and the same character/byte split exists in
# decode_image's fake-dimension oracle above — the md5
# equality is therefore byte-for-byte only while document text is pure
# ASCII (1 char == 1 byte). The synthetic documents fixture IS pure
# ASCII at every SF, and tests/test_similarity.py::
# test_documents_fixture_is_pure_ascii enforces it so a fixture
# regeneration that introduces multi-byte text fails loudly instead of
# silently flipping hashes. A real multimodal corpus never hits this:
# the blob column is genuine binary and the oracle seam disappears
# with the codec stub.
RESIZE_ORACLE = f"""
WITH dims AS (
  SELECT doc_id, text,
         ascii(substring(text, 1, 1)) % 64 + 1 AS w,
         least(length(text) // (ascii(substring(text, 1, 1)) % 64 + 1),
               {MAX_ROWS}) AS h
  FROM documents
  WHERE length(text) >= ascii(substring(text, 1, 1)) % 64 + 1
), px AS (
  SELECT d.doc_id, d.w, d.h, y.y, x.x,
         substring(d.text, y.y * d.w + x.x + 1, 1) AS b
  FROM dims d,
       (SELECT unnest(range(0, {MAX_ROWS}, 2)) AS y) y,
       (SELECT unnest(range(0, 64, 2)) AS x) x
  WHERE y.y < d.h AND x.x < d.w
)
SELECT doc_id,
       CAST((w + 1) // 2 AS INTEGER) AS out_w,
       CAST((h + 1) // 2 AS INTEGER) AS out_h,
       md5(string_agg(b, '' ORDER BY y, x)) AS resized_md5
FROM px
GROUP BY doc_id, w, h
"""


@register(
    "multimodal_resize",
    oracle=RESIZE_ORACLE,
    tags=("multimodal", "pandas-udf"),
    bench=True,  # round-8: headline tracks the multimodal Arrow seam
    doc="Nearest-neighbor stride-2 'image' resize over opaque blobs "
    "(fake byte-grid decode; the codec seam is decode_image) — "
    "mapInPandas, 1-row-in/1-row-out, per-doc output hash certified "
    "byte-for-byte by a pixel-unnest SQL replay.",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    blobs = docs.select("doc_id", F.encode("text", "utf-8").alias("blob"))
    return blobs.mapInPandas(_resize_blobs, schema=RESIZE_SCHEMA)
