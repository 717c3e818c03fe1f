"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a metadata struct —
exactly how the reference treats vectors as opaque blobs with externally
declared shape (reference: core/common/models/vectors_dataset.py:87-133
schema-on-read with strict length validation).

The actual media DECODE is stubbed (no image/audio libs in this container):
``decode_stub`` raises NotImplementedError when a real codec is requested,
and ``fake_features`` provides a deterministic byte-histogram feature
extractor so the Spark-side plumbing — schema, batch shape, partitioning,
UDF signature — is real and testable end-to-end. Swap `_extract` for a real
decoder (PIL/torchaudio) on a cluster that has one; nothing else changes.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


FEATURE_DIM = 16
FEATURES_SCHEMA = f"doc_id long, media_type string, n_bytes int, features array<float>"

REAL_CODECS = frozenset()  # none available in this container


def attach_fake_media(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic fake media: payload = utf-8 bytes of the text, typed
    metadata derived from doc_id. Stands in for a real (binary, metadata)
    ingest so downstream plumbing is exercised with realistic shapes."""
    # pmod, not %: Spark's % keeps the dividend's sign, so negative
    # (hash64) doc_ids would yield element_at index 0 (invalid) or negative
    # (wraps from the end) and negative widths — pmod is total over int64
    return df.select(
        "doc_id",
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        ).alias("media_type"),
        F.encode(F.coalesce(F.col(text_col), F.lit("")), "utf-8").alias("payload"),
        (F.pmod(F.col("doc_id"), F.lit(640)) + 32).cast("int").alias("width"),
        (F.pmod(F.col("doc_id"), F.lit(480)) + 32).cast("int").alias("height"),
        (F.pmod(F.col("doc_id"), F.lit(30)) + 1).cast("int").alias("n_frames"),
    )


def decode_stub(media_type: str) -> None:
    """The seam where a real codec plugs in."""
    if media_type not in REAL_CODECS:
        raise NotImplementedError(
            f"no codec for {media_type!r} in this environment; "
            "use fake_features for pipeline testing"
        )


def _extract(payload: bytes) -> np.ndarray:
    """Deterministic stand-in feature: 16-bin byte histogram, L1-normalized.
    Vectorized per payload; replaced by a real model/codec in production."""
    if not payload:
        return np.zeros(FEATURE_DIM, dtype=np.float32)
    b = np.frombuffer(payload, dtype=np.uint8)
    hist = np.bincount(b >> 4, minlength=FEATURE_DIM).astype(np.float32)
    return hist / max(1.0, float(hist.sum()))


def fake_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over media batches — the exact batch
    shape a real decoder would use (Arrow binary column in, float array
    out). Map-only: no shuffle at any corpus size."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_extract(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["payload"].str.len().fillna(0).astype("int32"),
                    "features": feats,
                }
            )

    return media.mapInPandas(gen, schema=FEATURES_SCHEMA)


def media_summary_sql(table: str = "documents", id_col: str = "doc_id",
                      text_col: str = "text") -> str:
    """DuckDB oracle for the (doc_id, media_type, n_bytes) projection of
    fake_features over attach_fake_media: media typing and payload byte
    length are exactly computable in SQL (octet_length of the utf-8 blob);
    the histogram features themselves are value-checked against a numpy
    recompute in tests/test_pipeline.py (byte-level ops aren't portable
    ANSI SQL). ((x % m) + m) % m mirrors Spark's pmod for negative
    (hash64) ids — SQL % follows the dividend's sign."""
    return f"""
SELECT {id_col} AS doc_id,
       CASE CAST((({id_col} % 3) + 3) % 3 AS INT) WHEN 0 THEN 'image'
            WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
       CAST(octet_length(CAST(coalesce({text_col}, '') AS BLOB)) AS INT)
         AS n_bytes
FROM {table}
"""


def frame_sample_sql(every: int = 5, table: str = "documents",
                     id_col: str = "doc_id") -> str:
    """DuckDB oracle for frame_sample over attach_fake_media(documents).
    ((x % m) + m) % m mirrors Spark's pmod for negative (hash64) ids."""
    return f"""
WITH media AS (
  SELECT {id_col} AS doc_id,
         CASE CAST((({id_col} % 3) + 3) % 3 AS INT) WHEN 0 THEN 'image'
              WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
         CAST((({id_col} % 640) + 640) % 640 + 32 AS INT) AS width,
         CAST((({id_col} % 480) + 480) % 480 + 32 AS INT) AS height,
         CAST((({id_col} % 30) + 30) % 30 + 1 AS INT) AS n_frames
  FROM {table}
)
SELECT doc_id, CAST(u.f AS INT) AS frame_idx, width, height
FROM media, unnest(generate_series(0, n_frames - 1, {every})) AS u(f)
WHERE media_type = 'video'
"""


def frame_sample(media: DataFrame, every: int = 5) -> DataFrame:
    """Frame-sampling plan for video rows: one output row per sampled frame
    index (pure Catalyst explode of a sequence — the real decoder would
    slice the payload per frame)."""
    vids = media.filter(F.col("media_type") == "video")
    return vids.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every))
        ).alias("frame_idx"),
        "width",
        "height",
    )
