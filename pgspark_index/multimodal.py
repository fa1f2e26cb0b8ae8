"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The image/audio decode libraries are not in this container, so the decode
kernels are STUBS — either a clearly-marked NotImplementedError (real
decode) or a deterministic fake (for tests). The Spark-side plumbing is
real and tested: schemas, Arrow batch shapes, mapInPandas signatures, and
the partitioning story all match what a production decode stage needs.

Scale notes: payloads stay in executor memory only one Arrow batch at a
time (spark.sql.execution.arrow.maxRecordsPerBatch bounds batch bytes);
feature extraction is embarrassingly parallel (no shuffle); downstream
joins are on doc_id.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

MEDIA_SCHEMA = "doc_id bigint, media_type string, n_bytes bigint, payload binary"
FEATURE_DIM = 8
FEATURE_SCHEMA = "doc_id bigint, media_type string, feature array<float>"
FEATURE_COLS = [f"f{i}" for i in range(FEATURE_DIM)]
FEATURE_COL_SCHEMA = "doc_id bigint, media_type string, " + ", ".join(
    f"{c} bigint" for c in FEATURE_COLS
)


def attach_payload(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Simulate a multimodal table: utf-8 bytes of text as the opaque
    payload, a deterministic fake media_type, and byte-length metadata."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.element_at(
            F.array(F.lit("image/png"), F.lit("audio/wav"), F.lit("video/mp4")),
            (F.col(id_col) % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.octet_length(F.col(text_col)).cast("bigint").alias("n_bytes"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
    )


def decode_image(payload: bytes) -> "np.ndarray":
    """Real image decode — requires PIL/libjpeg, absent in this container."""
    raise NotImplementedError(
        "image decode requires PIL/opencv (not installed); "
        "use extract_features(..., fake=True) for the deterministic stub"
    )


def _fake_features_batch(payloads, dim: int = FEATURE_DIM) -> np.ndarray:
    """Deterministic stand-in for a decode+embed kernel over a WHOLE Arrow
    batch -> (n, dim) int64: integer-exact byte-stream statistics, so the
    value is bit-identical across engines (no float summation-order
    hazards in the correctness gate).

    One concatenated byte buffer + ``np.*.reduceat`` over per-row
    segments: no per-row Python in the batch hot path (bytes join and
    len() are C-level)."""
    n_rows = len(payloads)
    if n_rows == 0:
        return np.zeros((0, dim), dtype=np.int64)
    raw = [bytes(p) if p is not None else b"" for p in payloads]
    lens = np.fromiter((len(p) for p in raw), dtype=np.int64, count=n_rows)
    buf = np.frombuffer(b"".join(raw), dtype=np.uint8)
    feats = np.zeros((n_rows, dim), dtype=np.int64)
    nz = lens > 0
    if not nz.any():
        return feats
    starts = np.zeros(n_rows, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    st, ln = starts[nz], lens[nz]
    b64 = buf.astype(np.int64)
    sums = np.add.reduceat(b64, st)
    # reduceat folds an empty trailing segment into the previous one only
    # when starts repeat — impossible here (every selected segment is
    # non-empty), so each reduceat slice is exactly one row's bytes
    out = np.empty((int(nz.sum()), dim), dtype=np.int64)
    out[:, 0] = sums % 65521            # byte-sum fingerprint
    out[:, 1] = ln % 251                # length residue
    out[:, 2] = buf[st]                 # first byte
    out[:, 3] = buf[st + ln - 1]        # last byte
    out[:, 4] = np.minimum.reduceat(b64, st)
    out[:, 5] = np.maximum.reduceat(b64, st)
    out[:, 6] = np.add.reduceat((buf > 96).astype(np.int64), st)
    out[:, 7] = sums // ln              # integer mean byte value
    feats[nz] = out[:, :dim]
    return feats


def extract_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Batch shape: one pandas DataFrame per Arrow batch; per row the kernel
    sees raw bytes and emits a fixed-dim float vector. With fake=False the
    real decoder raises NotImplementedError (documented stub)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if fake:
                feats = (
                    _fake_features_batch(list(pdf["payload"]))
                    .astype(float)
                    .tolist()
                )
            else:
                feats = [decode_image(p).tolist() for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "feature": feats,
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def extract_feature_columns(media: DataFrame) -> DataFrame:
    """Deterministic fake features as SCALAR columns (f0..f7 bigint).

    The driver's correctness canonicalizer sorts by value, which requires
    hashable scalars — array columns are for downstream ANN consumers; this
    exploded form is the oracle-checkable one (exact integers, SQL-
    expressible over the byte stream)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = _fake_features_batch(list(pdf["payload"]))
            out = {"doc_id": pdf["doc_id"], "media_type": pdf["media_type"]}
            for i, c in enumerate(FEATURE_COLS):
                out[c] = feats[:, i]
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=FEATURE_COL_SCHEMA)


def sample_frames(
    media: DataFrame, frame_size: int = 64, stride: int = 128, max_frames: int = 16
) -> DataFrame:
    """Frame-sampling plumbing: strided fixed-size windows over the opaque
    payload — the Spark-side shape of video frame sampling (a real decoder
    would produce frames from container timestamps; the byte-window stand-in
    keeps the operator deterministic and library-free).

    Pure JVM expressions (sequence + explode + substr over binary) — no
    Python in the path; one row per (doc, frame) with byte-count + checksum.
    Scale: map-only (no shuffle), output rows bounded by max_frames per doc,
    payload bytes never leave the JVM."""
    last_idx = F.greatest(
        F.least(
            F.lit(max_frames - 1),
            F.floor((F.col("n_bytes") - 1) / stride).cast("int"),
        ),
        F.lit(0),
    )
    frames = media.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), last_idx)).alias("frame_idx"),
        "payload",
    ).select(
        "doc_id",
        "frame_idx",
        F.col("payload")
        .substr((F.col("frame_idx") * stride + 1).cast("int"), F.lit(frame_size))
        .alias("frame"),
    )
    return frames.select(
        "doc_id",
        "frame_idx",
        F.octet_length("frame").cast("bigint").alias("frame_bytes"),
        F.md5("frame").alias("frame_md5"),
    )


def media_stats(media: DataFrame) -> DataFrame:
    """Typed-metadata aggregation (JVM-side): per media_type byte accounting."""
    return media.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("n_bytes").alias("total_bytes"),
        F.min("n_bytes").alias("min_bytes"),
        F.max("n_bytes").alias("max_bytes"),
    )
