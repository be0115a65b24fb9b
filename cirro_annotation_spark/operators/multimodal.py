"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns next to
structured metadata (the lakehouse-standard layout). The Spark-side
plumbing — schema, Arrow batch shape, mapInPandas signatures,
partition-size control — is real and tested; the actual codec calls are
STUBBED (image/audio libraries are not in this container) by
``FakeCodec``'s deterministic byte arithmetic, clearly marked below.

Scale: payload columns dominate bytes, so the rules are (1) never shuffle
payloads — extract features first, then drop the blob; (2) bound
``maxRecordsPerBatch`` so an Arrow batch of blobs fits in memory;
(3) keep metadata in columnar stats-friendly columns for pruning.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, width int, height int, "
    "sample_rate int, n_bytes long"
)


def attach_binary_payload(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Build a media-shaped frame from the documents table: the UTF-8 bytes
    stand in for an opaque blob (deterministic fake payloads)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col).alias("media_id"),
        F.lit("text/fake").alias("kind"),
        payload.alias("payload"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("sample_rate"),
        F.length(payload).cast("long").alias("n_bytes"),
    )


class FakeCodec:
    """Deterministic stand-in for image/audio decode.

    STUB: a real deployment plugs Pillow/torchaudio/ffmpeg in here; the
    container has none of them, so decode() synthesizes features from the
    bytes themselves (stable, testable) and resize_fake() decimates them.
    """

    @staticmethod
    def decode(payload: bytes) -> dict:
        return {
            "decoded_len": len(payload),
            "checksum": sum(payload[:64]) % 997,
        }

    @staticmethod
    def resize_fake(payload: bytes, factor: int = 2) -> bytes:
        """Deterministic stand-in for a downscale: keep every
        ``factor``-th byte. Exercises the binary→binary plumbing with
        verifiable arithmetic; a real deployment swaps a Pillow resize in."""
        return payload[::factor]


def frame_sample(df: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame sampling plumbing: one media row fans out to ``n_frames``
    rows (media_id, frame_idx, frame_len, frame_checksum) via mapInPandas
    — the one-to-many Arrow-batch shape real video frame extraction uses.

    The DECODE is the deterministic fake chunker (a real deployment swaps
    an ffmpeg frame extractor in): frame k of a payload of length L
    is bytes [k*(L//n) : (k+1)*(L//n)) with the remainder folded into the
    last frame; checksum = sum of the frame's first 16 bytes % 997. Being
    byte arithmetic, the whole path gets a real DuckDB oracle — the
    plumbing under test (schema, fan-out, payload dropped on output) is
    exactly production-shaped.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, lens, sums = [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    # no media -> no frames; a NULL payload row must not
                    # kill the whole job (code-review r15)
                    continue
                b = bytes(payload)
                q = len(b) // n_frames
                for k in range(n_frames):
                    start = k * q
                    end = (k + 1) * q if k < n_frames - 1 else len(b)
                    frame = b[start:end]
                    ids.append(mid)
                    idxs.append(k)
                    lens.append(len(frame))
                    sums.append(sum(frame[:16]) % 997)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_len": pd.Series(lens, dtype="int64"),
                    "frame_checksum": pd.Series(sums, dtype="int64"),
                }
            )

    return df.mapInPandas(
        op,
        "media_id long, frame_idx int, frame_len long, frame_checksum long",
    )


def resize_payloads(df: DataFrame, factor: int = 2) -> DataFrame:
    """Binary→binary transform plumbing (the resize/transcode shape):
    unlike extract_features, the OUTPUT carries a payload — the one
    multimodal case where blob bytes legitimately flow through the
    plan. Rules at scale: transform immediately after the scan (no
    shuffle between), write immediately after (partition the sink, cap
    file sizes), and keep only derived metadata for anything keyed.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL payloads propagate as NULL output/bytes instead of
            # raising TypeError inside the worker (code-review r15).
            resized = pdf["payload"].map(
                lambda b: None if b is None else FakeCodec.resize_fake(bytes(b), factor)
            )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload": resized,
                    "n_bytes": pd.Series(
                        [None if b is None else len(b) for b in resized],
                        dtype="Int64",
                    ),
                }
            )

    return df.mapInPandas(
        op, "media_id long, kind string, payload binary, n_bytes long"
    )


def extract_features(df: DataFrame) -> DataFrame:
    """mapInPandas feature extraction: Arrow-batched, per-partition, the
    real production shape for decode-and-featurize at scale. Payload is
    DROPPED on output — features travel, blobs don't."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL payload -> NULL features: decode failures stay
            # countable rows instead of killing the job (code-review r15).
            feats = pdf["payload"].map(
                lambda b: None if b is None else FakeCodec.decode(b)
            )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["n_bytes"],
                    "decoded_len": pd.Series(
                        [None if d is None else d["decoded_len"] for d in feats],
                        dtype="Int64",
                    ),
                    "checksum": pd.Series(
                        [None if d is None else d["checksum"] for d in feats],
                        dtype="Int64",
                    ),
                }
            )

    return df.mapInPandas(
        op, "media_id long, kind string, n_bytes long, decoded_len long, checksum long"
    )
