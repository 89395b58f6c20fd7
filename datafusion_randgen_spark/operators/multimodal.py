"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata, with decode / feature-extract / frame-sample as
Arrow-batched ``mapInPandas`` stages.

The container has no image/audio codecs, so the *decode* step is a
clearly-marked deterministic fake (or ``NotImplementedError`` for the
real-codec path) — but the Spark-side plumbing is real and tested:
schema, batch iteration, partitioning, and the UDF signatures are
exactly what a production decode stage uses; swapping in Pillow/librosa
is a one-function change.

Scale notes: binary payloads ride in Arrow record batches; keep
``spark.sql.files.maxPartitionBytes`` sized so a batch of payloads fits
executor memory.  All stages are map-only — zero shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "doc_id long, media_type string, byte_len long, "
    "width int, height int, checksum long"
)


def attach_fake_media(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize an opaque binary 'media' column from the text bytes —
    a stand-in for real image/audio payloads with a deterministic,
    oracle-checkable byte length."""
    media = F.encode(F.col(text_col), "utf-8")
    return docs.select(
        "doc_id",
        media.alias("media"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("image/png"))
        .otherwise(F.lit("audio/wav"))
        .alias("media_type"),
        F.octet_length(media).cast("long").alias("byte_len"),
    )


def _fake_decode_dims(byte_len: pd.Series) -> tuple[pd.Series, pd.Series]:
    """FAKE decode: derive WxH from payload size deterministically.
    Real implementation would parse the container header (PIL.Image.open
    / soundfile.info) — unavailable in this environment."""
    width = 64 + (byte_len % 640)
    height = 64 + ((byte_len // 7) % 480)
    return width.astype("int32"), height.astype("int32")


def _has_pil() -> bool:
    """Availability probe for the real image codec (VERDICT r10 task 7)
    — the protobuf-gate pattern: the real path registers itself where
    Pillow exists; the deterministic fake stays the driver-verified
    path either way.  Last re-checked round 20, 2026-08-16: Pillow
    still absent from the container."""
    try:
        from PIL import Image  # noqa: F401, PLC0415

        return True
    except ImportError:
        return False


HAS_PIL = _has_pil()


def real_decode(payload: bytes, media_type: str) -> tuple[int, int]:
    """Real-codec decode: (width, height) from the actual container
    header.  Image payloads decode via Pillow where it is installed;
    audio would use soundfile/librosa (never present here).  Raises
    ``NotImplementedError`` when no codec for ``media_type`` is
    available — callers choose the deterministic fake path instead."""
    if media_type.startswith("image/") and HAS_PIL:
        import io

        from PIL import Image

        with Image.open(io.BytesIO(payload)) as im:
            return im.width, im.height
    raise NotImplementedError(
        f"no codec for {media_type!r} in this environment "
        "(image needs Pillow; audio needs libsndfile) — "
        "use the deterministic fake path"
    )


def extract_features(media_df: DataFrame, decoder: str = "fake") -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Checksum is a real computation over the bytes (sum of byte values —
    SQL-expressible so the oracle can verify the payload actually
    crossed the Arrow boundary intact).  ``decoder="fake"`` (default,
    the driver-verified path) derives width/height deterministically
    from the payload size; ``decoder="real"`` parses the actual
    container header via :func:`real_decode` — available only where a
    codec is installed (``HAS_PIL``), exercised by a skip-gated test
    exactly like the protobuf-gated state API v2.
    """
    if decoder not in ("fake", "real"):
        raise ValueError(f"decoder must be 'fake' or 'real', got {decoder!r}")
    if decoder == "real" and not HAS_PIL:
        raise NotImplementedError(
            "decoder='real' needs Pillow, absent in this environment"
        )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def try_decode(payload, media_type):
            # Per-row fallback: a corpus mixes modalities row by row, so
            # a codec-less media_type (audio here) or a corrupt payload
            # must yield NULL dims for THAT row, never abort the stage.
            if payload is None:
                return (None, None)
            try:
                return real_decode(bytes(payload), media_type)
            except NotImplementedError:
                return (None, None)  # no codec for this modality
            except Exception:
                return (None, None)  # undecodable payload

        for pdf in batches:
            if decoder == "real":
                dims = [
                    try_decode(b, mt)
                    for b, mt in zip(pdf["media"], pdf["media_type"])
                ]
                width = pd.array([w for w, _ in dims], dtype="Int32")
                height = pd.array([h for _, h in dims], dtype="Int32")
            else:
                width, height = _fake_decode_dims(pdf["byte_len"])
            # vectorized per payload: a megabyte media blob must not go
            # through a per-byte Python loop; NULL payload -> NULL
            # checksum (not a stage-killing TypeError)
            checksum = pdf["media"].map(
                lambda b: None if b is None else int(np.frombuffer(b, dtype=np.uint8).sum())
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "byte_len": pdf["byte_len"],
                    "width": width,
                    "height": height,
                    "checksum": checksum,
                }
            )

    return media_df.mapInPandas(op, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = (
    "doc_id long, frame_idx int, ts_ms long, frame binary, frame_len long"
)


def frame_sample(media_df: DataFrame, every_ms: int = 40) -> DataFrame:
    """Video frame sampling as a fan-out ``mapInPandas`` stage: one input
    payload → N output rows, each carrying a frame payload slice plus
    (frame_idx, ts_ms) metadata.

    FAKE codec: frame count is ``1 + byte_len % 8`` and each frame is a
    16-byte slice of the container at ``frame_idx * 16`` (wrapping) —
    deterministic so the metadata columns are oracle-checkable.  A real
    implementation replaces only the two marked lines with a demuxer
    (e.g. PyAV) keyframe walk; the fan-out shape, Arrow batching, and
    schema are exactly what production frame extraction uses.

    Scale: map-only (no shuffle); output row count is bounded by
    frames-per-doc × docs-per-partition, so partition sizing follows the
    *output* payload volume, not the input's.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "frame_idx": [], "ts_ms": [], "frame": [], "frame_len": []
            }
            for doc_id, media, byte_len in zip(pdf["doc_id"], pdf["media"], pdf["byte_len"]):
                n_frames = 1 + int(byte_len) % 8  # FAKE: header would say
                for i in range(n_frames):
                    start = (i * 16) % max(int(byte_len), 1)
                    frame = bytes(media)[start : start + 16]  # FAKE: demux
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(i)
                    rows["ts_ms"].append(i * every_ms)
                    rows["frame"].append(frame)
                    rows["frame_len"].append(len(frame))
            yield pd.DataFrame(rows)

    return media_df.mapInPandas(op, schema=FRAME_SCHEMA)
