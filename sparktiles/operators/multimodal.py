"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque `binary` columns with a typed metadata
struct; the Spark-side plumbing — schema, partition-size control,
Arrow batch shape, UDF signatures — is real and tested. Codec work
comes in two tiers:

* the toy SPTX/SPTV raster formats (documented at the codec section
  below) decode, resize and frame-sample FOR REAL — header parsing,
  bounds checks, frombuffer reshape, nearest-neighbor resampling —
  so the whole binary->decode->feature/thumbnail/frame pipeline is
  byte-exact and oracle-checkable with no external libraries;
* real-world formats (JPEG/PNG/MP4) require PIL/opencv/ffmpeg, which
  are not in this container: those paths raise NotImplementedError
  unless `deterministic_fake=True` substitutes a seeded arithmetic
  stand-in.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, kind string, mime string, width int, height int, "
    "duration_ms int, payload binary"
)


def attach_media(df: DataFrame, payload_col: str, kind: str, mime: str,
                 id_col: str | None = None) -> DataFrame:
    """Wrap an existing binary column into the canonical media shape.
    Pass `id_col` for a stable, data-derived media_id (reproducible
    across runs/partitionings); default is a per-run synthetic id."""
    return df.select(
        (F.col(id_col).cast("long") if id_col
         else F.monotonically_increasing_id()).alias("media_id"),
        F.lit(kind).alias("kind"),
        F.lit(mime).alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
        F.col(payload_col).alias("payload"),
        *[c for c in df.columns if c != payload_col],
    )


def _decode_image(payload: bytes, deterministic_fake: bool):
    if payload[:4] == SPTX_MAGIC:
        # real parse of the toy raster format (see SPTX codec below):
        # header-validated reshape + channel-mean grayscale, float64
        # so downstream integer-quantized stats stay exact
        return decode_sptx(payload).mean(axis=2).astype(np.float64) / 255.0
    if not deterministic_fake:
        raise NotImplementedError(
            "image decode requires PIL/opencv for real formats (not in "
            "this container); SPTX payloads decode for real, or pass "
            "deterministic_fake=True for the seeded stand-in")
    # seeded fake: 8x8 grayscale derived from payload bytes
    arr = np.frombuffer(payload[:64].ljust(64, b"\0"), dtype=np.uint8)
    return arr.reshape(8, 8).astype(np.float32) / 255.0


def image_features(media: DataFrame, deterministic_fake: bool = False) -> DataFrame:
    """Decode + feature-extract per image: mean/std intensity + an 8-dim
    row-mean embedding. Arrow-batched mapInPandas; the batch shape
    (many rows per python call, numpy inside) is the production path —
    only the decoder body is stubbed."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, means, stds, embs = [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                img = _decode_image(bytes(payload), deterministic_fake)
                ids.append(mid)
                means.append(float(img.mean()))
                stds.append(float(img.std()))
                embs.append(img.mean(axis=1).tolist())
            yield pd.DataFrame({
                "media_id": ids, "mean_intensity": means,
                "std_intensity": stds, "embedding": embs,
            })

    return media.where(F.col("kind") == "image").mapInPandas(
        run, "media_id long, mean_intensity double, std_intensity double, "
             "embedding array<double>")


def resize_images(media: DataFrame, width: int, height: int,
                  deterministic_fake: bool = False) -> DataFrame:
    """Thumbnail pass, binary in -> binary out. SPTX payloads resize
    for real (nearest-neighbor index resampling per channel,
    re-encoded SPTX); other formats fall back to the fake-decode tile
    path. Either way the Spark shape is the production one: Arrow
    batches of blobs through mapInPandas, schema preserved."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_payloads = []
            for payload in pdf["payload"]:
                payload = bytes(payload)
                if payload[:4] == SPTX_MAGIC:
                    img = decode_sptx(payload)  # (h, w, c) uint8
                    h0, w0 = img.shape[:2]
                    ri = (np.arange(height) * h0) // height
                    ci = (np.arange(width) * w0) // width
                    out_payloads.append(bytearray(
                        encode_sptx(img[ri][:, ci])))
                    continue
                img = _decode_image(payload, deterministic_fake)
                reps = (height // 8 + 1, width // 8 + 1)
                resized = np.tile(img, reps)[:height, :width]
                out_payloads.append(bytearray((resized * 255).astype(np.uint8).tobytes()))
            out = pdf.copy()
            out["payload"] = out_payloads
            out["width"] = width
            out["height"] = height
            yield out

    return media.where(F.col("kind") == "image").mapInPandas(run, MEDIA_SCHEMA)


def sample_frames(media: DataFrame, every_ms: int = 1000,
                  deterministic_fake: bool = False) -> DataFrame:
    """Video frame sampling stub: one output row per sampled frame
    (media_id, frame_idx, ts_ms, frame_payload); the explode shape of
    real frame extraction."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload, dur in zip(
                pdf["media_id"], pdf["payload"], pdf["duration_ms"]
            ):
                payload = bytes(payload)
                if payload[:4] == SPTV_MAGIC:
                    # real container parse: every every_ms-th frame,
                    # re-encoded standalone SPTX
                    frames, frame_ms = decode_sptv(payload)
                    step = max(1, every_ms // max(1, frame_ms))
                    for i, fi in enumerate(range(0, len(frames), step)):
                        rows.append((int(mid), i, fi * frame_ms,
                                     bytearray(encode_sptx(frames[fi]))))
                    continue
                if not deterministic_fake:
                    raise NotImplementedError(
                        "video decode requires ffmpeg for real formats; "
                        "SPTV payloads parse for real")
                dur = int(dur) if dur is not None and not pd.isna(dur) else 3000
                for i, ts in enumerate(range(0, dur, every_ms)):
                    frame = bytes(payload[:32].ljust(32, b"\0")) + ts.to_bytes(4, "little")
                    rows.append((int(mid), i, ts, bytearray(frame)))
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "ts_ms", "frame_payload"])

    return media.where(F.col("kind") == "video").mapInPandas(
        run, "media_id long, frame_idx int, ts_ms int, frame_payload binary")


# ------------------------------------------------------------- SPTX codec

# A real (if minimal) raster format so the decode/resize/frame paths do
# genuine byte parsing instead of the seeded arithmetic stand-in:
#   SPTX: b"SPTX" | width u16le | height u16le | channels u8 | pixels
#         (row-major uint8, h*w*c bytes)
#   SPTV: b"SPTV" | n_frames u16le | frame_ms u16le | n SPTX blocks
# Real JPEG/PNG/MP4 still require PIL/ffmpeg (absent here); SPTX keeps
# every Spark-side and numpy-side step real and byte-exact.
SPTX_MAGIC = b"SPTX"
SPTV_MAGIC = b"SPTV"


def encode_sptx(arr: np.ndarray) -> bytes:
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, c = a.shape
    return (SPTX_MAGIC + int(w).to_bytes(2, "little")
            + int(h).to_bytes(2, "little") + bytes([c]) + a.tobytes())


def decode_sptx(payload: bytes) -> np.ndarray:
    if payload[:4] != SPTX_MAGIC:
        raise ValueError("not an SPTX payload")
    w = int.from_bytes(payload[4:6], "little")
    h = int.from_bytes(payload[6:8], "little")
    c = payload[8]
    need = 9 + h * w * c
    if len(payload) < need:
        raise ValueError(f"truncated SPTX: {len(payload)} < {need}")
    return np.frombuffer(payload[9:need], dtype=np.uint8).reshape(h, w, c)


def encode_sptv(frames: list[np.ndarray], frame_ms: int = 1000) -> bytes:
    body = b"".join(encode_sptx(f) for f in frames)
    return (SPTV_MAGIC + len(frames).to_bytes(2, "little")
            + int(frame_ms).to_bytes(2, "little") + body)


def decode_sptv(payload: bytes) -> tuple[list[np.ndarray], int]:
    if payload[:4] != SPTV_MAGIC:
        raise ValueError("not an SPTV payload")
    n = int.from_bytes(payload[4:6], "little")
    frame_ms = int.from_bytes(payload[6:8], "little")
    frames, off = [], 8
    for _ in range(n):
        w = int.from_bytes(payload[off + 4:off + 6], "little")
        h = int.from_bytes(payload[off + 6:off + 8], "little")
        c = payload[off + 8]
        end = off + 9 + h * w * c
        frames.append(decode_sptx(payload[off:end]))
        off = end
    return frames, frame_ms


def make_sptx_media(df: DataFrame, id_col: str = "doc_id",
                    w: int = 8, h: int = 8) -> DataFrame:
    """Deterministic SPTX image per input row: pixel[i] =
    (id*31 + i*7) % 256 — a closed form any engine can re-derive, so
    stats computed from the DECODED bytes are oracle-checkable."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = np.arange(h * w, dtype=np.int64)
        for pdf in batches:
            payloads = [
                bytearray(encode_sptx(
                    ((int(mid) * 31 + idx * 7) % 256)
                    .astype(np.uint8).reshape(h, w)))
                for mid in pdf[id_col]
            ]
            yield pd.DataFrame({
                "media_id": pdf[id_col].astype("int64"),
                "kind": "image", "mime": "image/x-sptx",
                "width": np.int32(w), "height": np.int32(h),
                "duration_ms": pd.array([None] * len(pdf), dtype="Int32"),
                "payload": payloads,
            })

    return df.select(id_col).mapInPandas(gen, MEDIA_SCHEMA)
