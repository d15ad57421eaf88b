"""Multimodal (image/video) column processing for training-data
pipelines.

Modality payloads are opaque ``binary`` columns. The codecs here are
REAL, dependency-free decoders for the two formats the planted fixtures
use — 24-bit uncompressed BMP (image) and Y4M/YUV4MPEG2 Cmono (video) —
implemented with struct/numpy only (no Pillow/ffmpeg dependency).
Compressed formats need an external decoder in the same
``mapInPandas`` plumbing.

Scale notes: each operator is one ``mapInPandas`` pass over its
input's partitions (one Python worker pass, no per-row round trips)
and nothing repartitions. Its Arrow batches hold
``spark.sql.execution.arrow.maxRecordsPerBatch`` rows (10,000 in
``session.get_spark``), so a batch's memory is that row count times
the payload size: 10 MB at 1 KB per payload, 10 GB at 1 MB.

Reference capability donor: binary block-structured scan + typed decode
(/root/reference/src/rad_ecg/scripts/lib_ebm/pyebmreader.py:68-181) and
per-channel block stitching (porcine/pig_extract.py:1390-1423).
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# --- real, dependency-free codecs ---------------------------------------

def bmp_encode(px: np.ndarray) -> bytes:
    """uint8 (h, w, 3) RGB -> 24-bit uncompressed BMP bytes."""
    h, w, _ = px.shape
    row_len = (w * 3 + 3) & ~3  # rows padded to 4 bytes
    img_size = row_len * h
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    rows = np.zeros((h, row_len), dtype=np.uint8)
    # BMP stores BGR, bottom-up
    rows[:, : w * 3] = px[::-1, :, ::-1].reshape(h, w * 3)
    return header + info + rows.tobytes()


def bmp_decode(b: bytes) -> np.ndarray:
    """24-bit uncompressed BMP bytes -> uint8 (h, w, 3) RGB."""
    if b[:2] != b"BM":
        raise ValueError("not a BMP payload")
    offset = struct.unpack_from("<I", b, 10)[0]
    w, h = struct.unpack_from("<ii", b, 18)
    bpp = struct.unpack_from("<H", b, 28)[0]
    comp = struct.unpack_from("<I", b, 30)[0]
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP variant (bpp={bpp}, comp={comp})")
    row_len = (w * 3 + 3) & ~3
    rows = np.frombuffer(b, dtype=np.uint8, count=row_len * h, offset=offset)
    rows = rows.reshape(h, row_len)[:, : w * 3].reshape(h, w, 3)
    return rows[::-1, :, ::-1]  # bottom-up BGR -> top-down RGB


# --- deterministic synthetic corpus --------------------------------------

def synth_event_bmp(
    events: DataFrame, n_ids: int = 48, h: int = 8, w: int = 16
) -> DataFrame:
    """Deterministic planted BMP fixture keyed off the events table:
    pixel (r, c) of image ``mid`` is a closed-form integer function of
    (mid, r, c), so a SQL oracle can reproduce the decoded pixels
    without parsing BMP — while the Spark path round-trips through the
    REAL encoder/decoder (oracle-checkable codec exercise)."""
    ids = (
        events.filter(F.col("event_id") < n_ids)
        .select(F.col("event_id").alias("media_id"))
        .distinct()
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        r = np.arange(h, dtype=np.int64)[:, None]
        c = np.arange(w, dtype=np.int64)[None, :]
        for b in batches:
            rows = []
            for mid in b["media_id"].tolist():
                px = np.stack(
                    [
                        (mid * 7 + r * 13 + c * 31) % 256,
                        (mid * 11 + r * 17 + c * 3) % 256,
                        (mid * 5 + r * 29 + c * 23) % 256,
                    ],
                    axis=2,
                ).astype(np.uint8)
                rows.append((mid, bmp_encode(px)))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    return ids.mapInPandas(gen, "media_id long, payload binary")


def image_luma_profile(media: DataFrame, n_strips: int = 8) -> DataFrame:
    """payload -> per-vertical-strip EXACT integer luma sum (BT.601
    coefficients scaled x1000: 299 R + 587 G + 114 B per pixel). The
    integer output makes the real decode path hash-comparable against a
    SQL oracle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = {"media_id": [], "strip": [], "luma_sum_e3": []}
            for mid, p in zip(b["media_id"], b["payload"]):
                px = bmp_decode(bytes(p)).astype(np.int64)
                lum = 299 * px[:, :, 0] + 587 * px[:, :, 1] + 114 * px[:, :, 2]
                for si, s in enumerate(np.array_split(lum, n_strips, axis=1)):
                    out["media_id"].append(mid)
                    out["strip"].append(si)
                    out["luma_sum_e3"].append(int(s.sum()))
            yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(
        run, "media_id long, strip int, luma_sum_e3 long"
    )


# --- Y4M (YUV4MPEG2) video codec -----------------------------------------
# Public format (mjpegtools YUV4MPEG2 spec): ASCII stream header
# "YUV4MPEG2 W<w> H<h> F<num>:<den> ... C<cs>\n", then per frame a
# "FRAME...\n" marker followed by the raw plane bytes. Cmono = one
# 8-bit luma plane per frame — a real, dependency-free video container
# (struct/numpy only); compressed formats (H.264 etc.) need ffmpeg.

def y4m_encode(frames: np.ndarray) -> bytes:
    """frames: (n_frames, h, w) uint8 luma planes -> Y4M Cmono bytes at
    25 fps (``F25:1``)."""
    if frames.ndim != 3:
        raise ValueError(f"frames must be (n, h, w), got {frames.shape}")
    n, h, w = frames.shape
    out = bytearray(
        f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 Cmono\n".encode("ascii")
    )
    for f in np.ascontiguousarray(frames, dtype=np.uint8):
        out += b"FRAME\n"
        out += f.tobytes()
    return bytes(out)


def y4m_decode(payload: bytes) -> tuple[int, int, tuple[int, int], np.ndarray]:
    """Y4M Cmono bytes -> (w, h, (fps_num, fps_den), frames (n, h, w))."""
    nl = payload.find(b"\n")
    if nl < 0 or not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream")
    w = h = None
    num, den = 25, 1
    cs = "420"  # spec default when no C tag present
    for tok in payload[9:nl].split():
        tag, val = tok[:1], tok[1:].decode("ascii", "replace")
        if tag == b"W":
            w = int(val)
        elif tag == b"H":
            h = int(val)
        elif tag == b"F":
            num, den = (int(x) for x in val.split(":"))
        elif tag == b"C":
            cs = val
    if w is None or h is None:
        raise ValueError("Y4M header missing W/H")
    if cs != "mono":
        raise ValueError(f"unsupported Y4M colourspace C{cs} (mono only)")
    fsize = w * h
    frames = []
    pos = nl + 1
    while pos < len(payload):
        fnl = payload.find(b"\n", pos)
        if fnl < 0 or not payload[pos:fnl].startswith(b"FRAME"):
            raise ValueError(f"bad FRAME marker at byte {pos}")
        start = fnl + 1
        if start + fsize > len(payload):
            raise ValueError("truncated frame payload")
        frames.append(
            np.frombuffer(payload, dtype=np.uint8, count=fsize, offset=start)
            .reshape(h, w)
        )
        pos = start + fsize
    return w, h, (num, den), np.stack(frames) if frames else np.empty((0, h, w), np.uint8)


def synth_event_y4m(
    events: DataFrame, n_ids: int = 24, n_frames: int = 12, h: int = 6, w: int = 8
) -> DataFrame:
    """Deterministic planted Y4M fixture keyed off the events table:
    luma of pixel (f, r, c) in video ``mid`` is a closed-form integer
    function of (mid, f, r, c), so a SQL oracle reproduces the decoded
    planes without parsing Y4M — while the Spark path round-trips
    through the REAL encoder/decoder (same design as synth_event_bmp)."""
    ids = (
        events.filter(F.col("event_id") < n_ids)
        .select(F.col("event_id").alias("media_id"))
        .distinct()
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        f = np.arange(n_frames, dtype=np.int64)[:, None, None]
        r = np.arange(h, dtype=np.int64)[None, :, None]
        c = np.arange(w, dtype=np.int64)[None, None, :]
        for b in batches:
            rows = []
            for mid in b["media_id"].tolist():
                luma = ((mid * 7 + f * 41 + r * 13 + c * 31) % 256).astype(np.uint8)
                rows.append((mid, y4m_encode(luma)))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    return ids.mapInPandas(gen, "media_id long, payload binary")


def video_frame_luma(media: DataFrame, every_n: int = 5) -> DataFrame:
    """payload -> per-SAMPLED-frame exact integer luma sum: the real
    frame-sampling decode (frames 0, every_n, 2*every_n, ... of each
    clip), the per-clip work a training pipeline's frame extractor does.
    Decode runs vectorized inside mapInPandas on Arrow batches of whole
    payloads; output is exact ints for oracle comparison."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = {"media_id": [], "frame_idx": [], "luma_sum": []}
            for mid, p in zip(b["media_id"], b["payload"]):
                _, _, _, frames = y4m_decode(bytes(p))
                for fi in range(0, len(frames), every_n):
                    out["media_id"].append(mid)
                    out["frame_idx"].append(fi)
                    out["luma_sum"].append(int(frames[fi].astype(np.int64).sum()))
            yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(
        run, "media_id long, frame_idx int, luma_sum long"
    )
