"""Image / video multimodal columns — real decoders, JVM-builtin container
metadata, and Arrow-pass pixel/frame statistics.

Round-3 review flagged image/video as the last stubbed multimodal surface
(audio has been first-class since round 2); this module promotes both to the
same standard as the audio stack:

* REAL public container formats for stills — 24-bit uncompressed BMP
  (BITMAPFILEHEADER + BITMAPINFOHEADER, bottom-up BGR rows padded to 4
  bytes) and binary PPM (P6) — decoded with pure numpy, no PIL/opencv.
  The fixture's PPM headers are emitted fixed-width (``P6\\n%5d %5d\\n255\\n``,
  19 bytes) so the DuckDB oracle can parse them with plain substring
  arithmetic; the decoder itself accepts any whitespace-delimited P6.
* an MJPEG-style concatenated-frame container for video — ``SGV1``:
  magic(4) w(u16le) h(u16le) n_frames(u16le) fps(u8) = 11-byte header,
  then n_frames × (w·h) bytes of 8-bit grayscale frames. Same in-house
  deterministic-container discipline as audio's SGA1
  (audio_codec.HEADER); real mp4/webm decode needs ffmpeg and stays
  gated in multimodal.decode_image/sample_video_frames.
* metadata ops (``image_meta`` / ``video_meta``) read the 64-byte header
  prefix through the shared parser in ``pipeline.headers`` (JVM built-ins
  only, staged projections inside whole-stage codegen, no UDF) — the same
  rule the image/video validation suites derive their columns from.
* pixel ops (``image_pixel_stats`` / ``image_resize_stats`` /
  ``video_frame_stats``) are one shuffle-free Arrow ``mapInPandas`` pass
  each, emitting INTEGER-EXACT statistics (sums / mins / maxes of uint8
  values) so the whole relation value-hashes against a DuckDB oracle that
  re-decodes the same bytes via hex substring arithmetic — the identical
  correctness device as the audio sample-quality oracle.

Reference parity: no reference counterpart (SDM-TIB/shaclAPI is an RDF
validation engine); this is engine-original per the builder brief's
multimodal-columns mandate. Blob payloads never cross a shuffle: every op
projects (id, bytes) into the Arrow stage and only fixed-width integers
come out.

100-TB design: stats per image/frame are O(pixels) numpy inside the Arrow
batch; output rows are tiny and map-combinable downstream. Fleet-scale
decode parallelism comes from parquet row-group splits (fixture_io writes
images in 2 500-row and videos in 1 250-row groups for exactly this reason).
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from shaclapi_spark.pipeline import headers
from shaclapi_spark.pipeline.dedup import drop_hot_groups
from shaclapi_spark.pipeline.headers import (
    BMP_HEADER_BYTES,
    PPM_HEADER_BYTES,
    VIDEO_HEADER,
    VIDEO_HEADER_BYTES,
    VIDEO_MAGIC,
)

# ---------------------------------------------------------------------------
# deterministic synthesis (fixture side — pure numpy, no Spark)
# ---------------------------------------------------------------------------

#: image channel pattern: channel c value at (x, y) =
#: (A(c)·x + B(c)·y + P(c)) mod 256 — linear gradients with per-image,
#: per-channel coefficients derived from the image index. Closed-form AND
#: byte-exact: the oracle can either re-derive values from the index or
#: (as our contract oracles do) re-read them from the encoded bytes.
def _pattern_coeffs(idx: int) -> list:
    """[(a, b, p)] for channels R, G, B."""
    return [
        (1 + (idx + 3 * c) % 7, 1 + (2 * idx + c) % 5, (31 * idx + 17 * c) % 256)
        for c in range(3)
    ]


def synth_pixels(idx: int, w: int, h: int) -> np.ndarray:
    """(h, w, 3) uint8 RGB pattern for image ``idx``."""
    y, x = np.mgrid[0:h, 0:w]
    chans = [
        ((a * x + b * y + p) % 256).astype(np.uint8)
        for a, b, p in _pattern_coeffs(idx)
    ]
    return np.stack(chans, axis=-1)


def bmp_row_bytes(w: int) -> int:
    """BGR row stride padded to a 4-byte boundary (the BMP spec rule)."""
    return (3 * w + 3) & ~3


def encode_bmp(pix: np.ndarray) -> bytes:
    """24-bit uncompressed BMP from an (h, w, 3) RGB uint8 array —
    bottom-up rows, BGR byte order, rows padded to 4 bytes."""
    h, w, _ = pix.shape
    stride = bmp_row_bytes(w)
    img_size = stride * h
    file_size = BMP_HEADER_BYTES + img_size
    hdr = struct.pack(
        "<2sIHHI", b"BM", file_size, 0, 0, BMP_HEADER_BYTES
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    rows = bytearray()
    pad = b"\x00" * (stride - 3 * w)
    for y in range(h - 1, -1, -1):  # bottom-up
        rows += pix[y, :, ::-1].tobytes() + pad  # RGB -> BGR
    return hdr + bytes(rows)


def encode_ppm(pix: np.ndarray) -> bytes:
    """Binary PPM (P6) from an (h, w, 3) RGB uint8 array. Header is
    emitted FIXED-WIDTH (19 bytes) so engines without a PPM parser can
    read w/h with substring arithmetic; any conforming P6 reader accepts
    it (leading spaces in the decimal fields are ordinary whitespace)."""
    h, w, _ = pix.shape
    return f"P6\n{w:5d} {h:5d}\n255\n".encode("ascii") + pix.tobytes()


def synth_image_bytes(idx: int, w: int, h: int) -> bytes | None:
    """Deterministic image blob for fixture row ``idx`` — BMP for
    idx % 5 in {0,1,2}, PPM for {3,4}, with the same corruption seeds as
    the audio fixture family: NULL (idx%127==0), wrong magic (idx%89==0),
    truncated payload (idx%101==0)."""
    if idx % 127 == 0:
        return None
    pix = synth_pixels(idx, w, h)
    blob = encode_bmp(pix) if idx % 5 < 3 else encode_ppm(pix)
    if idx % 89 == 0:
        blob = b"XX" + blob[2:]
    if idx % 101 == 0:
        blob = blob[: len(blob) * 2 // 3]
    return blob


# --- video: SGV1 concatenated grayscale frames ------------------------------

def _video_coeffs(idx: int) -> tuple:
    """(a, b, c, p): spatial gradient + per-frame temporal motion."""
    return (1 + idx % 7, 1 + (2 * idx) % 5, 1 + (3 * idx) % 11, (29 * idx) % 256)


def synth_frames(idx: int, w: int, h: int, n_frames: int) -> np.ndarray:
    """(n_frames, h, w) uint8 grayscale: value(t, x, y) =
    (a·x + b·y + c·t + p) mod 256 — a drifting gradient, so frame-to-frame
    motion is non-trivial but exactly reproducible."""
    a, b, c, p = _video_coeffs(idx)
    t, y, x = np.mgrid[0:n_frames, 0:h, 0:w]
    return ((a * x + b * y + c * t + p) % 256).astype(np.uint8)


def encode_video(frames: np.ndarray, fps: int = 25) -> bytes:
    """SGV1 blob from an (n, h, w) uint8 array."""
    n, h, w = frames.shape
    return struct.pack(VIDEO_HEADER, VIDEO_MAGIC, w, h, n, fps) + frames.tobytes()


def synth_video_bytes(
    idx: int, w: int, h: int, n_frames: int, fps: int = 25
) -> bytes | None:
    """Deterministic video blob for fixture row ``idx`` — same corruption
    seed family as images (NULL / bad magic / truncated)."""
    if idx % 127 == 0:
        return None
    blob = encode_video(synth_frames(idx, w, h, n_frames), fps)
    if idx % 89 == 0:
        blob = b"XX" + blob[2:]
    if idx % 101 == 0:
        blob = blob[: len(blob) * 2 // 3]
    return blob


# ---------------------------------------------------------------------------
# decoders (numpy only — the real-codec ffmpeg/PIL paths stay gated in
# multimodal.decode_image / sample_video_frames)
# ---------------------------------------------------------------------------

def decode_image(blob: bytes) -> np.ndarray:
    """(h, w, 3) uint8 RGB from a 24-bit uncompressed BMP or binary PPM
    (P6) blob. Raises ValueError on anything else (wrong magic, unsupported
    bpp/compression, truncated payload) — callers treat that as an
    undecodable row, mirroring audio_codec.decode_clip."""
    if blob is None:
        raise ValueError("null blob")
    b = bytes(blob)
    if b[:2] == b"BM":
        if len(b) < BMP_HEADER_BYTES:
            raise ValueError("truncated BMP header")
        data_off = struct.unpack_from("<I", b, 10)[0]
        hdr_size, w, h = struct.unpack_from("<Iii", b, 14)
        planes, bpp = struct.unpack_from("<HH", b, 26)
        compression = struct.unpack_from("<I", b, 30)[0]
        if hdr_size < 40 or planes != 1 or bpp != 24 or compression != 0:
            raise ValueError("unsupported BMP variant")
        if w <= 0 or h == 0:
            raise ValueError("bad BMP dimensions")
        top_down = h < 0
        h = abs(h)
        stride = bmp_row_bytes(w)
        if len(b) < data_off + stride * h:
            raise ValueError("truncated BMP payload")
        rows = np.frombuffer(
            b, dtype=np.uint8, count=stride * h, offset=data_off
        ).reshape(h, stride)[:, : 3 * w].reshape(h, w, 3)
        if not top_down:
            rows = rows[::-1]
        return rows[:, :, ::-1].copy()  # BGR -> RGB
    if b[:2] == b"P6":
        # whitespace-delimited header: P6, width, height, maxval, then one
        # whitespace byte, then w*h*3 binary RGB
        pos, fields = 2, []
        while len(fields) < 3:
            while pos < len(b) and b[pos : pos + 1].isspace():
                pos += 1
            if pos < len(b) and b[pos : pos + 1] == b"#":  # comment line
                while pos < len(b) and b[pos] != 0x0A:
                    pos += 1
                continue
            start = pos
            while pos < len(b) and not b[pos : pos + 1].isspace():
                pos += 1
            if pos == start:
                raise ValueError("truncated PPM header")
            fields.append(int(b[start:pos]))
        pos += 1  # single whitespace after maxval
        w, h, maxval = fields
        if w <= 0 or h <= 0 or maxval != 255:
            raise ValueError("unsupported PPM variant")
        need = w * h * 3
        if len(b) < pos + need:
            raise ValueError("truncated PPM payload")
        return (
            np.frombuffer(b, dtype=np.uint8, count=need, offset=pos)
            .reshape(h, w, 3)
            .copy()
        )
    raise ValueError("unknown image container")


def decode_video(blob: bytes) -> tuple:
    """(header dict, (n, h, w) uint8 frames) from an SGV1 blob; raises
    ValueError on wrong magic / truncation."""
    if blob is None:
        raise ValueError("null blob")
    b = bytes(blob)
    if len(b) < VIDEO_HEADER_BYTES or b[:4] != VIDEO_MAGIC:
        raise ValueError("bad SGV1 magic")
    _, w, h, n, fps = struct.unpack_from(VIDEO_HEADER, b, 0)
    need = VIDEO_HEADER_BYTES + n * h * w
    if len(b) < need:
        raise ValueError("truncated SGV1 payload")
    frames = np.frombuffer(
        b, dtype=np.uint8, count=n * h * w, offset=VIDEO_HEADER_BYTES
    ).reshape(n, h, w)
    return {"w": w, "h": h, "n_frames": n, "fps": fps}, frames


def sample_video_frames(blob: bytes, every_n: int = 30) -> list:
    """Every ``every_n``-th frame of an SGV1 blob as a list of (h, w)
    uint8 arrays — the frame-sampling primitive a vision pipeline feeds
    into per-frame feature extraction."""
    if every_n <= 0:
        raise ValueError("every_n must be positive")
    _, frames = decode_video(blob)
    return [frames[i].copy() for i in range(0, len(frames), every_n)]


# ---------------------------------------------------------------------------
# metadata ops — the shared bounded header parser (pipeline.headers), zero UDF
# ---------------------------------------------------------------------------

def image_meta(
    df: DataFrame,
    id_col: str = "img_id",
    bytes_col: str = "bytes",
    carry_cols: tuple = (),
) -> DataFrame:
    """Per-image container metadata from the 64-byte header prefix, JVM
    built-ins only (``headers.image_stages`` — staged projections inside
    whole-stage codegen): format, declared width / height /
    bits-per-pixel, the payload size the header implies, the actual byte
    length, and a ``status`` verdict mirroring ``decode_image``'s
    rejection order (null -> bad_magic -> truncated -> unsupported ->
    truncated -> ok). PPM parsing assumes the fixture's fixed-width
    19-byte header (module docstring) and classifies any other PPM layout
    'unsupported'; BMP parsing is the real spec.

    Scale shape: one scan, zero shuffle, bytes never leave the scan
    stage (only fixed-width integers are projected out)."""
    m = headers.project(df, headers.image_stages(bytes_col))
    parseable = F.col("__blen") >= F.col("__img_hdr_len")
    return m.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        F.col("__img_status").alias("status"),
        *[
            F.when(parseable, F.col(f"__img_{f}")).alias(out)
            for f, out in (
                ("fmt", "fmt"), ("w", "width"), ("h", "height"),
                ("bpp", "bpp"), ("need", "need_bytes"),
            )
        ],
        F.col("__blen").alias("actual_bytes"),
    )


def video_meta(
    df: DataFrame,
    id_col: str = "vid_id",
    bytes_col: str = "bytes",
    carry_cols: tuple = (),
) -> DataFrame:
    """Per-video SGV1 container metadata (``headers.video_stages``) —
    same discipline and rejection order as ``image_meta``."""
    m = headers.project(df, headers.video_stages(bytes_col))
    parseable = F.col("__vid_status").isin("truncated", "ok")
    return m.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        F.col("__vid_status").alias("status"),
        *[
            F.when(parseable, F.col(c)).alias(out)
            for c, out in (
                ("__sgv1_w", "width"), ("__sgv1_h", "height"),
                ("__sgv1_n", "n_frames"), ("__sgv1_fps", "fps"),
                ("__vid_need", "need_bytes"),
            )
        ],
        F.col("__blen").alias("actual_bytes"),
    )


# ---------------------------------------------------------------------------
# pixel / frame statistics — one Arrow pass each, integer-exact
# ---------------------------------------------------------------------------

IMAGE_STATS_SCHEMA = (
    "img_id string, width int, height int, "
    "sum_r long, sum_g long, sum_b long, "
    "min_px int, max_px int, luma_sum long"
)


def image_pixel_stats(
    df: DataFrame, id_col: str = "img_id", bytes_col: str = "bytes"
) -> DataFrame:
    """Decode every image and emit INTEGER-EXACT per-image pixel
    statistics: per-channel sums, global min/max, and the exact integer
    luminance sum ``299·Σr + 587·Σg + 114·Σb`` (ITU-R BT.601 luma ×1000 —
    kept as the raw weighted sum so no division ever rounds). Undecodable
    rows (NULL / bad magic / truncated / unsupported) are skipped, same
    convention as audio_frame_features.

    Scale shape: one shuffle-free Arrow ``mapInPandas`` pass; all pixel
    math is whole-array numpy; blob bytes never leave the scan stage."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs = [], [], []
            sr, sg, sb, mn, mx, lu = [], [], [], [], [], []
            for iid, blob in zip(pdf[id_col], pdf[bytes_col]):
                if blob is None:
                    continue
                try:
                    pix = decode_image(bytes(blob))
                except ValueError:
                    continue
                p = pix.astype(np.int64)
                csum = p.sum(axis=(0, 1))
                ids.append(str(iid))
                hs.append(pix.shape[0])
                ws.append(pix.shape[1])
                sr.append(int(csum[0]))
                sg.append(int(csum[1]))
                sb.append(int(csum[2]))
                mn.append(int(p.min()))
                mx.append(int(p.max()))
                lu.append(int(299 * csum[0] + 587 * csum[1] + 114 * csum[2]))
            yield pd.DataFrame(
                {
                    "img_id": ids,
                    "width": pd.array(ws, dtype="int32"),
                    "height": pd.array(hs, dtype="int32"),
                    "sum_r": pd.array(sr, dtype="int64"),
                    "sum_g": pd.array(sg, dtype="int64"),
                    "sum_b": pd.array(sb, dtype="int64"),
                    "min_px": pd.array(mn, dtype="int32"),
                    "max_px": pd.array(mx, dtype="int32"),
                    "luma_sum": pd.array(lu, dtype="int64"),
                }
            )

    return df.select(F.col(id_col), F.col(bytes_col)).mapInPandas(
        gen, schema=IMAGE_STATS_SCHEMA
    )


def resize_nearest(pix: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resample with EXACT integer index math: output
    (x', y') reads source (x'·w_in div out_w, y'·h_in div out_h) — the
    deterministic thumbnail rule any engine can replay (no float centers,
    no rounding mode to disagree on)."""
    h, w = pix.shape[0], pix.shape[1]
    xs = (np.arange(out_w) * w) // out_w
    ys = (np.arange(out_h) * h) // out_h
    return pix[np.ix_(ys, xs)]


RESIZE_STATS_SCHEMA = (
    "img_id string, out_w int, out_h int, "
    "sum_r long, sum_g long, sum_b long, checksum long"
)


def image_resize_stats(
    df: DataFrame,
    out_w: int,
    out_h: int,
    id_col: str = "img_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Decode -> nearest-neighbor resize to (out_w, out_h) -> integer-exact
    channel sums plus a position-weighted checksum
    ``Σ (1 + (y·out_w + x)) · luma(x, y)`` with luma = 299r+587g+114b —
    position weighting makes the checksum sensitive to WHERE each pixel
    landed, so a transposed / flipped / off-by-one resample cannot pass.
    The thumbnail's pixel selection rule is exact integer division
    (``resize_nearest``), replayable from the original bytes by any
    engine. Undecodable rows are skipped."""
    if out_w <= 0 or out_h <= 0:
        raise ValueError("output dims must be positive")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pos_w = 1 + np.arange(out_h * out_w, dtype=np.int64).reshape(
            out_h, out_w
        )
        for pdf in batches:
            ids, sr, sg, sb, cks = [], [], [], [], []
            for iid, blob in zip(pdf[id_col], pdf[bytes_col]):
                if blob is None:
                    continue
                try:
                    pix = decode_image(bytes(blob))
                except ValueError:
                    continue
                t = resize_nearest(pix, out_w, out_h).astype(np.int64)
                csum = t.sum(axis=(0, 1))
                luma = 299 * t[:, :, 0] + 587 * t[:, :, 1] + 114 * t[:, :, 2]
                ids.append(str(iid))
                sr.append(int(csum[0]))
                sg.append(int(csum[1]))
                sb.append(int(csum[2]))
                cks.append(int((pos_w * luma).sum()))
            yield pd.DataFrame(
                {
                    "img_id": ids,
                    "out_w": pd.array([out_w] * len(ids), dtype="int32"),
                    "out_h": pd.array([out_h] * len(ids), dtype="int32"),
                    "sum_r": pd.array(sr, dtype="int64"),
                    "sum_g": pd.array(sg, dtype="int64"),
                    "sum_b": pd.array(sb, dtype="int64"),
                    "checksum": pd.array(cks, dtype="int64"),
                }
            )

    return df.select(F.col(id_col), F.col(bytes_col)).mapInPandas(
        gen, schema=RESIZE_STATS_SCHEMA
    )


VIDEO_FRAME_SCHEMA = (
    "vid_id string, frame_idx int, n_px int, "
    "sum_val long, min_val int, max_val int, motion_abs long"
)


def video_frame_stats(
    df: DataFrame,
    id_col: str = "vid_id",
    bytes_col: str = "bytes",
    every_n: int = 2,
) -> DataFrame:
    """Sample every ``every_n``-th frame of each video and emit one row
    per (video, frame): integer-exact value sum / min / max plus
    ``motion_abs`` = Σ |frame − previous SAMPLED frame| (0 for the first
    sampled frame) — the motion-energy signal a video curation pipeline
    thresholds for static-clip and scene-cut detection. Undecodable rows
    are skipped.

    Scale shape: one shuffle-free Arrow pass; the temporal diff happens
    inside the task (frames of one video are adjacent in the blob), so
    no self-join and no state cross partitions."""
    if every_n <= 0:
        raise ValueError("every_n must be positive")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fidx, npx, sv, mnv, mxv, mo = [], [], [], [], [], [], []
            for vid, blob in zip(pdf[id_col], pdf[bytes_col]):
                if blob is None:
                    continue
                try:
                    _, frames = decode_video(bytes(blob))
                except ValueError:
                    continue
                sel = frames[::every_n].astype(np.int64)
                if len(sel) == 0:
                    continue
                diffs = np.abs(np.diff(sel, axis=0)).sum(axis=(1, 2))
                for j in range(len(sel)):
                    ids.append(str(vid))
                    fidx.append(j * every_n)
                    npx.append(sel.shape[1] * sel.shape[2])
                    sv.append(int(sel[j].sum()))
                    mnv.append(int(sel[j].min()))
                    mxv.append(int(sel[j].max()))
                    mo.append(0 if j == 0 else int(diffs[j - 1]))
            yield pd.DataFrame(
                {
                    "vid_id": ids,
                    "frame_idx": pd.array(fidx, dtype="int32"),
                    "n_px": pd.array(npx, dtype="int32"),
                    "sum_val": pd.array(sv, dtype="int64"),
                    "min_val": pd.array(mnv, dtype="int32"),
                    "max_val": pd.array(mxv, dtype="int32"),
                    "motion_abs": pd.array(mo, dtype="int64"),
                }
            )

    return df.select(F.col(id_col), F.col(bytes_col)).mapInPandas(
        gen, schema=VIDEO_FRAME_SCHEMA
    )


# ---------------------------------------------------------------------------
# perceptual image dedup — dHash (difference hash), exact integer discipline
# ---------------------------------------------------------------------------

#: dHash sampling grid: 9 columns x 8 rows of the luma thumbnail; bit
#: j = y*8 + x is set iff luma(x, y) > luma(x+1, y)
DHASH_W, DHASH_H = 9, 8


def _assemble_dhash(t: np.ndarray) -> int:
    """Signed-64-bit assembly of a (DHASH_H, DHASH_W) thumbnail: bit
    j = y·8+x ⇔ t[y, x] > t[y, x+1] (strict); bit 63 contributes -2^63
    so the hash fits BIGINT in Spark and DuckDB alike."""
    val = 0
    for y in range(DHASH_H):
        for x in range(DHASH_W - 1):
            if t[y, x] > t[y, x + 1]:
                val |= 1 << (y * 8 + x)
    return val - (1 << 64) if val >= 1 << 63 else val


def dhash_pixels(pix: np.ndarray) -> int:
    """Signed-64-bit dHash of an (h, w, 3) RGB uint8 array — the numpy
    reference the Arrow op and the SQL oracle must both reproduce.

    Every step is exact integer math, so any engine replays it
    bit-for-bit from the original container bytes:
      1. per-pixel integer luma  l = (299·r + 587·g + 114·b) div 1000
      2. nearest-neighbor resample of the luma plane to 9×8
         (``resize_nearest`` index rule: sx = x·w div 9, sy = y·h div 8)
      3. strict neighbor compare + signed assembly (``_assemble_dhash``)."""
    p = pix.astype(np.int64)
    luma = (299 * p[:, :, 0] + 587 * p[:, :, 1] + 114 * p[:, :, 2]) // 1000
    return _assemble_dhash(resize_nearest(luma, DHASH_W, DHASH_H))


DHASH_SCHEMA = "img_id string, dhash long"


def image_dhash(
    df: DataFrame, id_col: str = "img_id", bytes_col: str = "bytes"
) -> DataFrame:
    """(img_id, dhash): perceptual difference-hash per decodable image —
    one shuffle-free Arrow pass (decode + ``dhash_pixels``); undecodable
    rows are skipped. The hash is gradient-based, so it is invariant to
    uniform brightness shifts and robust to mild re-encoding — the
    image-modality analog of audio's content fingerprint
    (audio_analysis.audio_fingerprint)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hs = [], []
            for iid, blob in zip(pdf[id_col], pdf[bytes_col]):
                if blob is None:
                    continue
                try:
                    pix = decode_image(bytes(blob))
                except ValueError:
                    continue
                ids.append(str(iid))
                hs.append(dhash_pixels(pix))
            yield pd.DataFrame(
                {"img_id": ids, "dhash": pd.array(hs, dtype="int64")}
            )

    return df.select(F.col(id_col), F.col(bytes_col)).mapInPandas(
        gen, schema=DHASH_SCHEMA
    )


def dhash_neardups(
    df: DataFrame,
    id_col: str = "img_id",
    bytes_col: str = "bytes",
    max_hamming: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """Image pairs with hamming(dhash_a, dhash_b) ≤ ``max_hamming`` —
    (a, b, hamming), a < b. Candidates come from the pigeonhole blocking
    trick (split the 64-bit hash into max_hamming+1 chunks; a qualifying
    pair must agree on ≥1 chunk — LOSSLESS recall by construction, same
    device as dedup.simhash_neardups), verified with JVM
    ``bit_count(a XOR b)``, so the output equals brute-force all-pairs
    exactly while the join stays a bounded equi-join — no O(n²) compare.

    ``max_bucket`` is the degenerate-duplication cap (same stop-token
    rationale as audio's fingerprint_matches): a perceptual mega-group —
    a billion near-identical thumbnails — makes EVERY blocking scheme
    quadratic because the true pair relation itself is quadratic; buckets
    whose (chunk, key) holds more than ``max_bucket`` images are dropped
    before the join, so pairs whose agreement lives only in mega-buckets
    are missed. Size it above the largest real duplicate group you must
    resolve; None (default) keeps lossless recall.

    Scale shape: one Arrow decode pass → 8-byte signatures; everything
    after moves 16 bytes/row. The signature relation feeds both join
    sides and is persisted for the duration of the join build; the
    blocking/verify machinery is the shared pigeonhole device
    (dedup.pigeonhole_hamming_pairs)."""
    from shaclapi_spark.pipeline.dedup import pigeonhole_hamming_pairs

    sig = image_dhash(df, id_col, bytes_col).persist()
    try:
        out = pigeonhole_hamming_pairs(
            sig, "img_id", "dhash", max_hamming, bits=64, max_bucket=max_bucket
        ).localCheckpoint(eager=True)
    finally:
        sig.unpersist()
    return out


# ---------------------------------------------------------------------------
# video content fingerprint — per-sampled-frame dHash tokens
# ---------------------------------------------------------------------------

def frame_dhash(frame: np.ndarray) -> int:
    """Signed-64-bit dHash of a single-channel (h, w) uint8 frame — the
    grayscale specialization of ``dhash_pixels`` (the luma step is the
    identity), same exact-integer thumbnail + assembly rules."""
    return _assemble_dhash(
        resize_nearest(frame.astype(np.int64), DHASH_W, DHASH_H)
    )


VIDEO_FP_SCHEMA = "vid_id string, frame_idx int, fhash long"


def video_fingerprint(
    df: DataFrame,
    id_col: str = "vid_id",
    bytes_col: str = "bytes",
    every_n: int = 1,
) -> DataFrame:
    """(vid_id, frame_idx, fhash): perceptual hash of every ``every_n``-th
    frame — the video analog of audio_analysis.audio_fingerprint's
    per-frame token relation. One shuffle-free Arrow pass; undecodable
    rows are skipped."""
    if every_n <= 0:
        raise ValueError("every_n must be positive")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fidx, hs = [], [], []
            for vid, blob in zip(pdf[id_col], pdf[bytes_col]):
                if blob is None:
                    continue
                try:
                    _, frames = decode_video(bytes(blob))
                except ValueError:
                    continue
                for t in range(0, len(frames), every_n):
                    ids.append(str(vid))
                    fidx.append(t)
                    hs.append(frame_dhash(frames[t]))
            yield pd.DataFrame(
                {
                    "vid_id": ids,
                    "frame_idx": pd.array(fidx, dtype="int32"),
                    "fhash": pd.array(hs, dtype="int64"),
                }
            )

    return df.select(F.col(id_col), F.col(bytes_col)).mapInPandas(
        gen, schema=VIDEO_FP_SCHEMA
    )


def video_content_matches(
    df: DataFrame,
    id_col: str = "vid_id",
    bytes_col: str = "bytes",
    min_shared: int = 2,
    every_n: int = 1,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate video pairs (a, b, n_shared): videos sharing at
    least ``min_shared`` DISTINCT frame-hash values, position-independent
    — a re-cut / trimmed copy still matches on its overlapping frames
    (the audio fingerprint_matches shape, frame-dHash tokens instead of
    PCM window digests). ``max_bucket`` drops frame-hash buckets larger
    than the cap before the join — the degenerate-duplication stop-token
    device; None keeps exact recall.

    Scale shape: Arrow decode once → (vid, 8-byte hash) tokens; one
    distinct projection, one token equi-join, one map-combinable pair
    count — fan-out tracks true duplication, never corpus size."""
    base = (
        video_fingerprint(df, id_col, bytes_col, every_n)
        .select("vid_id", "fhash")
        .distinct()
        .persist()
    )
    t = base
    if max_bucket is not None:
        t = drop_hot_groups(base, ["fhash"], max_bucket).persist()
    try:
        a = t.select(F.col("vid_id").alias("a"), "fhash")
        b = t.select(F.col("vid_id").alias("b"), "fhash")
        out = (
            a.join(b, "fhash")
            .filter(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
            .filter(F.col("n_shared") >= F.lit(int(min_shared)))
            .localCheckpoint(eager=True)
        )
    finally:
        t.unpersist()
        if t is not base:
            base.unpersist()
    return out


THUMB_SCHEMA = "img_id string, out_w int, out_h int, bytes binary"


def thumbnail_bmp(
    df: DataFrame,
    out_w: int,
    out_h: int,
    id_col: str = "img_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Export REAL thumbnail files: decode → ``resize_nearest`` (exact
    integer index rule) → re-encode as 24-bit BMP — the image analog of
    ``audio_transform.transcode_wav``'s export leg. The emitted blobs are
    byte-deterministic, so composing :func:`image_pixel_stats` over them
    closes the loop (decode → resize → encode → decode → stats) against
    an oracle that predicts every value from the ORIGINAL bytes.

    One mapInPandas pass, no shuffle; undecodable rows are skipped."""
    if out_w <= 0 or out_h <= 0:
        raise ValueError("output dims must be positive")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for iid, blob in zip(pdf[id_col], pdf[bytes_col]):
                if blob is None:
                    continue
                try:
                    pix = decode_image(bytes(blob))
                except ValueError:
                    continue
                ids.append(str(iid))
                blobs.append(encode_bmp(resize_nearest(pix, out_w, out_h)))
            yield pd.DataFrame(
                {
                    "img_id": ids,
                    "out_w": pd.array([out_w] * len(ids), dtype="int32"),
                    "out_h": pd.array([out_h] * len(ids), dtype="int32"),
                    "bytes": blobs,
                }
            )

    return df.select(F.col(id_col), F.col(bytes_col)).mapInPandas(
        gen, schema=THUMB_SCHEMA
    )


VIDEO_EXCERPT_SCHEMA = "vid_id string, every_n int, n_frames int, bytes binary"


def video_excerpt(
    df: DataFrame,
    every_n: int,
    id_col: str = "vid_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Export temporally-downsampled video files: keep every ``every_n``-th
    frame and re-encode as a new SGV1 blob (fps scaled down by the same
    factor, floored at 1) — the video export leg beside
    ``audio_transform.transcode_wav`` and ``thumbnail_bmp``. The emitted
    blobs are byte-deterministic, so composing :func:`video_frame_stats`
    over them closes the loop against an oracle that predicts every value
    from the ORIGINAL bytes (excerpt frame t' carries original frame
    every_n·t').

    One mapInPandas pass, no shuffle; undecodable rows are skipped."""
    if every_n <= 0:
        raise ValueError("every_n must be positive")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nf, blobs = [], [], []
            for vid, blob in zip(pdf[id_col], pdf[bytes_col]):
                if blob is None:
                    continue
                try:
                    hdr, frames = decode_video(bytes(blob))
                except ValueError:
                    continue
                sel = frames[::every_n]
                ids.append(str(vid))
                nf.append(len(sel))
                blobs.append(
                    encode_video(sel, max(1, hdr["fps"] // every_n))
                )
            yield pd.DataFrame(
                {
                    "vid_id": ids,
                    "every_n": pd.array([every_n] * len(ids), dtype="int32"),
                    "n_frames": pd.array(nf, dtype="int32"),
                    "bytes": blobs,
                }
            )

    return df.select(F.col(id_col), F.col(bytes_col)).mapInPandas(
        gen, schema=VIDEO_EXCERPT_SCHEMA
    )
