"""Deterministic synthetic fixtures (FIXTURES.md): the one definition of the
clips, transcripts, ref_histograms, images and videos tables that the tests,
the correctness contract (``__spark_entry__.py``) and the benchmarks read.

Every column is a pure function of the row position, so each table is built
one row group at a time from an index slice with numpy/pyarrow and streamed
through a ``pq.ParquetWriter``: memory stays at one row group whatever
``n_clips`` is, and Spark and the DuckDB oracles read the same files.

Violation seeds (i = clip index, j = transcript index, k = image/video index):
  clips:        i %  997 == 0  -> duplicated clip_id (uniqueness); the copies
                                  follow all n_clips rows and carry a
                                  conflicting transcript (" (alt)")
                i %  101 == 0  -> bit-corrupted payload (SNR < 30 dB)
                i %   89 == 0  -> sr_hz = 0 (range)
                i %  127 == 0  -> sr_hz NULL (null-rate)
                i %   13 == 0  -> transcript NULL (min-count via T1 column)
                i >= 0.9 * N   -> dur_ms shifted +15000 (drift + range)
  transcripts:  j %   31 == 0  -> dangling clip_id (referential)
                j %   41 == 0  -> mutated text (exact-equality invariant)
                j %   23 == 0  -> n_tokens = -1 (min-value)
  cardinality:  clip i owns i % 4 transcript rows (0 -> min-count violation,
                2,3 -> max-count-1 violation) — tc5 ladder analog.
  images:       k % 127 NULL blob, k % 89 wrong magic, k % 101 truncated
                (imagery.synth_image_bytes); k % 73 -> meta_w lies
  videos:       the same blob seeds (imagery.synth_video_bytes);
                k % 61 -> meta_frames lies
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from shaclapi_spark import audio_codec

SR_CYCLE = [8000, 16000, 22050, 44100, 48000]
CODEC_BY_MOD10 = ["opus"] * 7 + ["flac"] * 2 + ["pcm_s16le"]
LANG_CYCLE = ["en", "de", "es"]

#: image fixture geometry — small enough that the DuckDB oracle's
#: per-pixel hex decode stays cheap (w*h = 384 px/image), large enough
#: that stats are non-trivial
IMG_W, IMG_H = 24, 16
VID_W, VID_H, VID_FRAMES = 16, 12, 6

FIXTURE_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".fixtures")

TABLES = ("clips", "transcripts", "ref_histograms", "images", "videos")

CLIPS_SCHEMA = pa.schema(
    [
        ("clip_id", pa.string()),
        ("bytes", pa.binary()),
        ("sr_hz", pa.int32()),
        ("dur_ms", pa.int32()),
        ("codec", pa.string()),
        ("transcript", pa.string()),
    ]
)

TRANSCRIPTS_SCHEMA = pa.schema(
    [
        ("transcript_id", pa.string()),
        ("clip_id", pa.string()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("n_tokens", pa.int32()),
    ]
)

REF_HISTOGRAMS_SCHEMA = pa.schema(
    [
        ("column_name", pa.string()),
        ("bin_lo", pa.float64()),
        ("bin_hi", pa.float64()),
        ("ref_frac", pa.float64()),
    ]
)

IMAGES_SCHEMA = pa.schema(
    [
        ("img_id", pa.string()),
        ("bytes", pa.binary()),
        ("fmt", pa.string()),
        ("meta_w", pa.int32()),
        ("meta_h", pa.int32()),
    ]
)

VIDEOS_SCHEMA = pa.schema(
    [
        ("vid_id", pa.string()),
        ("bytes", pa.binary()),
        ("meta_frames", pa.int32()),
        ("meta_fps", pa.int32()),
    ]
)


def _digits(idx: np.ndarray, width: int = 0) -> pa.Array:
    """Decimal text of each index, zero-padded to ``width``."""
    return pc.utf8_lpad(pc.cast(pa.array(idx), pa.string()), width=width, padding="0")


def _concat(*parts) -> pa.Array:
    """Element-wise concatenation of string columns and literals."""
    return pc.binary_join_element_wise(*parts, "")


def _clips(lo: int, hi: int, n_clips: int) -> list:
    """T1 clip rows at positions [lo, hi). Positions past ``n_clips`` hold
    the i % 997 duplicates in index order."""
    pos = np.arange(lo, hi, dtype=np.int64)
    dup = pos >= n_clips
    ii = np.where(dup, 997 * (pos - n_clips), pos)
    sr = np.where(ii % 89 == 0, 0, np.asarray(SR_CYCLE)[ii % 5])
    dur = 500 + (ii * 37) % 29500 + np.where(ii >= int(0.9 * n_clips), 15000, 0)
    transcript = _concat(
        "transcript of clip ", _digits(ii), pa.array(np.where(dup, " (alt)", ""))
    )
    # the header sr is always the nominal (valid) rate
    blobs = [
        audio_codec.encode_clip(
            220.0 + (i % 32) * 55.0,
            SR_CYCLE[i % 5],
            256 + (i % 256),
            0.8,
            CODEC_BY_MOD10[i % 10],
            corrupt=(i % 101 == 0),
        )
        for i in ii.tolist()
    ]
    return [
        _concat("clip_", _digits(ii, 8)),
        pa.array(blobs, pa.binary()),
        pa.array(sr, mask=ii % 127 == 0),
        dur,
        pa.array(CODEC_BY_MOD10).take(pa.array(ii % 10)),
        pc.if_else(pa.array(ii % 13 == 0), pa.scalar(None, pa.string()), transcript),
    ]


#: owner clip of transcript row j = 6q + s is 4q + _OWNER[s]: the clips
#: 4q+1, 4q+2, 4q+3 own 1, 2 and 3 consecutive rows (clip i owns i % 4)
_OWNER = np.array([1, 2, 2, 3, 3, 3], dtype=np.int64)


def _n_transcripts(n_clips: int) -> int:
    return 6 * (n_clips // 4) + (0, 0, 1, 3)[n_clips % 4]


def _transcripts(lo: int, hi: int) -> list:
    """T2 transcript rows j in [lo, hi)."""
    jj = np.arange(lo, hi, dtype=np.int64)
    ii = 4 * (jj // 6) + _OWNER[jj % 6]
    clip_id = pc.if_else(
        pa.array(jj % 31 == 0),
        _concat("clip_missing_", _digits(jj)),
        _concat("clip_", _digits(ii, 8)),
    )
    text = pc.if_else(
        pa.array(jj % 41 == 0),
        _concat("MUTATED ", _digits(jj)),
        _concat("transcript of clip ", _digits(ii)),
    )
    # n_tokens counts the materialized text's words (mutated text has 2)
    n_tokens = np.where(
        jj % 23 == 0, -1, pc.count_substring(text, " ").to_numpy() + 1
    )
    return [
        _concat("tr_", _digits(jj, 8)),
        clip_id,
        text,
        pa.array(LANG_CYCLE).take(pa.array(jj % 3)),
        n_tokens,
    ]


def _ref_histograms(n_bins: int = 32) -> list:
    """T3 drift baseline: expected bin fractions of the *unshifted* generator."""
    # dur_ms unshifted: 500 + (i*37) % 29500 — uniform over [500, 30000)
    dur_edges = np.linspace(500.0, 30000.0, n_bins + 1)
    # sr_hz: five discrete rates, 1/5 mass each (nulls/zeros excluded from drift)
    lo, hi = 8000.0, 48000.0
    sr_edges = np.linspace(lo, hi, n_bins + 1)
    sr_frac = np.zeros(n_bins)
    for v in SR_CYCLE:
        sr_frac[min(int((v - lo) / (hi - lo) * n_bins), n_bins - 1)] += 1.0 / len(SR_CYCLE)
    return [
        ["dur_ms"] * n_bins + ["sr_hz"] * n_bins,
        np.concatenate([dur_edges[:-1], sr_edges[:-1]]),
        np.concatenate([dur_edges[1:], sr_edges[1:]]),
        np.concatenate([np.full(n_bins, 1.0 / n_bins), sr_frac]),
    ]


def _images(lo: int, hi: int) -> list:
    """T4 image rows k in [lo, hi): real-container blobs (24-bit BMP / binary
    PPM) plus the dimensions a catalog claims (the blob is authoritative)."""
    from shaclapi_spark.pipeline import imagery

    kk = np.arange(lo, hi, dtype=np.int64)
    return [
        _concat("img_", _digits(kk, 8)),
        pa.array([imagery.synth_image_bytes(k, IMG_W, IMG_H) for k in kk.tolist()], pa.binary()),
        pa.array(["bmp"] * 3 + ["ppm"] * 2).take(pa.array(kk % 5)),
        np.where(kk % 73 == 0, IMG_W - 1, IMG_W),
        np.full(len(kk), IMG_H),
    ]


def _videos(lo: int, hi: int) -> list:
    """T5 video rows k in [lo, hi): SGV1 blobs plus the declared frame
    count and fps."""
    from shaclapi_spark.pipeline import imagery

    kk = np.arange(lo, hi, dtype=np.int64)
    return [
        _concat("vid_", _digits(kk, 8)),
        pa.array(
            [imagery.synth_video_bytes(k, VID_W, VID_H, VID_FRAMES) for k in kk.tolist()],
            pa.binary(),
        ),
        np.where(kk % 61 == 0, VID_FRAMES - 1, VID_FRAMES),
        np.full(len(kk), 25),
    ]


def _write(path: str, schema: pa.Schema, n_rows: int, group: int, rows) -> None:
    """Stream ``rows(lo, hi)`` to one snappy parquet file, one row group of
    ``group`` rows per call."""
    if os.path.isdir(path):
        raise FileExistsError(
            f"{path} is a directory, not a fixture file (a part-file layout "
            f"left by an older generator): remove {os.path.dirname(path)} "
            "and rerun to rebuild the fixture"
        )
    with pq.ParquetWriter(path, schema, compression="snappy") as w:
        for lo in range(0, n_rows, group):
            cols = rows(lo, min(lo + group, n_rows))
            w.write_table(pa.table(dict(zip(schema.names, cols))).cast(schema))


def _mark(path: str, n_clips: int) -> None:
    with open(path, "w") as fh:
        fh.write(str(n_clips))


def fixture_paths(n_clips: int, root: str = FIXTURE_ROOT) -> dict[str, str]:
    d = os.path.join(root, f"n{n_clips}")
    return {
        "clips": os.path.join(d, "clips.parquet"),
        "transcripts": os.path.join(d, "transcripts.parquet"),
        "ref_histograms": os.path.join(d, "ref_histograms.parquet"),
        "images": os.path.join(d, "images.parquet"),
        "videos": os.path.join(d, "videos.parquet"),
        "_marker": os.path.join(d, "_OK"),
        "_marker_av": os.path.join(d, "_OK_AV3"),
    }


def ensure_fixture_pandas(n_clips: int, root: str = FIXTURE_ROOT) -> dict[str, str]:
    """Idempotently write the fixture tables under ``root/n<n_clips>``.
    Returns :func:`fixture_paths`; each marker is written after its tables,
    so an interrupted write is redone on the next call."""
    paths = fixture_paths(n_clips, root)
    os.makedirs(os.path.dirname(paths["clips"]), exist_ok=True)
    if not os.path.exists(paths["_marker"]):
        # bounded row groups: Spark's parquet split granularity is the row
        # group, so a single-group file serializes every downstream
        # mapInPandas decode onto ONE task no matter the cluster size. Real
        # Iceberg tables come as many files/row groups; 5k-row groups give
        # the local fixture the same property (measured: the PCM-fingerprint
        # stage went from 1 task / 20.6 s to parallel across cores).
        # n_clips rows plus one copy of each i % 997 == 0
        _write(
            paths["clips"], CLIPS_SCHEMA, n_clips + (n_clips + 996) // 997, 5000,
            lambda lo, hi: _clips(lo, hi, n_clips),
        )
        _write(
            paths["transcripts"], TRANSCRIPTS_SCHEMA, _n_transcripts(n_clips), 5000,
            _transcripts,
        )
        _write(
            paths["ref_histograms"], REF_HISTOGRAMS_SCHEMA, 64, 64,
            lambda lo, hi: _ref_histograms(),
        )
        _mark(paths["_marker"], n_clips)
    # the image/video tables carry their own marker, so a fixture directory
    # written before they existed gains them without rewriting the audio tables
    if not os.path.exists(paths["_marker_av"]):
        _write(paths["images"], IMAGES_SCHEMA, max(n_clips // 4, 50), 2500, _images)
        _write(paths["videos"], VIDEOS_SCHEMA, max(n_clips // 8, 25), 1250, _videos)
        _mark(paths["_marker_av"], n_clips)
    return paths


def fixture_n_clips(sf_dir: str) -> int:
    """Scale-factor → clip count (sf0.001→2k, sf0.01→20k, sf0.1→200k)."""
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = float(base.replace("sf", ""))
    except ValueError:
        sf = 0.01
    return max(2000, int(round(sf * 2_000_000)))
