"""Multimodal binary-column plumbing: typed metadata extraction, feature
extraction, decode stubs.

The container has no image/audio/video libraries, so the *decode* steps for
real media formats are stubbed behind import-tries (NotImplementedError with
a clear message), while the Spark-side plumbing — schema, Arrow batch shape,
mapInPandas signatures, partitioning — is real and tested against the SGA1
audio container (shaclapi_spark.audio_codec), which decodes for real.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from shaclapi_spark import audio_codec
from shaclapi_spark.pipeline import headers

AUDIO_META_SCHEMA = StructType(
    [
        StructField("clip_id", StringType()),
        StructField("hdr_codec", StringType()),
        StructField("hdr_sr_hz", IntegerType()),
        StructField("hdr_n_samples", IntegerType()),
        StructField("hdr_freq_hz", DoubleType()),
        StructField("rms", DoubleType()),
        StructField("peak", DoubleType()),
    ]
)


def audio_metadata(df: DataFrame, id_col: str = "clip_id", bytes_col: str = "bytes") -> DataFrame:
    """Decode headers + cheap signal features per clip (Arrow-batched)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in AUDIO_META_SCHEMA.fieldNames()}
            for cid, blob in zip(pdf[id_col], pdf[bytes_col]):
                out["clip_id"].append(cid)
                try:
                    hdr, samples = audio_codec.decode_clip(bytes(blob))
                    s = samples.astype(np.float64)
                    out["hdr_codec"].append(hdr["codec"])
                    out["hdr_sr_hz"].append(int(hdr["sr_hz"]))
                    out["hdr_n_samples"].append(int(hdr["n_samples"]))
                    out["hdr_freq_hz"].append(float(hdr["freq_hz"]))
                    out["rms"].append(float(np.sqrt(np.mean(s * s))))
                    out["peak"].append(float(np.max(np.abs(s))))
                except (ValueError, TypeError):
                    out["hdr_codec"].append(None)
                    out["hdr_sr_hz"].append(None)
                    out["hdr_n_samples"].append(None)
                    out["hdr_freq_hz"].append(None)
                    out["rms"].append(None)
                    out["peak"].append(None)
            yield pd.DataFrame(out)

    return df.select(F.col(id_col), F.col(bytes_col)).mapInPandas(
        gen, schema=AUDIO_META_SCHEMA
    )


def byte_histogram_features(df: DataFrame, id_col: str, bytes_col: str, n_bins: int = 16) -> DataFrame:
    """Deterministic 'feature extraction' for opaque binary payloads: a
    normalized byte-value histogram. Stands in for an embedding model; the
    batch plumbing (binary in → fixed-width float vector out) is exactly what
    a real extractor needs."""
    schema = StructType(
        [
            StructField("id", StringType()),
            StructField("features", ArrayType(DoubleType())),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, feats = [], []
            for cid, blob in zip(pdf[id_col], pdf[bytes_col]):
                ids.append(str(cid))
                if blob is None:
                    feats.append(None)
                    continue
                arr = np.frombuffer(bytes(blob), dtype=np.uint8)
                hist, _ = np.histogram(arr, bins=n_bins, range=(0, 256))
                total = max(1, len(arr))
                feats.append((hist / total).tolist())
            yield pd.DataFrame({"id": ids, "features": feats})

    return df.select(F.col(id_col), F.col(bytes_col)).mapInPandas(gen, schema=schema)


BYTE_HIST_COUNTS_SCHEMA = StructType(
    [
        StructField("clip_id", StringType()),
        StructField("bin", IntegerType()),
        StructField("n_bytes", LongType()),
    ]
)


def byte_histogram_counts(
    df: DataFrame, id_col: str, bytes_col: str, n_bins: int = 16
) -> DataFrame:
    """Exact per-row byte-value histogram counts (long rows: one per (id,
    bin), all bins emitted incl. zeros). Same plumbing as
    :func:`byte_histogram_features` but integer-exact, so a DuckDB oracle can
    recompute it from the blob's hex digits — full value-hash correctness
    check instead of rows-only."""
    assert 256 % n_bins == 0
    shift = 256 // n_bins

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, bins, counts = [], [], []
            for cid, blob in zip(pdf[id_col], pdf[bytes_col]):
                if blob is None:
                    continue
                arr = np.frombuffer(bytes(blob), dtype=np.uint8) // shift
                hist = np.bincount(arr, minlength=n_bins)
                ids.extend([str(cid)] * n_bins)
                bins.extend(range(n_bins))
                counts.extend(int(x) for x in hist)
            yield pd.DataFrame(
                {"clip_id": ids, "bin": pd.array(bins, dtype="int32"),
                 "n_bytes": pd.array(counts, dtype="int64")}
            )

    return df.select(F.col(id_col), F.col(bytes_col)).mapInPandas(
        gen, schema=BYTE_HIST_COUNTS_SCHEMA
    )


AUDIO_FRAME_SCHEMA = StructType(
    [
        StructField("clip_id", StringType()),
        StructField("frame_idx", IntegerType()),
        StructField("n_samples", IntegerType()),
        StructField("sum_abs", LongType()),
        StructField("peak_abs", IntegerType()),
        StructField("sum_sq", LongType()),
        StructField("zero_crossings", IntegerType()),
    ]
)


def audio_frame_features(
    df: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    frame_ms: int = 20,
) -> DataFrame:
    """Frame-sample opaque audio blobs into fixed-length analysis windows
    (the multimodal "frame-sample" op): one output row per
    (clip, frame_idx) with INTEGER-EXACT per-frame features —
    sum_abs / peak_abs / sum_sq of the decoded int16 samples and
    zero_crossings (sign changes between adjacent samples inside the
    frame). Integer outputs make the whole relation reproducible in any
    engine that can parse the container bytes, so correctness is a full
    value-hash oracle rather than a float-tolerance check; dB-scale
    loudness lives on top (``loudness_stats``).

    Frame length = sr_hz * frame_ms // 1000 samples (per-clip, from the
    container header); the last frame may be partial. Frame SELECTION
    (every n-th frame, random-by-hash, etc.) composes downstream as a
    plain filter on frame_idx.

    Scale shape: a pure Arrow-batched map (mapInPandas) — no shuffle; the
    per-clip loop is unavoidable (variable-length blobs) but all frame
    math is vectorized numpy (reduceat over frame starts). Undecodable or
    NULL blobs are skipped."""
    from shaclapi_spark import audio_codec as ac

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            fidx: list = []
            nsamp: list = []
            sabs: list = []
            pabs: list = []
            ssq: list = []
            zcs: list = []
            for cid, blob in zip(pdf[id_col], pdf[bytes_col]):
                if blob is None:
                    continue
                try:
                    hdr, s = ac.decode_clip(bytes(blob))
                except (ValueError, TypeError):
                    continue
                L = hdr["sr_hz"] * frame_ms // 1000
                n = len(s)
                if L <= 0 or n == 0:
                    continue
                s64 = s.astype(np.int64)
                starts = np.arange(0, n, L)
                a = np.abs(s64)
                sum_abs = np.add.reduceat(a, starts)
                peak = np.maximum.reduceat(a, starts)
                sum_sq = np.add.reduceat(s64 * s64, starts)
                # sign changes between adjacent samples; pairs straddling a
                # frame boundary belong to neither frame
                neg = s64 < 0
                z = np.zeros(n, dtype=np.int64)
                z[: n - 1] = (neg[:-1] != neg[1:]).astype(np.int64)
                z[L - 1 :: L] = 0
                zc = np.add.reduceat(z, starts)
                lens = np.diff(np.append(starts, n))
                k = len(starts)
                ids.extend([str(cid)] * k)
                fidx.extend(range(k))
                nsamp.extend(int(x) for x in lens)
                sabs.extend(int(x) for x in sum_abs)
                pabs.extend(int(x) for x in peak)
                ssq.extend(int(x) for x in sum_sq)
                zcs.extend(int(x) for x in zc)
            yield pd.DataFrame(
                {
                    "clip_id": ids,
                    "frame_idx": pd.array(fidx, dtype="int32"),
                    "n_samples": pd.array(nsamp, dtype="int32"),
                    "sum_abs": pd.array(sabs, dtype="int64"),
                    "peak_abs": pd.array(pabs, dtype="int32"),
                    "sum_sq": pd.array(ssq, dtype="int64"),
                    "zero_crossings": pd.array(zcs, dtype="int32"),
                }
            )

    return df.select(F.col(id_col), F.col(bytes_col)).mapInPandas(
        gen, schema=AUDIO_FRAME_SCHEMA
    )


def loudness_counts(
    df: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    frame_ms: int = 20,
    silence_db: float = -40.0,
) -> DataFrame:
    """INTEGER-EXACT per-clip loudness rollup: the cross-engine-reproducible
    core under ``loudness_stats``. Every output column is an integer, so
    the relation value-hashes identically in any engine that can decode
    the container bytes (full DuckDB oracle, no float tolerance).

    The frame silence test is done in integer arithmetic: with r =
    10^(-silence_db/20) (an exact integer for the -40 dB default, r=100),
    ``frame_rms_db < silence_db``  ⇔  ``sum_sq * r^2 < n_samples * 32767^2``
    — both sides exact int64, no log/sqrt. ``sum_sq == 0`` frames satisfy
    it automatically (0 < n·32767²), matching ``loudness_stats``'s explicit
    silent-on-zero rule.

    Scale shape: frames are born co-located per clip (mapInPandas output
    order), so the groupBy's map-side partial aggregate collapses to ~1 row
    per clip before the shuffle — the shuffle moves clip-grain integers,
    never frames."""
    ratio = 10.0 ** (-silence_db / 20.0)
    r2 = int(round(ratio * ratio))
    if abs(ratio * ratio - r2) > 1e-9:
        raise ValueError(
            f"silence_db={silence_db} has no exact integer ratio^2; "
            "use a multiple of 20/log-decade (e.g. -40.0)"
        )
    frames = audio_frame_features(df, id_col, bytes_col, frame_ms)
    # decimal(38,0) arithmetic: sum_sq * r2 overflows int64 already at
    # silence_db=-80 (r2=10^8 x full-scale frames ~ 3.4e19 > 2^63) and a
    # non-ANSI long multiply would WRAP silently; decimal is exact to 1e38
    silent = (
        F.col("sum_sq").cast("decimal(38,0)") * F.lit(r2).cast("decimal(38,0)")
        < F.col("n_samples").cast("decimal(38,0)")
        * F.lit(32767 * 32767).cast("decimal(38,0)")
    ).cast("int")
    return (
        frames.withColumn("__silent", silent)
        .groupBy(F.col("clip_id").alias(id_col))
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_frames"),
            F.sum("n_samples").alias("n_samples"),
            F.sum("sum_abs").alias("sum_abs"),
            F.sum("sum_sq").alias("sum_sq"),
            F.max("peak_abs").alias("peak_abs"),
            F.sum("__silent").cast("int").alias("n_silent"),
            F.sum("zero_crossings").cast("long").alias("zero_crossings"),
        )
    )


def loudness_stats(
    df: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    frame_ms: int = 20,
    silence_db: float = -40.0,
) -> DataFrame:
    """Per-clip loudness rollup on top of the frame relation: overall
    rms_db / peak_dbfs (relative to int16 full scale) plus silence_ratio
    (fraction of frames whose own RMS is below ``silence_db``). The rollup
    is a plain JVM-side groupBy over integer frame features — the Python
    UDF work happened once in ``audio_frame_features``; frames of a clip
    are born co-located, so the map-side partial aggregate collapses to
    one row per clip before the shuffle."""
    frames = audio_frame_features(df, id_col, bytes_col, frame_ms)
    fs = F.lit(32767.0)
    frame_rms_db = 20.0 * F.log10(
        F.sqrt(F.col("sum_sq") / F.col("n_samples")) / fs
    )
    silent = (
        F.when(F.col("sum_sq") == 0, F.lit(True))
        .otherwise(frame_rms_db < F.lit(silence_db))
        .cast("int")
    )
    return (
        frames.withColumn("__silent", silent)
        .groupBy(F.col("clip_id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.sum("n_samples").alias("n_samples"),
            (
                20.0
                * F.log10(F.sqrt(F.sum("sum_sq") / F.sum("n_samples")) / fs)
            ).alias("rms_db"),
            (20.0 * F.log10(F.max("peak_abs") / fs)).alias("peak_dbfs"),
            (F.sum("__silent") / F.count(F.lit(1))).alias("silence_ratio"),
            F.sum("zero_crossings").alias("zero_crossings"),
        )
    )


SAMPLE_QUALITY_SCHEMA = StructType(
    [
        StructField("clip_id", StringType()),
        StructField("n_samples", LongType()),
        StructField("n_clipped", LongType()),
        StructField("max_clip_run", IntegerType()),
        StructField("dc_sum", LongType()),
        StructField("min_s", IntegerType()),
        StructField("max_s", IntegerType()),
    ]
)


def audio_sample_quality(
    df: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    clip_thresh: int = 32767,
) -> DataFrame:
    """Sample-level audio QA per clip, INTEGER-EXACT (full cross-engine
    oracle, like ``audio_frame_features``): clipping detection —
    ``n_clipped`` samples with |s| >= ``clip_thresh`` plus
    ``max_clip_run``, the longest CONSECUTIVE run of such samples (a
    sustained run is flat-topped distortion; isolated peaks are usually
    fine) — DC offset as the exact signed sample sum ``dc_sum`` (a
    recorder bias check: |dc_sum| should be small relative to
    ``n_samples``), and the sample ``min_s``/``max_s`` range.

    These are the classic waveform-validity constraints a speech-corpus
    intake runs next to the SNR check (reference analog: the per-entity
    constraint evaluation of shaclapi/multiprocessing/functions.py:13-16's
    verdict tuples — here the "shape" is sample-level well-formedness).

    Scale shape: one Arrow-batched mapInPandas pass, no shuffle; all
    per-clip math is vectorized numpy (the run-length scan is the
    cumsum-minus-running-reset trick, O(n) branch-free). Undecodable or
    NULL blobs are skipped, mirroring ``audio_frame_features``."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            nsamp: list = []
            nclip: list = []
            mrun: list = []
            dcs: list = []
            mins: list = []
            maxs: list = []
            for cid, blob in zip(pdf[id_col], pdf[bytes_col]):
                if blob is None:
                    continue
                try:
                    _hdr, s = audio_codec.decode_clip(bytes(blob))
                except (ValueError, TypeError):
                    continue
                if len(s) == 0:
                    continue
                s64 = s.astype(np.int64)
                m = (np.abs(s64) >= clip_thresh).astype(np.int64)
                # longest run of 1s: cumsum minus its value at the last 0
                cs = np.cumsum(m)
                run = cs - np.maximum.accumulate(np.where(m == 0, cs, 0))
                ids.append(str(cid))
                nsamp.append(len(s64))
                nclip.append(int(m.sum()))
                mrun.append(int(run.max()))
                dcs.append(int(s64.sum()))
                mins.append(int(s64.min()))
                maxs.append(int(s64.max()))
            yield pd.DataFrame(
                {
                    "clip_id": ids,
                    "n_samples": pd.array(nsamp, dtype="int64"),
                    "n_clipped": pd.array(nclip, dtype="int64"),
                    "max_clip_run": pd.array(mrun, dtype="int32"),
                    "dc_sum": pd.array(dcs, dtype="int64"),
                    "min_s": pd.array(mins, dtype="int32"),
                    "max_s": pd.array(maxs, dtype="int32"),
                }
            )

    return df.select(F.col(id_col), F.col(bytes_col)).mapInPandas(
        gen, schema=SAMPLE_QUALITY_SCHEMA
    )


def speech_segments(
    df: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    frame_ms: int = 20,
    silence_db: float = -40.0,
) -> DataFrame:
    """Energy-based speech/silence segmentation (VAD-style): contiguous
    runs of active / silent frames as (clip_id, seg_idx, is_speech,
    start_frame, end_frame, n_frames, n_samples) — the segmentation a
    speech-corpus pipeline uses to trim leading/trailing silence and split
    long recordings at pauses before transcription alignment.

    A frame is ACTIVE iff its RMS is >= ``silence_db`` dBFS, tested in the
    same exact integer arithmetic as ``loudness_counts``
    (``sum_sq * r^2 >= n_samples * 32767^2``), so the whole relation is
    integer/boolean and value-hashes identically cross-engine (full DuckDB
    oracle over the shared frame-decode SQL).

    Scale shape: frames come from the no-shuffle Arrow decode pass; then
    ONE hash exchange on clip_id serves both window passes (lag-change
    flag + running segment counter share the partitioning and sort) AND
    the per-segment aggregate — groupBy(clip_id, seg_idx) is satisfied by
    HashPartitioning(clip_id), so Catalyst plans exactly one Exchange
    (plan-asserted in tests/test_plans.py)."""
    from pyspark.sql import Window

    ratio = 10.0 ** (-silence_db / 20.0)
    r2 = int(round(ratio * ratio))
    if abs(ratio * ratio - r2) > 1e-9:
        raise ValueError(
            f"silence_db={silence_db} has no exact integer ratio^2; "
            "use a multiple of 20/log-decade (e.g. -40.0)"
        )
    frames = audio_frame_features(df, id_col, bytes_col, frame_ms)
    active = (
        ~(
            F.col("sum_sq").cast("decimal(38,0)")
            * F.lit(r2).cast("decimal(38,0)")
            < F.col("n_samples").cast("decimal(38,0)")
            * F.lit(32767 * 32767).cast("decimal(38,0)")
        )
    ).cast("int")
    w = Window.partitionBy("clip_id").orderBy("frame_idx")
    a = frames.withColumn("__a", active)
    prev = F.lag("__a").over(w)
    brk = (
        F.when(prev.isNull(), F.lit(0))
        .when(prev != F.col("__a"), F.lit(1))
        .otherwise(F.lit(0))
    )
    seg = F.sum(brk).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        a.withColumn("seg_idx", seg.cast("int"))
        .groupBy(F.col("clip_id").alias(id_col), "seg_idx")
        .agg(
            (F.max("__a") == 1).alias("is_speech"),
            F.min("frame_idx").cast("int").alias("start_frame"),
            F.max("frame_idx").cast("int").alias("end_frame"),
            F.count(F.lit(1)).cast("int").alias("n_frames"),
            F.sum("n_samples").alias("n_samples"),
        )
    )


def speech_activity(
    df: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    frame_ms: int = 20,
    silence_db: float = -40.0,
) -> DataFrame:
    """Per-clip rollup of ``speech_segments``: segment counts, speech-frame
    totals, and the longest speech / silence runs (frames) — the intake
    constraint surface for "clip is mostly silence" / "no pause longer
    than X" rules. All integers; full cross-engine oracle.

    Scale shape: inherits the segments plan; the clip-grain regroup is
    satisfied by the same HashPartitioning(clip_id) — still one
    exchange."""
    seg = speech_segments(df, id_col, bytes_col, frame_ms, silence_db)
    sp = F.col("is_speech")
    return seg.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_segments"),
        F.sum(sp.cast("int")).cast("int").alias("n_speech_segments"),
        F.sum(F.when(sp, F.col("n_frames")).otherwise(0))
        .cast("int")
        .alias("speech_frames"),
        F.sum("n_frames").cast("int").alias("total_frames"),
        F.max(F.when(sp, F.col("n_frames")).otherwise(0))
        .cast("int")
        .alias("longest_speech_frames"),
        F.max(F.when(~sp, F.col("n_frames")).otherwise(0))
        .cast("int")
        .alias("longest_silence_frames"),
    )


SPECTRAL_SCHEMA = StructType(
    [
        StructField("clip_id", StringType()),
        StructField("n_samples", IntegerType()),
        StructField("dominant_hz", DoubleType()),
        StructField("centroid_hz", DoubleType()),
        StructField("rolloff85_hz", DoubleType()),
        StructField("flatness", DoubleType()),
    ]
)


def audio_spectral_features(
    df: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Frequency-domain features per clip via one rFFT over the decoded
    samples: ``dominant_hz`` (peak power bin, DC excluded),
    ``centroid_hz`` (power-weighted mean frequency), ``rolloff85_hz``
    (lowest frequency below which 85% of spectral power lies) and
    ``flatness`` (geometric/arithmetic power mean over non-DC bins — near
    1 for noise, near 0 for tonal content). The tonality/band checks a
    speech intake runs on top of the time-domain QA: a clip whose
    dominant frequency sits outside the speech band, or whose flatness
    says "pure tone", is a synthesis artifact or a dead channel.

    No SQL engine has an FFT, so this op is pytest-oracled (pure-numpy
    reference + Parseval identity against the integer-exact ``sum_sq`` of
    ``audio_frame_features``) rather than contract-oracled — same
    disposition as the reference's backend-internal numerics.

    Scale shape: one Arrow-batched mapInPandas pass, no shuffle; the
    per-clip rFFT is O(n log n) vectorized numpy. NULL/undecodable blobs
    are skipped, mirroring the other audio ops."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            nsamp: list = []
            dom: list = []
            cent: list = []
            roll: list = []
            flat: list = []
            for cid, blob in zip(pdf[id_col], pdf[bytes_col]):
                if blob is None:
                    continue
                try:
                    hdr, s = audio_codec.decode_clip(bytes(blob))
                except (ValueError, TypeError):
                    continue
                n = len(s)
                if n < 2:
                    continue
                sr = hdr["sr_hz"]
                x = np.fft.rfft(s.astype(np.float64))
                p = x.real * x.real + x.imag * x.imag
                freqs = np.fft.rfftfreq(n, d=1.0 / sr)
                total = float(p.sum())
                if total <= 0.0:
                    d = c = r = 0.0
                    fl = 1.0
                else:
                    d = float(freqs[1 + int(np.argmax(p[1:]))])
                    c = float((freqs * p).sum() / total)
                    r = float(freqs[int(np.searchsorted(np.cumsum(p), 0.85 * total))])
                    pn = p[1:]
                    fl = float(
                        np.exp(np.mean(np.log(pn + 1e-30))) / (np.mean(pn) + 1e-30)
                    )
                ids.append(str(cid))
                nsamp.append(n)
                dom.append(d)
                cent.append(c)
                roll.append(r)
                flat.append(fl)
            yield pd.DataFrame(
                {
                    "clip_id": ids,
                    "n_samples": pd.array(nsamp, dtype="int32"),
                    "dominant_hz": pd.array(dom, dtype="float64"),
                    "centroid_hz": pd.array(cent, dtype="float64"),
                    "rolloff85_hz": pd.array(roll, dtype="float64"),
                    "flatness": pd.array(flat, dtype="float64"),
                }
            )

    return df.select(F.col(id_col), F.col(bytes_col)).mapInPandas(
        gen, schema=SPECTRAL_SCHEMA
    )


def decode_image(blob: bytes) -> "np.ndarray":
    """(h, w, 3) uint8 RGB decode. Uncompressed 24-bit BMP and binary PPM
    (P6) decode natively (pure numpy — pipeline.imagery.decode_image);
    OTHER container magics fall through to a Pillow path (gated in this
    sandbox — library absent). A blob that IS a BMP/PPM container but a
    variant the native layer rejects does NOT fall through: image_meta and
    the image suite classify it 'unsupported', and a fallback decode here
    would break the meta↔decode agreement the validation layer pins.
    Pillow's own failures are re-raised as ValueError (the module's
    corrupt-input contract), never as PIL exception types."""
    from shaclapi_spark.pipeline import imagery

    try:
        return imagery.decode_image(blob)
    except ValueError:
        b = b"" if blob is None else bytes(blob[:2])
        if b in (b"BM", b"P6"):
            raise  # native container, rejected variant — meta agrees
    try:
        import PIL.Image
    except ImportError as exc:
        raise NotImplementedError(
            "jpeg/png/webp decode requires Pillow/opencv; not available "
            "in this environment (BMP/PPM decode natively via "
            "pipeline.imagery)"
        ) from exc
    import io

    try:
        with PIL.Image.open(io.BytesIO(bytes(blob))) as img:
            return np.asarray(img.convert("RGB"), dtype=np.uint8)
    except Exception as exc:
        raise ValueError(f"undecodable image blob: {exc}") from exc


def sample_video_frames(blob: bytes, every_n: int = 30) -> list:
    """Every n-th frame as (h, w) uint8 arrays. The SGV1 concatenated-
    frame container decodes natively (pipeline.imagery.sample_video_
    frames); real mp4/webm falls through to a pyav path that stays GATED
    in this sandbox (library absent)."""
    from shaclapi_spark.pipeline import imagery

    try:
        return imagery.sample_video_frames(blob, every_n)
    except ValueError:
        b = b"" if blob is None else bytes(blob[:4])
        if b == b"SGV1":
            raise  # native container, rejected variant — video_meta agrees
    try:
        import av
    except ImportError as exc:
        raise NotImplementedError(
            "mp4/webm frame sampling requires pyav/ffmpeg; not available "
            "here (SGV1 decode natively via pipeline.imagery)"
        ) from exc
    import io

    try:
        out = []
        with av.open(io.BytesIO(bytes(blob))) as container:
            for i, frame in enumerate(container.decode(video=0)):
                if i % every_n == 0:
                    out.append(
                        np.asarray(frame.to_ndarray(format="gray"), dtype=np.uint8)
                    )
    except Exception as exc:
        raise ValueError(f"undecodable video blob: {exc}") from exc
    if not out:
        raise ValueError("no video frames decoded")
    return out


def align_tokens(
    clips: DataFrame,
    transcripts: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    tr_id_col: str = "transcript_id",
    n_tokens_col: str = "n_tokens",
    frame_ms: int = 20,
    silence_db: float = -40.0,
) -> DataFrame:
    """Proportional token-time alignment (forced-alignment-lite): give each
    transcript token an estimated (start_ms, end_ms) span inside its clip's
    SPEECH frames — the deterministic seed alignment a speech pipeline uses
    before a real CTC/attention aligner refines it (and the sanity surface
    for "token rate inside speech regions" checks).

    Token j of T owns the speech-frame ordinals [floor(j*S/T),
    floor((j+1)*S/T)) where S is the clip's total speech frames — exact
    integer division, so the relation value-hashes cross-engine. Ordinals
    map back to real frame indices through the speech segments' running
    offsets (silence gaps are skipped, exactly like a real aligner's
    VAD-masked time axis). When S < T the per-token span floors at one
    frame (tokens overlap — documented, deterministic). Transcripts with
    n_tokens <= 0 and clips with zero speech frames emit no rows.

    Output: (clip_id, transcript_id, token_idx, start_ms, end_ms), times in
    ms at frame granularity (frame_ms per frame).

    Scale shape (100 TB): the decode side inherits speech_segments' plan
    (no-shuffle Arrow decode + ONE exchange on clip_id); the speech-segment
    relation is tiny (a handful of rows per clip) and is reused via persist
    for the two ordinal→frame lookups, which are equi-joins on clip_id with
    a range predicate — per-clip segment lists are bounded, so each match
    scans a few rows. The token explode is scan-side on the transcripts
    relation; nothing is collected."""
    from pyspark.sql import Window

    seg = speech_segments(clips, id_col, bytes_col, frame_ms, silence_db)
    w = (
        Window.partitionBy(id_col)
        .orderBy("seg_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    spn = (
        seg.filter(F.col("is_speech"))
        .withColumn(
            "cum_before",
            F.coalesce(F.sum("n_frames").over(w), F.lit(0)).cast("long"),
        )
        .select(id_col, "start_frame", "n_frames", "cum_before")
        .persist()
    )
    tot = spn.groupBy(id_col).agg(F.sum("n_frames").cast("long").alias("__S"))
    tr = transcripts.filter(F.col(n_tokens_col) > 0).select(
        F.col(tr_id_col).alias("transcript_id"),
        F.col(id_col),
        F.col(n_tokens_col).cast("long").alias("__T"),
    )
    toks = (
        tr.join(tot, id_col)
        .select(
            id_col,
            "transcript_id",
            "__S",
            "__T",
            F.explode(F.sequence(F.lit(0), F.col("__T") - 1)).alias("token_idx"),
        )
        .withColumn("__s_lo", F.expr("(token_idx * __S) DIV __T"))
        .withColumn(
            "__s_hi",
            F.greatest(
                F.col("__s_lo"), F.expr("((token_idx + 1) * __S) DIV __T - 1")
            ),
        )
    )
    lo = spn.select(
        F.col(id_col).alias("__ca"),
        F.col("start_frame").alias("__sf_lo"),
        F.col("n_frames").alias("__nf_lo"),
        F.col("cum_before").alias("__cb_lo"),
    )
    hi = spn.select(
        F.col(id_col).alias("__cb"),
        F.col("start_frame").alias("__sf_hi"),
        F.col("n_frames").alias("__nf_hi"),
        F.col("cum_before").alias("__cb_hi"),
    )
    out = (
        toks.join(
            lo,
            (F.col(id_col) == F.col("__ca"))
            & (F.col("__s_lo") >= F.col("__cb_lo"))
            & (F.col("__s_lo") < F.col("__cb_lo") + F.col("__nf_lo")),
        )
        .join(
            hi,
            (F.col(id_col) == F.col("__cb"))
            & (F.col("__s_hi") >= F.col("__cb_hi"))
            & (F.col("__s_hi") < F.col("__cb_hi") + F.col("__nf_hi")),
        )
        .select(
            id_col,
            "transcript_id",
            F.col("token_idx").cast("long").alias("token_idx"),
            (
                (F.col("__sf_lo") + F.col("__s_lo") - F.col("__cb_lo"))
                * F.lit(int(frame_ms))
            )
            .cast("long")
            .alias("start_ms"),
            (
                (F.col("__sf_hi") + F.col("__s_hi") - F.col("__cb_hi") + 1)
                * F.lit(int(frame_ms))
            )
            .cast("long")
            .alias("end_ms"),
        )
    )
    return out


def container_kind(
    df: DataFrame, id_col: str, bytes_col: str = "bytes"
) -> DataFrame:
    """(id, kind, n_bytes): classify an opaque binary column by container
    magic — the ingestion ROUTER for a heterogeneous lake where one
    ``bytes`` column carries mixed media (audio next to stills next to
    video). Kinds: ``sga1`` | ``wav`` | ``bmp`` | ``ppm`` | ``sgv1`` |
    ``unknown`` | ``null``. Downstream per-modality operators compose as
    plain filters on ``kind`` (each already skips foreign blobs, but
    routing first scans each blob's header once instead of once per
    modality).

    JVM built-ins only (``headers.kind_stages``: magic compares on the
    64-byte header prefix — whole-stage codegen, no UDF, bytes never
    leave the scan); magic sniffing is deliberately
    shallow — structural validity is the per-modality metadata op's job
    (audio_analysis.container_stats, imagery.image_meta/video_meta)."""
    m = headers.project(df, headers.kind_stages(bytes_col))
    return m.select(
        F.col(id_col).alias("id"),
        F.col("__kind").alias("kind"),
        F.coalesce(F.col("__blen"), F.lit(0).cast("long")).alias("n_bytes"),
    )


def container_census(
    parts: list, id_cols: list, bytes_col: str = "bytes"
) -> DataFrame:
    """(kind, n, total_bytes): corpus-wide rollup of :func:`container_kind`
    over several tables sharing one opaque binary convention — the
    storage-audit summary an ingestion pipeline runs before routing.
    One map-combinable groupBy over ~7 kind keys."""
    if not parts:
        raise ValueError("container_census needs at least one table")
    if len(parts) != len(id_cols):
        raise ValueError(
            f"parts/id_cols length mismatch ({len(parts)} vs {len(id_cols)}):"
            " a silently truncated zip would drop tables from the census"
        )
    routed = None
    for df, idc in zip(parts, id_cols):
        k = container_kind(df, idc, bytes_col)
        routed = k if routed is None else routed.unionByName(k)
    return routed.groupBy("kind").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
    )
