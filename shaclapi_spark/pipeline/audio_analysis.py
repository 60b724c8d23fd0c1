"""Audio ANALYSIS operators: signal-level dataset QA that goes beyond
per-frame energy — effective-bandwidth estimation (upsample detection),
autocorrelation pitch/periodicity estimation, and container-integrity
accounting parsed entirely with JVM built-ins.

The reference's validation loop emits per-entity verdicts from constraint
evaluation (shaclapi/multiprocessing/functions.py:13-16); an audio
training corpus needs the same verdict discipline applied to properties
of the SIGNAL, not just the metadata row:

* ``clip_zcr`` / ``bandwidth_verdicts`` — a 16 kHz container holding
  8 kHz-bandwidth content (a re-encoded telephone recording) wastes half
  its bits and lies to the sampler about information content. The
  zero-crossing rate is a classic integer-exact dominant-frequency proxy:
  for a clip whose content lives at f Hz, crossings/sample ~ 2f/sr, so
  ``zc * den < (n-1) * num`` flags clips whose content sits below
  ``num/den`` of Nyquist — sr cancels, the test is pure int64.
* ``pitch_period`` — smallest-lag argmax of the integer autocorrelation
  over a physically-motivated lag window [sr/f_hi, sr/f_lo]. On the
  fixture's pure sine clips the estimate is checkable against the
  header's synthesis frequency (tests do exactly that). ``periodic``
  (2*R(best) > R(0)) separates tonal from noise-like content.
* ``container_stats`` / ``container_summary`` — header/payload integrity
  accounting (bad magic, unknown codec, truncated payload, container
  overhead vs raw PCM) read from the 64-byte header prefix by the shared
  parser in ``pipeline.headers``: no UDF, the whole relation stays inside
  whole-stage codegen.

Scale shape: the two decode ops are single Arrow-batched ``mapInPandas``
passes over ``(id, bytes)`` — embarrassingly parallel with the scan, no
shuffle; per-clip math is vectorized numpy (``np.correlate`` on int64 is
exact). The container ops are pure column expressions; the only shuffle
in this module is ``container_summary``'s tiny (codec × status) rollup.

Integer-exactness: every output column is an int64/int32/bool derived
from int16 samples (|R(l)| <= 32767^2 * n < 2^63 for any clip shorter
than ~2.4e8 samples), so all three relations carry full cross-engine
value-hash oracles against DuckDB's hex-decode CTE chain.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from shaclapi_spark.pipeline import headers
from shaclapi_spark.pipeline.dedup import drop_hot_groups

ZCR_SCHEMA = StructType(
    [
        StructField("clip_id", StringType()),
        StructField("sr_hz", IntegerType()),
        StructField("n_samples", IntegerType()),
        StructField("zero_crossings", IntegerType()),
    ]
)

# centered analysis window (samples), the fixed-point scale of the
# normalized-score division, and the near-max tolerance of the
# smallest-lag selection rule; all appear verbatim in the DuckDB oracle.
# score <= 32767^2 * _PITCH_SCALE ~ 1.1e12, and the tolerance
# cross-multiplication score * _PITCH_TOL_DEN ~ 1.1e15 stays in int64.
_PITCH_WIN = 4096
_PITCH_SCALE = 1 << 10
_PITCH_TOL_NUM = 995
_PITCH_TOL_DEN = 1000

PITCH_SCHEMA = StructType(
    [
        StructField("clip_id", StringType()),
        StructField("sr_hz", IntegerType()),
        StructField("n_samples", IntegerType()),
        StructField("best_lag", IntegerType()),
        StructField("r_best", LongType()),
        StructField("r0", LongType()),
        StructField("pitch_mhz", LongType()),
        StructField("periodic", BooleanType()),
    ]
)


def clip_zcr(
    df: DataFrame, id_col: str = "clip_id", bytes_col: str = "bytes"
) -> DataFrame:
    """Whole-clip zero-crossing count over the decoded samples: one row
    per decodable clip with (header sr_hz, n_samples, zero_crossings).
    A crossing is a strict sign change ``(s[i] < 0) != (s[i+1] < 0)``
    between adjacent samples — the same convention as the per-frame
    ``zero_crossings`` in ``multimodal.audio_frame_features``, but
    counted across the full clip (frame-boundary pairs included), which
    is what a bandwidth estimate needs. Undecodable / NULL blobs are
    skipped, mirroring ``decode_clip``'s rejections."""
    from shaclapi_spark import audio_codec as ac

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            srs: list = []
            ns: list = []
            zcs: list = []
            for cid, blob in zip(pdf[id_col], pdf[bytes_col]):
                if blob is None:
                    continue
                try:
                    hdr, s = ac.decode_clip(bytes(blob))
                except (ValueError, TypeError):
                    continue
                if len(s) == 0:
                    continue
                neg = s < 0
                ids.append(str(cid))
                srs.append(int(hdr["sr_hz"]))
                ns.append(len(s))
                zcs.append(int(np.count_nonzero(neg[:-1] != neg[1:])))
            yield pd.DataFrame(
                {
                    "clip_id": ids,
                    "sr_hz": pd.array(srs, dtype="int32"),
                    "n_samples": pd.array(ns, dtype="int32"),
                    "zero_crossings": pd.array(zcs, dtype="int32"),
                }
            )

    return df.select(F.col(id_col), F.col(bytes_col)).mapInPandas(
        gen, schema=ZCR_SCHEMA
    )


def bandwidth_verdicts(
    df: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    num: int = 1,
    den: int = 4,
) -> DataFrame:
    """Upsample-detection verdicts: flag clips whose zero-crossing-rate
    frequency proxy sits below ``num/den`` of Nyquist — i.e. the
    container's sample rate is at least ``den/num``x what the content
    needs, the signature of upsampled (bandwidth-starved) audio.

    The estimate f ~ zc * sr / (2 * (n-1)); the test
    ``f < (sr/2) * num/den`` reduces to ``zc * den < (n-1) * num`` — sr
    cancels, so the verdict is exact int64 arithmetic with no float
    anywhere (cross-engine hash-stable). Defaults flag content below a
    quarter of Nyquist.

    Scale shape: composes the no-shuffle ``clip_zcr`` map with one
    projected comparison; the verdict relation never shuffles."""
    if num <= 0 or den <= 0:
        raise ValueError(f"num/den must be positive, got {num}/{den}")
    z = clip_zcr(df, id_col=id_col, bytes_col=bytes_col)
    low = (
        F.col("zero_crossings").cast("long") * F.lit(int(den))
        < (F.col("n_samples").cast("long") - F.lit(1)) * F.lit(int(num))
    )
    return z.select(
        "clip_id",
        "sr_hz",
        "n_samples",
        "zero_crossings",
        low.alias("low_bandwidth"),
    )


def pitch_period(
    df: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    f_lo: int = 100,
    f_hi: int = 2000,
) -> DataFrame:
    """Integer autocorrelation pitch estimate per clip.

    Analysis runs on a CENTERED window of at most ``_PITCH_WIN`` samples
    (offset = max(0, (n - W) // 2), m = window length): it bounds both
    the per-clip cost and the int64 range of the normalized score. Over
    the window, R(l) = sum_i w[i] * w[i+l] for lags
    l in [max(2, sr // f_hi), min(m // 2, sr // f_lo)].

    Raw R(l) is biased toward small lags by its (m - l) overlap factor,
    so lags are ranked by the length-normalized score
    ``max(R(l), 0) * _PITCH_SCALE DIV (m - l)`` — an exact integer
    surrogate for R(l)/(m-l) (clamping at 0 keeps floor- vs
    truncate-division agreement across engines; a negative
    autocorrelation is never a pitch peak). A periodic signal scores
    near-identically at every multiple of its true period (the classic
    octave error), so the selection rule is YIN-style: the SMALLEST
    interior lag that is a LOCAL maximum (score >= both neighbors —
    misaligned off-peak lags fail this) and whose score is within 0.5%
    of the global maximum
    (``score(l) * _PITCH_TOL_DEN >= max_score * _PITCH_TOL_NUM``, a pure
    integer cross-multiplication); if no interior lag qualifies, the
    smallest global-argmax lag. Total-ordered, engine-independent.
    Outputs:

    * ``best_lag`` — the period estimate in samples;
    * ``r_best`` / ``r0`` — the winning (unclamped) autocorrelation and
      the window energy R(0), both exact int64;
    * ``pitch_mhz`` — 1000 * sr DIV best_lag, the f0 estimate in
      milli-Hz via integer division (consumers divide by 1000);
    * ``periodic`` — the length-corrected test
      2 * r_best * m > r0 * (m - best_lag), i.e. normalized
      R(best)/(m-best_lag) exceeds half the per-sample energy R(0)/m —
      a tonal-vs-noise discriminator (a pure tone has normalized
      R(period) ~ R(0)/m; broadband noise decorrelates). Exact int64
      (both sides < 2^56 at W = 4096).

    Clips whose lag window is empty (too short, or sr outside the band)
    are omitted, mirroring the undecodable-skip convention.

    Scale shape: one Arrow-batched mapInPandas, no shuffle. Per-clip
    work is one ``np.correlate`` on the int64 window (exact integer
    math: |R| <= 32767^2 * 4096 ~ 4.4e12; the normalized score
    <= 32767^2 * _PITCH_SCALE ~ 1.1e12; every cross-multiplication
    stays far inside int64)."""
    if not (0 < f_lo < f_hi):
        raise ValueError(f"need 0 < f_lo < f_hi, got {f_lo}, {f_hi}")
    from shaclapi_spark import audio_codec as ac

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            srs: list = []
            ns: list = []
            blags: list = []
            rbs: list = []
            r0s: list = []
            mhz: list = []
            per: list = []
            for cid, blob in zip(pdf[id_col], pdf[bytes_col]):
                if blob is None:
                    continue
                try:
                    hdr, s = ac.decode_clip(bytes(blob))
                except (ValueError, TypeError):
                    continue
                n = len(s)
                sr = int(hdr["sr_hz"])
                off = max(0, (n - _PITCH_WIN) // 2)
                w = s[off : off + _PITCH_WIN]
                m = len(w)
                lag_min = max(2, sr // f_hi)
                lag_max = min(m // 2, sr // f_lo)
                if lag_max < lag_min:
                    continue
                w64 = w.astype(np.int64)
                # full autocorrelation once, then slice the lag window:
                # index (m-1)+l of the 'full' correlation is R(l)
                r_full = np.correlate(w64, w64, mode="full")
                lags = np.arange(lag_min, lag_max + 1)
                r = r_full[m - 1 + lags]
                # exact normalized score; smallest near-max LOCAL max
                # (octave-error suppression), else smallest global argmax
                score = (np.maximum(r, 0) * _PITCH_SCALE) // (m - lags)
                best = int(score.max())
                if len(score) >= 3:
                    mid = score[1:-1]
                    ok = (
                        (mid >= score[:-2])
                        & (mid >= score[2:])
                        & (mid * _PITCH_TOL_DEN >= best * _PITCH_TOL_NUM)
                    )
                    hits = np.nonzero(ok)[0]
                else:
                    hits = np.array([], dtype=np.int64)
                k = int(hits[0]) + 1 if len(hits) else int(np.argmax(score))
                best_lag = int(lags[k])
                r_best = int(r[k])
                r0 = int(r_full[m - 1])
                ids.append(str(cid))
                srs.append(sr)
                ns.append(n)
                blags.append(best_lag)
                rbs.append(r_best)
                r0s.append(r0)
                mhz.append(1000 * sr // best_lag)
                per.append(2 * r_best * m > r0 * (m - best_lag))
            yield pd.DataFrame(
                {
                    "clip_id": ids,
                    "sr_hz": pd.array(srs, dtype="int32"),
                    "n_samples": pd.array(ns, dtype="int32"),
                    "best_lag": pd.array(blags, dtype="int32"),
                    "r_best": pd.array(rbs, dtype="int64"),
                    "r0": pd.array(r0s, dtype="int64"),
                    "pitch_mhz": pd.array(mhz, dtype="int64"),
                    "periodic": pd.array(per, dtype="bool"),
                }
            )

    return df.select(F.col(id_col), F.col(bytes_col)).mapInPandas(
        gen, schema=PITCH_SCHEMA
    )


def container_stats(
    df: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-clip container-integrity relation from the shared bounded
    header parser (``headers.audio_stages`` — JVM built-ins only, no UDF,
    inside whole-stage codegen): header magic + codec id + declared sample
    count, payload size vs declared raw PCM size, and a ``status``
    verdict mirroring ``decode_clip``'s rejection order
    (null -> bad_magic -> bad_codec -> truncated -> ok).

    ``payload_bytes`` counts what the container actually carries past
    the 21-byte header; ``raw_bytes`` = 2 * declared n is what the PCM
    would occupy — their ratio is the compression/overhead account a
    storage audit wants. Sizes are reported for structurally-parseable
    rows (magic ok) and NULL otherwise. ``carry_cols`` are projected
    through unchanged (same physical row — no join, so seeded duplicate
    ids stay one row each)."""
    m = headers.project(df, headers.audio_stages(bytes_col))
    parseable = F.col("__sga1_status").isin("bad_codec", "truncated", "ok")
    return m.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        F.col("__sga1_status").alias("status"),
        F.when(parseable, F.col("__sga1_codec").cast("int")).alias("codec_id"),
        F.when(parseable, F.col("__sga1_sr")).alias("hdr_sr"),
        F.when(parseable, F.col("__sga1_n")).alias("hdr_n"),
        F.when(
            parseable, F.col("__blen") - headers.SGA1_HEADER_BYTES
        ).alias("payload_bytes"),
        F.when(parseable, 2 * F.col("__sga1_n")).alias("raw_bytes"),
    )


def container_summary(
    df: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
) -> DataFrame:
    """(codec metadata column x status) rollup of ``container_stats``:
    clip counts and total payload/raw bytes. The metadata ``codec``
    column rides along on the same physical row (carry_cols — no join,
    duplicate-id safe), so metadata/header disagreement surfaces as e.g.
    codec='opus' rows with status='bad_codec'. Tiny output (a few rows
    per codec x status), one small partial-aggregated shuffle."""
    per = container_stats(
        df, id_col=id_col, bytes_col=bytes_col, carry_cols=(codec_col,)
    )
    return per.groupBy(F.col(codec_col).alias("codec"), "status").agg(
        F.count(F.lit(1)).cast("long").alias("n_clips"),
        F.sum("payload_bytes").cast("long").alias("payload_bytes"),
        F.sum("raw_bytes").cast("long").alias("raw_bytes"),
    )


FP_SCHEMA = StructType(
    [
        StructField("clip_id", StringType()),
        StructField("pos", IntegerType()),
        StructField("token", LongType()),
    ]
)


def audio_fingerprint(
    df: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    n_bands: int = 16,
    frame_samples: int | None = None,
) -> DataFrame:
    """Gain-invariant acoustic fingerprint tokens — fuzzy audio matching
    where ``audio_transform.content_fingerprint`` (exact PCM digest) stops:
    a re-gained or re-encoded-with-identical-samples copy fingerprints the
    SAME, because every bit is an energy COMPARISON, not an energy value
    (the Chromaprint/Shazam family idea, integer-exact so the DuckDB
    oracle replays it bit-for-bit).

    Per clip: 20 ms frames (sr/50 samples — the frame grid of
    ``multimodal.audio_frame_features``); each complete frame splits into
    ``n_bands`` equal sub-blocks of flen // n_bands samples (the tail
    remainder of each frame is dropped so the grid is exact for any sr);
    block energy e[f, b] = sum(|pcm|). Frame delta word
    t[f] = sum_b (e[f+1, b] > e[f, b]) << b, and the emitted token pairs
    consecutive delta words — token[pos] = t[pos] << 16 | t[pos+1] — so a
    token carries 2*n_bands comparison bits and random 16-bit collisions
    vanish. A clip with F complete frames emits max(F - 2, 0) tokens.

    Gain invariance: scaling PCM by any positive gain scales every block
    energy by ~the same factor, preserving the > comparisons (exact for
    pure scaling; floor-quantized integer gains can flip ties — matching
    uses a shared-token threshold, not equality, for exactly that reason).

    ``frame_samples`` overrides the sr-derived 20 ms frame with a fixed
    sample count — for corpora of very short payloads (the contract
    fixture stores ~256-sample payloads) or for sr-agnostic matching.

    Scale shape: one Arrow-batched mapInPandas over (id, bytes), no
    shuffle; the numpy path is a reshape + reduceat-style block sum per
    clip. Undecodable blobs are skipped (decode_clip parity)."""
    if n_bands != 16:
        raise ValueError("token packing assumes n_bands=16")
    from shaclapi_spark import audio_codec as ac

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            poss: list = []
            toks: list = []
            for cid, blob in zip(pdf[id_col], pdf[bytes_col]):
                if blob is None:
                    continue
                try:
                    hdr, s = ac.decode_clip(bytes(blob))
                except (ValueError, TypeError):
                    continue
                flen = (
                    int(frame_samples)
                    if frame_samples is not None
                    else int(hdr["sr_hz"]) * 20 // 1000
                )
                sb = flen // n_bands
                nf = len(s) // flen if flen > 0 else 0
                if sb == 0 or nf < 3:
                    continue
                a = np.abs(s[: nf * flen].astype(np.int64)).reshape(nf, flen)
                e = a[:, : sb * n_bands].reshape(nf, n_bands, sb).sum(axis=2)
                bits = (e[1:] > e[:-1]).astype(np.int64)  # (nf-1, 16)
                w = bits @ (1 << np.arange(n_bands, dtype=np.int64))
                tok = (w[:-1] << 16) | w[1:]
                ids.extend([str(cid)] * len(tok))
                poss.extend(range(len(tok)))
                toks.extend(int(t) for t in tok)
            yield pd.DataFrame(
                {
                    "clip_id": ids,
                    "pos": pd.array(poss, dtype="int32"),
                    "token": pd.array(toks, dtype="int64"),
                }
            )

    return df.select(F.col(id_col), F.col(bytes_col)).mapInPandas(
        gen, schema=FP_SCHEMA
    )


def fingerprint_matches(
    fp: DataFrame,
    min_shared: int = 5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-match clip pairs from the fingerprint token relation:
    (a, b, n_shared) for pairs sharing at least ``min_shared`` DISTINCT
    token values (position-independent, so a time-shifted copy still
    matches on its overlapping frames).

    Scale shape: the same blocked equi-join as shingle dedup — one
    distinct (clip, token) projection, one self-join keyed on the 8-byte
    token, one map-combinable pair count. 32-bit-comparison tokens make
    random collisions negligible, so the join fan-out tracks true
    duplication, not corpus size. ``max_bucket`` is the standard
    stop-token cap for when duplication itself is degenerate: tokens
    appearing in more than ``max_bucket`` clips are dropped before the
    join (a token shared by thousands of clips contributes quadratic
    pairs and zero discrimination — same rationale as dropping
    super-frequent shingles); pairs whose overlap lives entirely in
    stop tokens are then missed, so size the cap above the largest
    REAL duplicate-group you must resolve."""
    base = fp.select("clip_id", "token").distinct().persist()
    t = base
    if max_bucket is not None:
        # base stays persisted until the checkpoint materializes: the hot-
        # token aggregate AND the anti-join both read it, and an early
        # unpersist would recompute the corpus distinct() for each
        t = drop_hot_groups(base, ["token"], max_bucket).persist()
    try:
        a = t.select(F.col("clip_id").alias("a"), "token")
        b = t.select(F.col("clip_id").alias("b"), "token")
        out = (
            a.join(b, "token")
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
