"""Decoded-PCM validity check — vectorized Arrow pandas UDF (no per-row Python
outside the unavoidable per-clip loop over variable-length blobs; all signal
math is numpy).

Implements the BASELINE per-row invariant: decoded PCM must match the
reference signal at SNR ≥ 30 dB. The precondition column enables the
reference's early-fail short-circuit (ValidationResultStreaming.py:18-21
analog): rows already invalidated by cheap row checks skip the expensive
decode. The precondition gates the UDF's *argument*
(``F.when(pre, bytes)``), so a skipped row's blob never crosses the Arrow
boundary — it arrives as None (a ``F.when`` around the UDF *call* would
not guarantee non-evaluation).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from shaclapi_spark import audio_codec

#: default SNR floor of ``audio_valid`` (a constraint's ``min_snr_db``
#: param overrides it)
MIN_SNR_DB = 30.0


@pandas_udf(DoubleType())
def _snr_db_udf(blobs: pd.Series) -> pd.Series:
    # batch-vectorized: one np.sin + reduceat over the concatenated batch
    # (audio_codec.snr_db_batch); skipped and NULL blobs enter as None → NaN
    return pd.Series(audio_codec.snr_db_batch(list(blobs.to_numpy(dtype=object))))


def snr_column(bytes_col: str, precondition: Column | None = None) -> Column:
    """SNR (dB) of the decoded payload vs its header reference signal.

    NaN where the precondition is false (skipped) or the blob is NULL;
    -inf where decode fails.
    """
    blob = F.col(bytes_col)
    if precondition is not None:
        # NULL precondition skips too, as in the row-check coalescing
        blob = F.when(precondition, blob)
    return _snr_db_udf(blob)


def with_audio_check(
    df: DataFrame,
    out_col: str,
    bytes_col: str,
    min_snr_db: float = MIN_SNR_DB,
    precondition: Column | None = None,
) -> DataFrame:
    """Adds boolean ``out_col``: True iff decode succeeds and SNR ≥ threshold.

    NULL (→ unbound⇒valid downstream) when skipped by the precondition;
    False when the blob is NULL/undecodable/corrupted.
    """
    snr = snr_column(bytes_col, precondition)
    checked = F.when(F.isnan(snr), F.lit(None).cast("boolean")).otherwise(
        snr >= F.lit(float(min_snr_db))
    )
    # NULL blob is a hard failure (there is no payload to validate), not unbound
    checked = F.when(F.col(bytes_col).isNull(), F.lit(False)).otherwise(checked)
    return df.withColumn(out_col, checked)


def speech_rate_check(
    clips: DataFrame,
    transcripts: DataFrame,
    min_tps_x10: int = 5,
    max_tps_x10: int = 80,
) -> DataFrame:
    """Cross-table plausibility constraint tying the audio shape to the
    transcript shape: tokens-per-second of each transcript against its
    clip's duration must lie in [min_tps_x10/10, max_tps_x10/10] — a
    transcript "speaking" 30 tokens/s, or 0.1, is a misaligned pair even
    when both rows pass their own shape checks.

    The bounds are integers in tenths and the test is cross-multiplied —
    ``n_tokens * 10_000 {>=,<=} dur_ms * bound_x10`` — so the whole
    relation is integer/boolean and value-hash-exact cross-engine.
    Verdicts: NULL inputs or non-positive duration → rate unbound (NULL
    rate_ok, mirroring the engine's unbound⇒valid row rule is left to the
    caller); otherwise boolean.

    Output: (transcript_id, clip_id, n_tokens, dur_ms, rate_ok).

    Scale shape: inner equi-join on clip_id projecting only (clip_id,
    dur_ms) from the 100-TB side — the audio payload is pruned at the
    scan; one shuffle (or broadcast when the transcript side is the small
    one)."""
    c = clips.select("clip_id", "dur_ms")
    t = transcripts.select("transcript_id", "clip_id", "n_tokens")
    j = t.join(c, "clip_id")
    nt, dm = F.col("n_tokens"), F.col("dur_ms")
    ok = (nt * F.lit(10_000) >= dm * F.lit(int(min_tps_x10))) & (
        nt * F.lit(10_000) <= dm * F.lit(int(max_tps_x10))
    )
    rate_ok = F.when(
        nt.isNull() | dm.isNull() | (dm <= 0), F.lit(None).cast("boolean")
    ).otherwise(ok)
    return j.select(
        "transcript_id", "clip_id", "n_tokens", "dur_ms", rate_ok.alias("rate_ok")
    )
