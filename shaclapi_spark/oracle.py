"""DuckDB-oracle SQL for the clip fixture suite.

The golden-test strategy of the reference is end-to-end expected result sets
per test definition (/root/reference/tests/tc*/test_definitions/*.json,
compared order-insensitively in tests/test_main.py:229-246). Here the
expected sets are *computed* by an independent engine — DuckDB — running
ANSI SQL over the exact same parquet files the Spark engine reads.

The audio constraint is expressed via the generator invariant (FIXTURES.md:
rows with clip index % 101 == 0 carry corrupted payloads) — the only
SQL-expressible statement of the decoded-PCM check.
"""

from __future__ import annotations


def transcript_verdict_sql(clips: str, transcripts: str) -> str:
    """Per-transcript TranscriptShape verdicts (entity grain = row grain).

    tr_text_match (fk_match — the BASELINE 'transcript equality' per-row
    invariant) is vacuous when the key, either text, or the parent row is
    missing: those cases belong to tr_fk / tr_text. Multi-parent semantics
    are bool_and over parent rows: 0 non-null parent values ⇒ vacuous,
    1 distinct ⇒ compare, >=2 distinct ⇒ unsatisfiable."""
    return f"""
WITH clips AS (SELECT * FROM {clips}),
     tr    AS (SELECT * FROM {transcripts}),
par AS (SELECT clip_id, count(DISTINCT transcript) AS nd, max(transcript) AS mx
        FROM clips GROUP BY clip_id)
SELECT
  tr.transcript_id AS entity_id,
  'TranscriptShape' AS shape,
  (
    (tr.clip_id IS NULL OR tr.clip_id IN (SELECT clip_id FROM clips))
    AND coalesce(tr.text IS NOT NULL AND length(tr.text) > 0, TRUE)
    AND (tr.n_tokens IS NULL OR tr.n_tokens >= 0)
    AND (tr.lang IS NULL OR tr.lang IN ('en','de','es'))
    AND (tr.clip_id IS NULL OR tr.text IS NULL OR p.nd IS NULL OR p.nd = 0
         OR (p.nd = 1 AND tr.text = p.mx))
  ) AS is_valid
FROM tr LEFT JOIN par p ON p.clip_id = tr.clip_id
"""


def clip_verdict_sql(clips: str, transcripts: str, include_audio: bool = True) -> str:
    audio_bool = (
        "bool_and(CAST(substr(c.clip_id, 6) AS BIGINT) % 101 <> 0)"
        if include_audio
        else "bool_and(TRUE)"
    )
    return f"""
WITH clips AS (SELECT * FROM {clips}),
     tr    AS (SELECT * FROM {transcripts}),
tr_verdict AS (
  SELECT entity_id AS transcript_id, is_valid
  FROM ({transcript_verdict_sql(clips="clips", transcripts="tr")})
),
clip_rows AS (
  SELECT
    c.clip_id,
    count(*) AS n_rows,
    bool_and(c.sr_hz IS NOT NULL) AS b_sr_nn,
    bool_and(c.sr_hz IS NULL OR (c.sr_hz BETWEEN 8000 AND 48000)) AS b_sr_rng,
    bool_and(c.dur_ms IS NULL OR (c.dur_ms BETWEEN 500 AND 30000)) AS b_dur,
    bool_and(coalesce(c.codec = 'pcm_s16le', TRUE)) AS b_or_codec,
    bool_and(coalesce(c.dur_ms <= 30000, TRUE)) AS b_or_dur,
    {audio_bool} AS b_audio
  FROM clips c
  GROUP BY c.clip_id
),
child_agg AS (
  SELECT
    t.clip_id,
    count(*) AS n_tr,
    sum(CASE WHEN t.n_tokens >= 1 THEN 1 ELSE 0 END) AS n_tok,
    sum(CASE WHEN coalesce(v.is_valid, TRUE) THEN 1 ELSE 0 END) AS n_valid_tr
  FROM tr t
  LEFT JOIN tr_verdict v ON v.transcript_id = t.transcript_id
  GROUP BY t.clip_id
)
SELECT
  r.clip_id AS entity_id,
  'ClipShape' AS shape,
  (
    r.n_rows = 1
    AND r.b_sr_nn AND r.b_sr_rng AND r.b_dur
    AND coalesce(a.n_tr, 0) >= 1
    AND coalesce(a.n_tr, 0) <= 1
    AND coalesce(a.n_valid_tr, 0) >= 1
    AND (r.b_or_codec OR coalesce(a.n_tok, 0) >= 1 OR r.b_or_dur)
    AND coalesce(r.b_audio, TRUE)
  ) AS is_valid
FROM clip_rows r
LEFT JOIN child_agg a ON a.clip_id = r.clip_id
"""


def clips_table_expr(path: str) -> str:
    return f"read_parquet('{path}')"


def cycle_verdict_union_sql(clips: str, transcripts: str, iters: int = 6) -> str:
    """Unrolled Jacobi fixpoint for the cyclic suite (tc3 analog,
    /root/reference/tests/tc3/shapes/full/: A→C→D→A) as ONE SQL statement.

    The engine iterates simultaneous (Jacobi) updates from the all-valid
    (unbound⇒valid) initialization; invalidation is monotone and the clip↔
    transcript dependency graph is bipartite with only direct links, so the
    fixpoint is reached within a constant number of passes — ``iters`` CTE
    layers unroll it exactly (verified against the iterated-loop oracle in
    tests/test_cycles.py)."""
    ctes = [
        f"clips AS (SELECT * FROM {clips})",
        f"tr AS (SELECT * FROM {transcripts})",
        """par AS (SELECT clip_id, count(DISTINCT transcript) AS nd, max(transcript) AS mx
        FROM clips GROUP BY clip_id)""",
        """tr_base AS (
  SELECT tr.transcript_id, tr.clip_id,
    ((tr.clip_id IS NULL OR tr.clip_id IN (SELECT clip_id FROM clips))
     AND coalesce(tr.text IS NOT NULL AND length(tr.text) > 0, TRUE)
     AND (tr.n_tokens IS NULL OR tr.n_tokens >= 0)
     AND (tr.lang IS NULL OR tr.lang IN ('en','de','es'))
     AND (tr.clip_id IS NULL OR tr.text IS NULL OR p.nd IS NULL OR p.nd = 0
          OR (p.nd = 1 AND tr.text = p.mx))) AS base_ok
  FROM tr LEFT JOIN par p ON p.clip_id = tr.clip_id)""",
        """clip_base AS (
  SELECT c.clip_id,
    count(*) = 1 AS uniq,
    bool_and(c.sr_hz IS NOT NULL) AS sr_nn,
    bool_and(c.sr_hz IS NULL OR c.sr_hz BETWEEN 8000 AND 48000) AS sr_rng,
    bool_and(c.dur_ms IS NULL OR c.dur_ms BETWEEN 500 AND 30000) AS dur_ok,
    bool_and(coalesce(c.codec = 'pcm_s16le', TRUE)) AS or_codec,
    bool_and(coalesce(c.dur_ms <= 30000, TRUE)) AS or_dur
  FROM clips c GROUP BY c.clip_id)""",
        """child_static AS (
  SELECT t.clip_id, count(*) AS n_tr,
         sum(CASE WHEN t.n_tokens >= 1 THEN 1 ELSE 0 END) AS n_tok
  FROM tr t GROUP BY t.clip_id)""",
        "cv0 AS (SELECT clip_id, TRUE AS ok FROM clip_base)",
        "tv0 AS (SELECT transcript_id, clip_id, TRUE AS ok FROM tr_base)",
    ]
    for k in range(1, iters + 1):
        p = k - 1
        ctes.append(
            f"""cv{k} AS (
  SELECT b.clip_id,
    (b.uniq AND b.sr_nn AND b.sr_rng AND b.dur_ok
     AND coalesce(s.n_tr, 0) >= 1 AND coalesce(s.n_tr, 0) <= 1
     AND coalesce(a.n_valid, 0) >= 1
     AND (b.or_codec OR coalesce(s.n_tok, 0) >= 1 OR b.or_dur)) AS ok
  FROM clip_base b
  LEFT JOIN child_static s ON s.clip_id = b.clip_id
  LEFT JOIN (
    SELECT t.clip_id,
           sum(CASE WHEN coalesce(v.ok, TRUE) THEN 1 ELSE 0 END) AS n_valid
    FROM tr t LEFT JOIN tv{p} v ON v.transcript_id = t.transcript_id
    GROUP BY t.clip_id) a ON a.clip_id = b.clip_id)"""
        )
        ctes.append(
            f"""tv{k} AS (
  SELECT tb.transcript_id, tb.clip_id,
    (tb.base_ok AND coalesce(cagg.n_validc, 0) >= 1) AS ok
  FROM tr_base tb
  LEFT JOIN (
    SELECT c.clip_id, sum(CASE WHEN cv.ok THEN 1 ELSE 0 END) AS n_validc
    FROM clips c LEFT JOIN cv{p} cv ON cv.clip_id = c.clip_id
    GROUP BY c.clip_id) cagg ON cagg.clip_id = tb.clip_id)"""
        )
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT clip_id AS entity_id, 'ClipShape' AS shape, ok AS is_valid FROM cv{iters}
UNION ALL
SELECT transcript_id AS entity_id, 'TranscriptShape' AS shape, ok AS is_valid FROM tv{iters}
"""


def mutated_clips_sql(clips: str) -> str:
    """ANSI-SQL form of fixtures.mutate_clip_tables' clips mutation."""
    return f"""
SELECT clip_id, bytes, sr_hz,
       CASE WHEN i % 17 = 3 THEN dur_ms + 40000 ELSE dur_ms END AS dur_ms,
       codec, transcript
FROM (SELECT *, TRY_CAST(substr(clip_id, 6) AS BIGINT) AS i FROM {clips})
WHERE NOT (i % 23 = 5)
"""


def mutated_transcripts_sql(transcripts: str) -> str:
    """ANSI-SQL form of fixtures.mutate_clip_tables' transcripts mutation."""
    return f"""
SELECT transcript_id, clip_id,
       CASE WHEN j % 13 = 4 THEN text || '!?' ELSE text END AS text,
       lang, n_tokens
FROM (SELECT *, TRY_CAST(substr(transcript_id, 4) AS BIGINT) AS j FROM {transcripts})
WHERE NOT (j % 29 = 11)
UNION ALL
SELECT transcript_id || '_x' AS transcript_id, clip_id, text, lang, n_tokens
FROM (SELECT *, TRY_CAST(substr(transcript_id, 4) AS BIGINT) AS j FROM {transcripts})
WHERE j % 19 = 7
"""
