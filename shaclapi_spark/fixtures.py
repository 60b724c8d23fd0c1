"""The canonical constraint-suite fixture (FIXTURES.md 'Constraint-suite
fixture') — the analog of the reference's shape directories
(/root/reference/tests/tc1/shapes/test1_2_3/, tc4/shapes/*.ttl).

ClipShape       — target shape (ShapeA analog)
TranscriptShape — helper shape (ShapeB/ShapeE analog)
clip_cycle_suite() adds the tc3-style back-edge TranscriptShape→ClipShape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from shaclapi_spark.suite import Constraint, Shape, Suite


def clip_shape(include_audio: bool = True, include_drift: bool = True) -> Shape:
    cs = [
        Constraint("clip_unique", "unique", {"column": "clip_id"}),
        Constraint("sr_not_null", "not_null", {"column": "sr_hz"}),
        Constraint("sr_range", "range", {"column": "sr_hz", "min": 8000, "max": 48000}),
        Constraint("dur_range", "range", {"column": "dur_ms", "min": 500, "max": 30000}),
        Constraint(
            "tr_min1",
            "min_count",
            {"child": "transcripts", "fk": "clip_id", "min": 1},
        ),
        Constraint(
            "tr_max1",
            "max_count",
            {"child": "transcripts", "fk": "clip_id", "max": 1},
        ),
        Constraint(
            "tr_valid",
            "qualified_shape",
            {
                "child": "transcripts",
                "fk": "clip_id",
                "shape": "TranscriptShape",
                "min": 1,
            },
        ),
        Constraint(
            "clip_or",
            "or_group",
            branches=[
                Constraint("or_codec", "expr", {"sql": "codec = 'pcm_s16le'"}),
                Constraint(
                    "or_tokens",
                    "min_count",
                    {
                        "child": "transcripts",
                        "fk": "clip_id",
                        "where": "n_tokens >= 1",
                        "min": 1,
                    },
                ),
                Constraint("or_dur", "expr", {"sql": "dur_ms <= 30000"}),
            ],
        ),
    ]
    if include_audio:
        cs.append(
            Constraint(
                "pcm_snr",
                "audio_valid",
                {"column": "bytes", "min_snr_db": 30.0},
            )
        )
    if include_drift:
        cs.append(
            Constraint("dur_drift", "drift", {"column": "dur_ms", "max_psi": 0.02}),
        )
        cs.append(
            Constraint("sr_drift", "drift", {"column": "sr_hz", "max_psi": 0.02}),
        )
    return Shape(
        name="ClipShape",
        table="clips",
        entity_col="clip_id",
        constraints=cs,
    )


def transcript_shape() -> Shape:
    return Shape(
        name="TranscriptShape",
        table="transcripts",
        entity_col="transcript_id",
        constraints=[
            Constraint(
                "tr_fk",
                "fk_exists",
                {"column": "clip_id", "parent": "clips", "parent_col": "clip_id"},
            ),
            Constraint("tr_text", "expr", {"sql": "text IS NOT NULL AND length(text) > 0"}),
            Constraint("tr_tokens", "range", {"column": "n_tokens", "min": 0}),
            Constraint("tr_lang", "in_set", {"column": "lang", "values": ["en", "de", "es"]}),
            # BASELINE input_hint per-row invariant: transcript equality —
            # the transcript row's text must equal its clip's transcript
            Constraint(
                "tr_text_match",
                "fk_match",
                {
                    "key": "clip_id",
                    "parent": "clips",
                    "parent_key": "clip_id",
                    "column": "text",
                    "parent_col": "transcript",
                },
            ),
        ],
    )


def clip_suite(include_audio: bool = True, include_drift: bool = True) -> Suite:
    return Suite(shapes=[clip_shape(include_audio, include_drift), transcript_shape()])


def image_shape() -> Shape:
    """ImageShape: the image-modality analog of clip_shape — container
    integrity and dims-vs-catalog-metadata checks expressed as `expr`
    constraints over the SAME staged header parse the imagery metadata
    op uses (headers.image_stages, exactly ``image_meta``'s status), so
    the validation engine covers image tables with zero new constraint
    kinds and zero UDFs in the constraint path."""
    from shaclapi_spark.pipeline import headers

    # derive-once-check-many, in stages (bytes -> header -> fields ->
    # verdict): each constraint is a plain column read and each stage a
    # projection small enough for whole-stage codegen
    return Shape(
        name="ImageShape",
        table="images",
        entity_col="img_id",
        derived_columns={
            **headers.derived(headers.image_stages("bytes")),
            "__img_ok": "__img_status = 'ok'",
            # header dims as magnitudes: a top-down BMP (negative i32
            # height) still matches its positive catalog height
            "__img_dims_ok": "__img_w = CAST(meta_w AS BIGINT)"
            " AND __img_h = CAST(meta_h AS BIGINT)",
        },
        constraints=[
            Constraint("img_unique", "unique", {"column": "img_id"}),
            Constraint("img_decodable", "expr", {"sql": "__img_ok"}),
            # dims check is vacuous for undecodable rows (they already
            # fail img_decodable; double-flagging would hide which
            # invariant broke)
            Constraint(
                "img_dims", "expr", {"sql": "(NOT __img_ok) OR __img_dims_ok"}
            ),
            Constraint(
                "img_w_meta",
                "range",
                {"column": "meta_w", "min": 1, "max": 65535},
            ),
        ],
    )


def image_suite() -> Suite:
    return Suite(shapes=[image_shape()])


def video_shape() -> Shape:
    """VideoShape: SGV1 container integrity + frame-count-vs-catalog-
    metadata checks as pure-builtin `expr` constraints over the staged
    header parse (headers.video_stages, exactly ``video_meta``'s status)
    — the video leg of the multimodal validation surface."""
    from shaclapi_spark.pipeline import headers

    return Shape(
        name="VideoShape",
        table="videos",
        entity_col="vid_id",
        derived_columns={
            **headers.derived(headers.video_stages("bytes")),
            "__vid_ok": "__vid_status = 'ok'",
            "__vid_frames_ok": "__sgv1_n = CAST(meta_frames AS BIGINT)",
        },
        constraints=[
            Constraint("vid_unique", "unique", {"column": "vid_id"}),
            Constraint("vid_decodable", "expr", {"sql": "__vid_ok"}),
            Constraint(
                "vid_frames", "expr", {"sql": "(NOT __vid_ok) OR __vid_frames_ok"}
            ),
        ],
    )


def video_suite() -> Suite:
    return Suite(shapes=[video_shape()])


def clip_cycle_suite() -> Suite:
    """tc3 analog (A→C→D→A): TranscriptShape additionally requires its parent
    clip to be a valid ClipShape — a 2-cycle resolved by the unbound⇒valid
    fixpoint (ValidationResultStreaming.py:25-26 semantics)."""
    ts = transcript_shape()
    ts.constraints.append(
        Constraint(
            "tr_clip_valid",
            "qualified_shape",
            {
                "child": "clips",
                "fk": "clip_id",
                "local_key": "clip_id",
                "shape": "ClipShape",
                "min": 1,
            },
        )
    )
    return Suite(shapes=[clip_shape(include_audio=False, include_drift=False), ts])


def mutate_clip_tables(
    clips: DataFrame, transcripts: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Deterministic 'next table version' of the clip fixture — the input to
    revalidate.revalidate_incremental tests and the `incremental_verdicts`
    contract query. The SAME mutation is expressed in ANSI SQL by
    oracle.mutation_sql so DuckDB sees bit-identical new versions.

    clips:        DELETE entities with id index % 23 == 5;
                  UPDATE dur_ms += 40000 where index % 17 == 3 (flips the
                  dur_range / or_dur constraints)
    transcripts:  DELETE rows with id index % 29 == 11 (parents lose tr_min1);
                  UPDATE text ||= '!?' where index % 13 == 4 (breaks
                  tr_text_match -> transcript invalid -> parent tr_valid);
                  INSERT a copy (id || '_x') of rows with index % 19 == 7
                  (parents overflow tr_max1)

    TRY_CAST, not CAST: Catalyst's InferFiltersFromConstraints copies the
    branch filters through equi-join conditions onto join partners (e.g. a
    population id relation that DOES contain '_x' ids), and ANSI CAST would
    throw there. Raw fixture ids are always numeric, so TRY_CAST is
    value-identical on the actual mutation input."""
    ci = F.expr("TRY_CAST(substr(clip_id, 6) AS BIGINT)")
    new_clips = clips.filter(~(ci % 23 == 5)).withColumn(
        "dur_ms",
        F.when(ci % 17 == 3, F.col("dur_ms") + 40000).otherwise(F.col("dur_ms")),
    )
    tj = F.expr("TRY_CAST(substr(transcript_id, 4) AS BIGINT)")
    kept = transcripts.filter(~(tj % 29 == 11)).withColumn(
        "text",
        F.when(tj % 13 == 4, F.concat(F.col("text"), F.lit("!?"))).otherwise(
            F.col("text")
        ),
    )
    inserted = transcripts.filter(tj % 19 == 7).withColumn(
        "transcript_id", F.concat(F.col("transcript_id"), F.lit("_x"))
    )
    return new_clips, kept.unionByName(inserted)
