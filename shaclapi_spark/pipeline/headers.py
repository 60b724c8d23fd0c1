"""Container headers: the one parser behind every media-blob predicate.

A container's header is a fixed-width prefix of its blob — the blob's
sketch, in the sense of *Column Sketches* (SIGMOD 2018): magic, declared
dimensions and declared payload size are all decidable from it. So no
rule here reads past the first ``HEADER_BYTES`` bytes. 64 bytes cover
BMP (54), the fixture's fixed-width PPM (19), SGV1 (11), SGA1 (21) and
the RIFF/WAVE sniff (12).

Every rule is Spark-SQL text over JVM built-ins (substring / hex / conv /
length / regexp_extract — no UDF, no ``decode()``, no throwing CAST), in
four stages:

    bytes -> header (__hdr, __blen) -> fields -> verdict

Each stage is one projection, small enough for whole-stage codegen (the
flat per-consumer expressions this replaces re-hexed the whole blob per
field and outgrew the JVM's 64 KB method limit). A stage list applies
either as DataFrame projections (:func:`project` — the metadata ops) or
as ordered ``Shape.derived_columns`` (:func:`derived` — the validation
suites), so both read the same rule. Each status rule keeps its
decoder's rejection order (``imagery.decode_image`` / ``decode_video``,
``audio_codec.decode_clip``). PPM is read only in the fixed-width layout:
another layout is 'unsupported' even where ``decode_image`` reads it, as
fields at fixed offsets cannot follow a variable-width header.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, functions as F

from shaclapi_spark import audio_codec

HEADER_BYTES = 64

BMP_HEADER_BYTES = 54  # BITMAPFILEHEADER(14) + BITMAPINFOHEADER(40)
#: fixed-width P6 header the fixture emits: "P6\n%5d %5d\n255\n" = 19 bytes
PPM_HEADER_BYTES = 19
VIDEO_MAGIC = b"SGV1"
VIDEO_HEADER = "<4sHHHB"  # magic, w, h, n_frames, fps
VIDEO_HEADER_BYTES = struct.calcsize(VIDEO_HEADER)  # 11
SGA1_HEADER_BYTES = audio_codec.HEADER_LEN  # 21

#: parsed-dimension sanity ceiling: headers claiming a side beyond this are
#: classified 'unsupported' BEFORE any size arithmetic — a u32 width times a
#: u32 height times 3 overflows int64 (ANSI mode would abort the job on ONE
#: hostile row; non-ANSI would silently wrap and can mislabel a truncated
#: blob 'ok'). 2^20 px per side is far beyond any real still image.
MAX_DIM = 1 << 20


def _magic(m: bytes, byte_off: int = 1) -> str:
    p = 2 * byte_off - 1
    return f"substring(__hdr, {p}, {2 * len(m)}) = '{m.hex().upper()}'"


#: container magic over the header hex, in the router's order
MAGIC = {
    "sga1": _magic(audio_codec.MAGIC),
    "wav": f"{_magic(b'RIFF')} AND {_magic(b'WAVE', 9)}",
    "sgv1": _magic(VIDEO_MAGIC),
    "bmp": _magic(b"BM"),
    "ppm": _magic(b"P6"),
}


def _le(byte_off: int, n_bytes: int) -> str:
    """Little-endian unsigned ``n_bytes`` at 1-based byte ``byte_off``
    (byte k is hex chars 2k-1..2k), as BIGINT."""
    be = ", ".join(
        f"substring(__hdr, {2 * (byte_off + i) - 1}, 2)"
        for i in reversed(range(n_bytes))
    )
    return f"CAST(conv(concat({be}), 16, 10) AS BIGINT)"


def _ascii_int(byte_off: int, n_bytes: int) -> str:
    """Space-padded ASCII decimal at 1-based byte ``byte_off``, as BIGINT:
    one anchored regex over the hex takes space padding (``20``) around
    one digit run (``3d`` pairs), anything else is NULL. No decode() (ANSI
    throws on non-UTF-8 bytes), no throwing CAST (<= 18 digits fit)."""
    field = f"substring(__hdr, {2 * byte_off - 1}, {2 * n_bytes})"
    digits = f"regexp_extract({field}, '^(?:20)*((?:3[0-9])+)(?:20)*$', 1)"
    return f"CAST(nullif(regexp_replace({digits}, '3([0-9])', '$1'), '') AS BIGINT)"


# --- one field table per format (SQL over __hdr) -----------------------------

BMP = {
    "__bmp": MAGIC["bmp"],
    "__bmp_off": _le(11, 4),
    "__bmp_hdr_size": _le(15, 4),
    "__bmp_w": _le(19, 4),
    # height is SIGNED i32: negative marks top-down row order (decode_image
    # honors it) — sign-extend, keep the magnitude
    "__bmp_h": f"abs({_le(23, 4)} - CASE WHEN {_le(23, 4)} >= {1 << 31}"
    f" THEN {1 << 32} ELSE 0 END)",
    "__bmp_planes": _le(27, 2),
    "__bmp_bpp": _le(29, 2),
    "__bmp_comp": _le(31, 4),
}

PPM = {
    "__ppm": MAGIC["ppm"],
    "__ppm_w": _ascii_int(4, 5),
    "__ppm_h": _ascii_int(10, 5),
    # decode_image reads only maxval 255, and only with the fixed layout's
    # separators between the fields: "P6\n%5d %5d\n255\n"
    "__ppm_255": _magic(b"255", 16),
    "__ppm_sep": " AND ".join(
        _magic(sep, off)
        for sep, off in ((b"\n", 3), (b" ", 9), (b"\n", 15), (b"\n", 19))
    ),
}

SGV1 = {
    "__sgv1": MAGIC["sgv1"],
    "__sgv1_w": _le(5, 2),
    "__sgv1_h": _le(7, 2),
    "__sgv1_n": _le(9, 2),
    "__sgv1_fps": _le(11, 1),
}

# audio_codec.HEADER: magic(4) codec(1) sr(u32le) n(u32le) freq(f32)
# amp(f32), then n u16le samples
SGA1 = {
    "__sga1": MAGIC["sga1"],
    "__sga1_codec": _le(5, 1),
    "__sga1_sr": _le(6, 4),
    "__sga1_n": _le(10, 4),
}


# --- one status rule per format family ---------------------------------------

_IMAGE_RULE = [
    {
        "__img_fmt": "CASE WHEN __bmp THEN 'bmp' WHEN __ppm THEN 'ppm' END",
        "__img_hdr_len": f"CASE WHEN __bmp THEN {BMP_HEADER_BYTES}"
        f" WHEN __ppm THEN {PPM_HEADER_BYTES} END",
        "__img_w": "CASE WHEN __bmp THEN __bmp_w WHEN __ppm THEN __ppm_w END",
        "__img_h": "CASE WHEN __bmp THEN __bmp_h WHEN __ppm THEN __ppm_h END",
        "__img_bpp": "CASE WHEN __bmp THEN __bmp_bpp WHEN __ppm THEN 24 END",
        "__img_variant_ok": "CASE WHEN __bmp THEN __bmp_bpp = 24"
        " AND __bmp_comp = 0 AND __bmp_planes = 1 AND __bmp_hdr_size >= 40"
        " ELSE __ppm_255 AND __ppm_sep END",
        # dims sanity, checked BEFORE any size product (MAX_DIM); 5 ascii
        # digits cap a PPM side at 99,999, so 3·w·h cannot overflow
        "__img_sane": f"CASE WHEN __bmp THEN __bmp_w BETWEEN 1 AND {MAX_DIM}"
        f" AND __bmp_h BETWEEN 1 AND {MAX_DIM} AND __bmp_off <= {MAX_DIM}"
        " ELSE coalesce(__ppm_w >= 1 AND __ppm_h >= 1, false) END",
    },
    {
        # the CASE keeps the product from ever evaluating on insane dims
        "__img_need": "CASE WHEN __img_sane THEN CASE WHEN __bmp"
        " THEN __bmp_off + ((3 * __img_w + 3) div 4) * 4 * __img_h"
        f" ELSE {PPM_HEADER_BYTES} + 3 * __img_w * __img_h END END",
    },
    {
        # decode_image's order: magic, header truncation, variant support
        # (incl. insane dims), payload truncation
        "__img_status": "CASE WHEN __blen IS NULL THEN 'null'"
        " WHEN __img_fmt IS NULL THEN 'bad_magic'"
        " WHEN __blen < __img_hdr_len THEN 'truncated'"
        " WHEN NOT (__img_variant_ok AND __img_sane) THEN 'unsupported'"
        " WHEN __blen < __img_need THEN 'truncated' ELSE 'ok' END",
    },
]

_VIDEO_RULE = [
    # u16 dims cap the size product at 65535³ < 2^48: no guard needed
    {"__vid_need": f"{VIDEO_HEADER_BYTES} + __sgv1_n * __sgv1_h * __sgv1_w"},
    {
        "__vid_status": "CASE WHEN __blen IS NULL THEN 'null'"
        f" WHEN __blen < {VIDEO_HEADER_BYTES} OR NOT __sgv1 THEN 'bad_magic'"
        " WHEN __blen < __vid_need THEN 'truncated' ELSE 'ok' END",
    },
]

_AUDIO_RULE = [
    {
        "__sga1_status": "CASE WHEN __blen IS NULL THEN 'null'"
        f" WHEN __blen < {SGA1_HEADER_BYTES} OR NOT __sga1 THEN 'bad_magic'"
        " WHEN __sga1_codec NOT IN (0, 1, 2) THEN 'bad_codec'"
        f" WHEN __blen < {SGA1_HEADER_BYTES} + 2 * __sga1_n THEN 'truncated'"
        " ELSE 'ok' END",
    },
]


def _header(bytes_col: str) -> dict:
    return {
        "__hdr": f"upper(hex(substring({bytes_col}, 1, {HEADER_BYTES})))",
        "__blen": f"CAST(length({bytes_col}) AS BIGINT)",
    }


def image_stages(bytes_col: str = "bytes") -> list:
    """BMP/PPM stages ending in ``__img_status`` (null | bad_magic |
    truncated | unsupported | ok) plus ``__img_fmt/_w/_h/_bpp/_need``."""
    return [_header(bytes_col), {**BMP, **PPM}, *_IMAGE_RULE]


def video_stages(bytes_col: str = "bytes") -> list:
    """SGV1 stages ending in ``__vid_status`` (null | bad_magic |
    truncated | ok) plus ``__sgv1_*`` fields and ``__vid_need``."""
    return [_header(bytes_col), SGV1, *_VIDEO_RULE]


def audio_stages(bytes_col: str = "bytes") -> list:
    """SGA1 stages ending in ``__sga1_status`` (null | bad_magic |
    bad_codec | truncated | ok) plus ``__sga1_*`` fields."""
    return [_header(bytes_col), SGA1, *_AUDIO_RULE]


def kind_stages(bytes_col: str = "bytes") -> list:
    """Magic sniff: ``__kind`` is one of MAGIC's keys, 'unknown' or 'null'."""
    kind = " ".join(f"WHEN {m} THEN '{k}'" for k, m in MAGIC.items())
    return [
        _header(bytes_col),
        {"__kind": f"CASE WHEN __blen IS NULL THEN 'null' {kind} ELSE 'unknown' END"},
    ]


def project(df: DataFrame, stages: list) -> DataFrame:
    """Apply ``stages`` as successive projections; every column a stage
    defines is appended to ``df``'s columns."""
    for stage in stages:
        df = df.select("*", *[F.expr(sql).alias(n) for n, sql in stage.items()])
    return df


def derived(stages: list) -> dict:
    """``stages`` flattened in order, for ``Shape.derived_columns`` (which
    the engine applies in order, so later columns read earlier ones)."""
    return {n: sql for stage in stages for n, sql in stage.items()}
