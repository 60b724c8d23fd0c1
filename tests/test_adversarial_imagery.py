"""Adversarial image/video robustness: malformed containers through every
imagery operator — lying headers (dims larger than the payload, zero or
negative dims, absurd allocation claims), wrong magic, truncated payloads,
random bytes, NULLs. Decoders must reject with ValueError (never crash,
never allocate what a hostile header claims); every Spark op must skip the
row (decode parity) and complete."""

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from shaclapi_spark.pipeline import imagery as im


def _good_bmp():
    return bytearray(im.encode_bmp(im.synth_pixels(5, 8, 6)))


def _good_ppm():
    return bytearray(im.encode_ppm(im.synth_pixels(6, 8, 6)))


def _good_vid():
    return bytearray(im.encode_video(im.synth_frames(4, 8, 6, 3)))


ADVERSARIAL_IMAGES = {
    "null": None,
    "empty": b"",
    "random": bytes(range(256)) * 4,
    "bad_magic": b"XX" + bytes(_good_bmp()[2:]),
    "truncated_hdr": bytes(_good_bmp()[:20]),
    "truncated_payload": bytes(_good_bmp()[:-10]),
    "ppm_truncated": bytes(_good_ppm()[:-10]),
}


def _bmp_with(w=None, h=None, bpp=None, comp=None, data_off=None,
              planes=None, hdr_size=None):
    b = _good_bmp()
    if w is not None:
        b[18:22] = struct.pack("<i", w)
    if h is not None:
        b[22:26] = struct.pack("<i", h)
    if bpp is not None:
        b[28:30] = struct.pack("<H", bpp)
    if comp is not None:
        b[30:34] = struct.pack("<I", comp)
    if data_off is not None:
        b[10:14] = struct.pack("<I", data_off)
    if planes is not None:
        b[26:28] = struct.pack("<H", planes)
    if hdr_size is not None:
        b[14:18] = struct.pack("<I", hdr_size)
    return bytes(b)


# hostile headers: every one must raise ValueError, and none may trigger
# an allocation anywhere near what the header claims
HOSTILE_HEADERS = {
    # claims a gigapixel image over a 198-byte payload
    "huge_w": _bmp_with(w=1 << 29),
    "huge_h": _bmp_with(h=1 << 29),
    "zero_w": _bmp_with(w=0),
    "zero_h": _bmp_with(h=0),
    "neg_w": _bmp_with(w=-8),
    "bpp8": _bmp_with(bpp=8),
    "bpp32": _bmp_with(bpp=32),
    "compressed": _bmp_with(comp=1),
    "data_off_past_end": _bmp_with(data_off=1 << 30),
    # planes != 1 / pre-BITMAPINFOHEADER hdr_size: decode_image rejects
    # these, so meta/SQL must too (round-4 advice — a row passing the
    # img_decodable constraint must never be skipped by the pixel ops)
    "planes0": _bmp_with(planes=0),
    "planes2": _bmp_with(planes=2),
    "core_hdr12": _bmp_with(hdr_size=12),
    "ppm_huge_dims": b"P6\n999999999 999999999\n255\n" + b"\x00" * 64,
    "ppm_zero_maxval": b"P6\n8 6\n0\n" + b"\x00" * (8 * 6 * 3),
    "ppm_no_dims": b"P6\n",
}


def test_hostile_image_headers_all_rejected():
    for name, blob in HOSTILE_HEADERS.items():
        with pytest.raises(ValueError):
            im.decode_image(blob)


def test_adversarial_images_rejected_or_null():
    for name, blob in ADVERSARIAL_IMAGES.items():
        with pytest.raises(ValueError):
            im.decode_image(blob)


def test_negative_height_topdown_bmp_decodes():
    # negative BMP height is the SPEC's top-down marker, not an attack —
    # the decoder must honor it (rows not flipped)
    pix = im.synth_pixels(5, 8, 6)
    b = bytearray(im.encode_bmp(pix))
    b[22:26] = struct.pack("<i", -6)
    rows = bytearray()
    for y in range(6):  # rewrite payload top-down
        rows += pix[y, :, ::-1].tobytes()
    blob = bytes(b[:54]) + bytes(rows)
    assert np.array_equal(im.decode_image(blob), pix)


def _vid_with(w=None, h=None, n=None):
    b = _good_vid()
    if w is not None:
        b[4:6] = struct.pack("<H", w)
    if h is not None:
        b[6:8] = struct.pack("<H", h)
    if n is not None:
        b[8:10] = struct.pack("<H", n)
    return bytes(b)


HOSTILE_VIDEOS = {
    "null": None,
    "empty": b"",
    "bad_magic": b"XXXX" + bytes(_good_vid()[4:]),
    "truncated": bytes(_good_vid()[:-10]),
    # header claims 65535 frames over a 3-frame payload
    "huge_n": _vid_with(n=65535),
    "huge_dims": _vid_with(w=65535, h=65535),
}


def test_hostile_videos_rejected():
    for name, blob in HOSTILE_VIDEOS.items():
        with pytest.raises(ValueError):
            im.decode_video(blob)
    # zero-frame video is structurally valid: empty frame list, no rows
    zf = _vid_with(n=0)[:11]
    hdr, frames = im.decode_video(zf)
    assert hdr["n_frames"] == 0 and len(frames) == 0


def test_all_image_ops_skip_adversarial_rows(spark):
    rows = [
        Row(img_id=name, bytes=bytes(b) if b is not None else None)
        for name, b in {**ADVERSARIAL_IMAGES, **HOSTILE_HEADERS}.items()
    ] + [Row(img_id="good", bytes=bytes(_good_bmp()))]
    df = spark.createDataFrame(
        rows,
        StructType(
            [StructField("img_id", StringType()), StructField("bytes", BinaryType())]
        ),
    )
    # metadata op classifies every row without raising
    meta = im.image_meta(df).collect()
    assert len(meta) == len(rows)
    assert {r["status"] for r in meta} <= {
        "null", "bad_magic", "truncated", "unsupported", "ok",
    }
    # pixel ops emit ONLY the good row
    for op in (
        im.image_pixel_stats(df),
        im.image_resize_stats(df, 4, 3),
        im.image_dhash(df),
    ):
        got = [r["img_id"] for r in op.collect()]
        assert got == ["good"], got


def test_all_video_ops_skip_adversarial_rows(spark):
    rows = [
        Row(vid_id=name, bytes=bytes(b) if b is not None else None)
        for name, b in HOSTILE_VIDEOS.items()
    ] + [Row(vid_id="good", bytes=bytes(_good_vid()))]
    df = spark.createDataFrame(
        rows,
        StructType(
            [StructField("vid_id", StringType()), StructField("bytes", BinaryType())]
        ),
    )
    meta = im.video_meta(df).collect()
    assert len(meta) == len(rows)
    for op in (
        im.video_frame_stats(df, every_n=1),
        im.video_fingerprint(df),
    ):
        got = {r["vid_id"] for r in op.collect()}
        assert got == {"good"}, got


def test_dhash_join_plan_no_cartesian(spark):
    # the pair join must be a bounded equi-join (chunk, ckey) — never a
    # cartesian/broadcast-nested-loop product
    rows = [
        Row(img_id=f"i{k}", bytes=im.encode_bmp(im.synth_pixels(k, 8, 6)))
        for k in range(12)
    ]
    df = spark.createDataFrame(rows)
    out = im.dhash_neardups(df, max_hamming=2)
    # localCheckpoint already executed the plan; re-derive it un-executed
    sig = im.image_dhash(df)
    from pyspark.sql import functions as F

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_review_hostile_cases_meta_and_sql(spark):
    # round-4 review repros: combined huge dims (w*h*3 passes int64 —
    # must not ARITHMETIC_OVERFLOW the job), non-UTF-8 bytes behind a P6
    # magic (must not MALFORMED_CHARACTER_CODING), zero dims (must not
    # classify 'ok'), and a spec-conforming top-down BMP (must classify
    # 'ok' with the POSITIVE height, not a 4-billion u32)
    from pyspark.sql import functions as SF

    pix = im.synth_pixels(5, 8, 6)
    topdown = bytearray(im.encode_bmp(pix))
    topdown[22:26] = struct.pack("<i", -6)
    rows_td = bytearray()
    for y in range(6):
        rows_td += pix[y, :, ::-1].tobytes()
    cases = {
        "huge_both": _bmp_with(w=(1 << 31) - 1, h=(1 << 30)),
        "p6_binary_hdr": b"P6\n" + b"\xff\xfe\xf0\x90" * 8,
        "zero_w2": _bmp_with(w=0),
        "zero_h2": _bmp_with(h=0),
        "planes0": _bmp_with(planes=0),
        "planes2": _bmp_with(planes=2),
        "core_hdr12": _bmp_with(hdr_size=12),
        "topdown": bytes(topdown[:54]) + bytes(rows_td),
        "good": bytes(_good_bmp()),
    }
    df = spark.createDataFrame(
        [Row(img_id=k, bytes=v) for k, v in cases.items()],
        StructType(
            [StructField("img_id", StringType()), StructField("bytes", BinaryType())]
        ),
    )
    meta = {r["img_id"]: r for r in im.image_meta(df).collect()}
    assert meta["huge_both"]["status"] == "unsupported"
    assert meta["p6_binary_hdr"]["status"] in ("unsupported", "truncated")
    assert meta["zero_w2"]["status"] == "unsupported"
    assert meta["zero_h2"]["status"] == "unsupported"
    assert meta["planes0"]["status"] == "unsupported"
    assert meta["planes2"]["status"] == "unsupported"
    assert meta["core_hdr12"]["status"] == "unsupported"
    assert meta["good"]["status"] == "ok"
    # top-down: decodable, and the reported height is the magnitude
    assert meta["topdown"]["status"] == "ok"
    assert meta["topdown"]["height"] == 6
    # the image suite's derived columns (the engine-constraint path,
    # applied in order as the engine does) agree with decode_image on
    # every row
    from shaclapi_spark import fixtures

    dm = df.withColumn("meta_w", SF.lit(8)).withColumn("meta_h", SF.lit(6))
    for name, sql in fixtures.image_shape().derived_columns.items():
        dm = dm.withColumn(name, SF.expr(sql))
    derived = {
        r["img_id"]: r
        for r in dm.select("img_id", "__img_ok", "__img_dims_ok").collect()
    }
    ok = {k: r["__img_ok"] for k, r in derived.items()}
    for k, blob in cases.items():
        try:
            im.decode_image(blob)
            decodable = True
        except ValueError:
            decodable = False
        assert ok[k] == decodable, (k, ok[k], decodable)
    # dims match honors the top-down magnitude
    match = {k: r["__img_dims_ok"] for k, r in derived.items()}
    assert match["topdown"] is True and match["good"] is True


# PPM headers whose dimension fields do not sit at the fixed-width offsets
# the header rule reads (``P6\n%5d %5d\n255\n``): the rule cannot follow a
# variable-width layout, so it must reject the row, never read wrong dims
MISALIGNED_PPM = {
    # decodable 1x1: the fixed offsets see "1 1\n2" and "5\n\0\0\0"
    "ppm_1x1_variable": b"P6\n1 1\n255\n" + bytes(20000),
    # digits split by spaces: decode_image raises
    "ppm_split_digits": b"P6\n 6 4    48\n255\n" + bytes(40000),
}
# fixed-width, but maxval 0: decode_image reads only maxval 255
BAD_MAXVAL_PPM = {"ppm_maxval_0": b"P6\n    8     6\n  0\n" + bytes(144)}
# fixed-width fields, but a wrong byte between them: decode_image raises
BAD_SEPARATOR_PPM = {
    "ppm_sep_after_w": b"P6\n    8X    6\n255\n" + bytes(144),
    "ppm_sep_after_maxval": b"P6\n    8     6\n255X" + bytes(144),
}


def test_misaligned_ppm_headers_fail_closed(spark):
    from pyspark.sql import functions as SF

    from shaclapi_spark import fixtures

    cases = {**MISALIGNED_PPM, **BAD_MAXVAL_PPM, **BAD_SEPARATOR_PPM}
    df = spark.createDataFrame(
        [Row(img_id=k, bytes=v) for k, v in cases.items()],
        StructType(
            [StructField("img_id", StringType()), StructField("bytes", BinaryType())]
        ),
    )
    meta = {r["img_id"]: r for r in im.image_meta(df).collect()}
    dm = df.withColumn("meta_w", SF.lit(1)).withColumn("meta_h", SF.lit(1))
    for name, sql in fixtures.image_shape().derived_columns.items():
        dm = dm.withColumn(name, SF.expr(sql))
    derived = {r["img_id"]: r for r in dm.collect()}
    for k in cases:
        assert meta[k]["status"] == "unsupported", (k, meta[k])
        assert derived[k]["__img_status"] == "unsupported", k
        assert derived[k]["__img_ok"] is False, k
    for k in MISALIGNED_PPM:
        assert meta[k]["width"] is None and meta[k]["height"] is None
    with pytest.raises(ValueError, match="unsupported PPM variant"):
        im.decode_image(BAD_MAXVAL_PPM["ppm_maxval_0"])
    for blob in BAD_SEPARATOR_PPM.values():
        with pytest.raises(ValueError):
            im.decode_image(blob)


def _ppm_field_ref(field: bytes):
    """The PPM dimension-field rule in Python: space padding around one
    run of ASCII digits, else None."""
    s = field.strip(b" ")
    return int(s) if s.isdigit() else None


def _ppm_fields(spark, blobs: list) -> list:
    from shaclapi_spark.pipeline import headers

    df = spark.createDataFrame(
        [Row(i=i, bytes=b) for i, b in enumerate(blobs)],
        StructType(
            [StructField("i", IntegerType()), StructField("bytes", BinaryType())]
        ),
    )
    rows = headers.project(df, headers.image_stages()).select(
        "i", "__ppm_w", "__ppm_h"
    )
    return [(r["__ppm_w"], r["__ppm_h"]) for r in sorted(rows.collect())]


_PPM_FIELD = st.one_of(
    st.lists(
        st.sampled_from([bytes([c]) for c in b"0123456789 \n\x00\xffx"]),
        min_size=5,
        max_size=5,
    ).map(b"".join),
    st.integers(0, 99999).map(lambda v: b"%5d" % v),
    st.integers(0, 99999).map(lambda v: b"%-5d" % v),
)


@given(
    blobs=st.lists(
        st.tuples(_PPM_FIELD, _PPM_FIELD, st.integers(3, 20)),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=20, deadline=None)
def test_ppm_field_rule_matches_reference(spark, blobs):
    """``__ppm_w`` / ``__ppm_h`` equal the Python rule on arbitrary 5-byte
    fields, also when the blob ends inside a field."""
    full = [(b"P6\n" + w + b" " + h + b"\n255\n", cut) for w, h, cut in blobs]
    cut = [b[:n] for b, n in full]
    want = [(_ppm_field_ref(b[3:8]), _ppm_field_ref(b[9:14])) for b in cut]
    assert _ppm_fields(spark, cut) == want


@given(dims=st.lists(st.tuples(st.integers(0, 99999), st.integers(0, 99999)),
                     min_size=1, max_size=60))
@settings(max_examples=10, deadline=None)
def test_ppm_fixed_width_header_dims(spark, dims):
    blobs = [b"P6\n%5d %5d\n255\n" % (w, h) for w, h in dims]
    assert _ppm_fields(spark, blobs) == dims
